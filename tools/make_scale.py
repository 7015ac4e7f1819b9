"""Scale-rehearsal fixture generator (round-3 verdict item 3).

Replicates /root/testdata/sf0.1 N× into /tmp/gordo_sf_scale/sfX so the
heavy operators can be measured one decade above the driver's bench SF —
catching super-linear blowups (broadcast build sides, O(block²) pair
probes, skewed shuffles) empirically instead of arguing from plans.

Scale model: each replica gets DISTINCT block keys — new `source`s for
documents, new `label`s for embeddings, new `user_id` machines for
events — because real corpora grow in block COUNT, not block size.
Blocked pair generators (Jaccard, MinHash, embed-cos) therefore scale
linearly, which is exactly the property the rehearsal must verify; a
replica scheme that fattened each block 10× would impose quadratic
work no real 10× corpus has.  Relational keys (orderkey/custkey/
partkey/suppkey) are offset consistently so every TPC-H join still
matches within a replica.

Usage: python tools/make_scale.py [factor] [src_sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gordo_components_spark.session import get_spark

OFF = 100_000_000  # key offset per replica — far above any sf0.1 key

# per-table key columns to offset by replica*OFF (join consistency)
KEY_OFFSETS = {
    "customer": ["c_custkey", "c_nationkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# nationkey offsets would break the nation dim join — keep dims intact
KEY_OFFSETS["customer"] = ["c_custkey"]
KEY_OFFSETS["supplier"] = ["s_suppkey"]

# block-key columns rewritten to per-replica values (new blocks, not
# fatter blocks)
BLOCK_KEYS = {
    "documents": "source",
    "embeddings": "label",
}

DIMS = ("region", "nation")  # copied once, never replicated


def scale_table(
    spark, src_dir: str, out_dir: str, name: str, factor: int,
    distinct_content: bool = False,
) -> None:
    df = spark.read.parquet(f"{src_dir}/{name}.parquet")
    out = f"{out_dir}/{name}.parquet"
    if name in DIMS:
        df.write.mode("overwrite").parquet(out)
        return
    parts = []
    for r in range(factor):
        rep = df
        for col in KEY_OFFSETS.get(name, []):
            rep = rep.withColumn(col, F.col(col) + F.lit(r * OFF))
        if name == "events":
            # distinct machines per replica: the flagship partitions by
            # machine, and machine count is what grows at scale
            rep = rep.withColumn("user_id", F.col("user_id") + F.lit(r * 100_000))
        if r > 0 and name in BLOCK_KEYS:
            bk = BLOCK_KEYS[name]
            if dict(df.dtypes)[bk] == "string":
                rep = rep.withColumn(bk, F.concat(F.col(bk), F.lit(f"_r{r}")))
            else:
                rep = rep.withColumn(bk, F.col(bk) + F.lit(r * 1000))
        if distinct_content and r > 0 and name == "documents":
            # CONTENT-distinct replicas (--distinct-content): verbatim
            # text copies make every content-keyed blocker (MinHash
            # buckets, digests, shingles) collide ACROSS replicas — a
            # 100x copy-replica is a 99%-duplicate corpus whose true
            # near-dup pair count is itself quadratic in the replica
            # factor, so the rehearsal would measure output-size
            # pathology, not plan scaling.  A replica marker token
            # inserted before every 2nd token puts >=1 marker in every
            # word-3-gram: all shingles (and signatures, digests)
            # become replica-distinct while vocabulary grows by only
            # ONE token per replica (real corpora grow sub-linearly in
            # vocab).  n_chars is recomputed to stay consistent.
            marked = (
                "concat_ws(' ', flatten(transform(split(text, ' '), "
                f"(t, i) -> CASE WHEN i % 2 = 0 THEN array('zr{r}q', t) "
                "ELSE array(t) END)))"
            )
            rep = rep.withColumn("text", F.expr(marked)).withColumn(
                "n_chars", F.length("text").cast(dict(df.dtypes)["n_chars"])
            )
        if distinct_content and r > 0 and name == "embeddings":
            # deterministic per-replica direction offset (~0.85 relative
            # to the unit vectors) drops replica-copy cosines to ~0.76 —
            # below every near-dup threshold — so embedding blockers see
            # new content, not 100 coincident copies
            rep = rep.withColumn(
                "embedding",
                F.expr(
                    "transform(embedding, (x, i) -> CAST(x + 0.15 * "
                    f"sin((i + 1) * ({r} + 0.7)) AS FLOAT))"
                ),
            )
        parts.append(rep)
    full = parts[0]
    for p in parts[1:]:
        full = full.unionByName(p)
    full.repartition(max(32, factor * 4)).write.mode("overwrite").parquet(out)


def main() -> None:
    distinct = "--distinct-content" in sys.argv
    argv = [a for a in sys.argv[1:] if a != "--distinct-content"]
    factor = int(argv[0]) if len(argv) > 0 else 10
    src = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    suffix = "d" if distinct else ""
    out = argv[2] if len(argv) > 2 else f"/tmp/gordo_sf_scale/sf{factor}x{suffix}"
    spark = get_spark("gordo-make-scale")
    os.makedirs(out, exist_ok=True)
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"):
        scale_table(spark, src, out, name, factor, distinct_content=distinct)
        n = spark.read.parquet(f"{out}/{name}.parquet").count()
        print(f"{name}: {n} rows")
    # source fingerprint: scale_bench refuses a replica built from a
    # DIFFERENT sf0.1 than the one it measures against (the driver
    # regenerates testdata between rounds — without this the rehearsal
    # would compare a fresh denominator to a stale numerator)
    import json

    from gordo_components_spark.caches import footer_rows

    fp = {
        "src": src,
        "factor": factor,
        "distinct_content": distinct,
        "rows": {t: footer_rows(src, t) for t in ("events", "documents", "lineitem")},
    }
    with open(os.path.join(out, "_SRC_FP.json"), "w") as fh:
        json.dump(fp, fh)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

"""Deduplication extension operators (SURVEY §2.11 E1/E2 + BASELINE.json
mandate: exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine).

These are the LLM-training-pipeline operators the north star adds beyond
the reference.  Scale design: every candidate-pair generator BLOCKS
before it joins — exact dedup blocks on the content hash, Jaccard on
(source, length-bucket), MinHash on LSH band buckets, embedding near-dup
on LSH-ish sign buckets — so no self-join is ever O(n²) over the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_components_spark.caches import persist_tracked
from gordo_components_spark.operators.relational import _fshift, _fshift_col
from gordo_components_spark.registry import register, register_sql
from gordo_components_spark.sources.tables import load_table, spread_scan


register_sql(
    "ext_dedup_exact",
    """
    WITH doubled AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
    )
    SELECT md5(text) AS text_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM doubled
    GROUP BY md5(text)
    """,
    doc="""E1 exact dedup: hash-groupBy on content digest, keep the lowest id
    (deterministic survivor).  The fixture corpus is duplicate-free, so an
    offset copy is unioned in to make every group size 2.  At 100 TB this
    is one shuffle on the digest — the digest (not the text) is the
    shuffle key, so wide rows don't inflate the exchange.""",
)


# Word-3-gram shingle set.  The token array is BOUND ONCE as a lambda
# variable (transform over a 1-element wrapper array): naming split(...)
# inline in the position lambda re-tokenizes the whole document per
# shingle position — O(n²) per doc, measured 7× slower at sf0.1.
# The size(t) >= 3 guard is load-bearing: sequence(0, size-3) goes
# DESCENDING for shorter docs (e.g. [0, -1]) and slice(t, 0, 3) then
# throws INVALID_PARAMETER_VALUE.START — one 2-token document would
# kill the whole job, where the DuckDB oracles yield an empty list.
# Round-9 (decade2 flattening, verdict item 1): shingles are 64-bit
# xxhash64 digests of the word 3-grams, hashed AT CREATION — no
# concat_ws string build, no string array_distinct, and every
# downstream set op (array_distinct here, array_intersect/array_union
# in the verify joins) runs the primitive-long fast path instead of
# string comparisons; the persisted shingle payload drops from ~25 to
# 8 bytes per gram.  Measured at the 100× replica: the shingle pass
# fell 26–30 s → 1.4–1.7 s with IDENTICAL per-doc distinct counts.
# Jaccard over hashed grams equals string-gram jaccard up to 64-bit
# collisions (~n²/2⁶⁵ ≈ 0 at any real corpus), which the recall ring
# (tests/test_lsh_recall.py) cross-checks against the string-gram
# exact face at 1e-9.  Minhash signatures hash the DIGEST with the
# seed (xxhash64(digest, i)) — as valid a "permutation" family as
# hashing the string, and still a pure function of the text.
_SHINGLES = (
    "transform(array(split(text, ' ')), t -> CASE WHEN size(t) >= 3 THEN "
    "array_distinct(transform(sequence(0, size(t) - 3), "
    "i -> xxhash64(element_at(t, i + 1), element_at(t, i + 2), "
    "element_at(t, i + 3)))) "
    "ELSE CAST(array() AS ARRAY<BIGINT>) END)[0]"
)


@register(
    "ext_dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source, CAST(n_chars // 100 AS INT) AS len_bucket,
             list_distinct([array_to_string(string_split(text,' ')[i:i+2], ' ')
                            FOR i IN range(1, len(string_split(text,' ')) - 1)]) AS shingles
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_fshift('''CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shingles, b.shingles)))''', 'jaccard')}
    FROM sh a JOIN sh b
      ON a.source = b.source AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(a.shingles, b.shingles))) > 0.01
    """,
    tags=("bench",),
)
def ext_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup with blocking: pairs only form inside
    a (source, length-bucket) block, so candidate generation stays linear
    in block sizes instead of O(n²) over the corpus — the blocking key is
    the shuffle key.

    Round-6 shape change (same move that fixed semantic dedup's worst
    rehearsal ratio): the SQL pair self-join evaluated interpreted
    ``array_intersect``/``array_union`` per candidate pair (~1.2M pairs
    at the 10× replica — pure per-pair constant, no skew to salt: block
    sizes are bounded by design, the 10× corpus just has 10× more
    blocks).  One Arrow island per block instead gets ALL pairwise
    intersection counts from a vocabulary-chunked binary matmul
    (|A∪B| = |A|+|B|−|A∩B|), emitting only pairs above the floor —
    never materializing the full doc×shingle matrix (memory is bounded
    by nonzeros + b², not b×|vocab|).  Values are exact: integer counts, one
    int/int→double division identical across engines, floor-shift
    rounding Spark-side.  The corpus shuffles ONCE on the block key
    (raw text on the wire, shingling inside the island), and per-group
    memory is bounded by the block size the key design already bounds."""
    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    # explicit numPartitions exempts the exchange from AQE coalescing
    # (tiny-bytes / heavy-compute shuffle) and satisfies the grouped-map
    # clustering, so applyInPandas adds no second exchange
    n = spark.sparkContext.defaultParallelism
    blocked = docs.select(
        "doc_id",
        "source",
        (F.col("n_chars") / 100).cast("int").alias("len_bucket"),
        "text",
    ).repartition(n, "source", "len_bucket")

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic: sort by doc_id so i<j <=> doc_a < doc_b
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        ids = pdf["doc_id"].to_numpy()
        # word-3-gram distinct shingles — same semantics as the oracle's
        # string_split slices (docs under 3 tokens have no shingles)
        vocab: dict = {}
        rows, cols = [], []
        for i, text in enumerate(pdf["text"]):
            toks = text.split(" ")
            if len(toks) < 3:
                continue
            for s in {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}:
                rows.append(i)
                cols.append(vocab.setdefault(s, len(vocab)))
        b = len(ids)
        if b < 2 or not vocab:
            return pd.DataFrame({"doc_a": pd.Series(dtype="int64"),
                                 "doc_b": pd.Series(dtype="int64"),
                                 "jac_raw": pd.Series(dtype="float64")})
        # The intersection matmul is column-chunked over the shingle
        # vocabulary: a dense int64 doc x |vocab| matrix costs b*V*8
        # bytes (hundreds of MB for a few-thousand-doc block with tens
        # of thousands of distinct 3-grams — the block key bounds doc
        # COUNT, not vocabulary), so only a b x CHUNK float32 slab is
        # ever materialized, rebuilt per chunk straight from the COO
        # lists.  float32 sgemm is exact here: 0/1 products, partial
        # counts <= CHUNK < 2^24, and BLAS beats numpy's non-BLAS
        # integer matmul anyway.  Peak memory ~ nnz + b*CHUNK*4 + b*b*8.
        rows_a = np.asarray(rows, dtype=np.int64)
        cols_a = np.asarray(cols, dtype=np.int64)
        sizes = np.bincount(rows_a, minlength=b)
        order = np.argsort(cols_a, kind="stable")
        rows_s, cols_s = rows_a[order], cols_a[order]
        V = len(vocab)
        CHUNK = 8192
        inter = np.zeros((b, b), dtype=np.int64)
        start = 0
        for c0 in range(0, V, CHUNK):
            c1 = min(c0 + CHUNK, V)
            end = int(np.searchsorted(cols_s, c1, side="left"))
            slab = np.zeros((b, c1 - c0), dtype=np.float32)
            slab[rows_s[start:end], cols_s[start:end] - c0] = 1.0
            inter += (slab @ slab.T).astype(np.int64)
            start = end
        union = sizes[:, None] + sizes[None, :] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = inter / union  # 0/0 -> nan, excluded by the > floor below
        iu, ju = np.triu_indices(b, k=1)
        keep = jac[iu, ju] > 0.01
        return pd.DataFrame({
            "doc_a": ids[iu[keep]],
            "doc_b": ids[ju[keep]],
            "jac_raw": jac[iu, ju][keep],
        })

    mined = blocked.groupBy("source", "len_bucket").applyInPandas(
        block_pairs, "doc_a long, doc_b long, jac_raw double"
    )
    # floor-shift, not round(): |intersect|/|union| is a
    # small-denominator rational — exactly the half-tie-prone shape
    # where the engines' round() algorithms can diverge (CLAUDE.md)
    return mined.select(
        "doc_a", "doc_b", _fshift_col(F.col("jac_raw")).alias("jaccard")
    )


@register(
    "ext_dedup_components",
    oracle="""
    WITH RECURSIVE doubled AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
    ), pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM doubled a JOIN doubled b
        ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    ), edges AS (
      SELECT u AS a, v AS b FROM pairs
      UNION ALL
      SELECT v AS a, u AS b FROM pairs
    ), reach(src, dst) AS (
      SELECT doc_id, doc_id FROM doubled
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc_id,
           MIN(dst) AS component,
           CAST(src = MIN(dst) AS BOOLEAN) AS is_survivor
    FROM reach GROUP BY src
    """,
)
def ext_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: candidate pairs (here: exact-hash
    matches over the union-doubled corpus) become an undirected graph;
    connected components assign every doc its cluster's minimum id and
    one survivor per cluster — the final step of every corpus-scale
    dedup pipeline (pairs alone don't dedup transitive chains a~b~c).

    Spark: iterative min-label propagation to fixpoint (components here
    have tiny diameter, so 2–3 joins; the billion-edge form is the same
    loop with checkpointing — GraphFrames/Pregel in library form).
    Oracle: recursive-CTE transitive closure, same fixpoint.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    hashed = doubled.select("doc_id", F.md5("text").alias("h"))
    a, b = hashed.alias("a"), hashed.alias("b")
    pairs = a.join(
        b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v"))
    edges = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("a"), F.col("v").alias("b"))

    labels = doubled.select("doc_id", F.col("doc_id").alias("component"))
    edges = persist_tracked(edges)
    labels = min_label_propagation(labels, edges, max_iters=10)
    edges.unpersist()  # loop done: only the final labels stay cached, and
    # they back the returned plan
    return labels.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("is_survivor"),
    )


def min_label_propagation(
    labels: DataFrame,
    edges: DataFrame,
    max_iters: int = 10,
    checkpoint_every: int = 0,
) -> DataFrame:
    """Min-label propagation to fixpoint over ``labels(doc_id, component)``
    and directed ``edges(a, b)`` (callers supply both edge directions).

    Each iteration every node takes the min of its own label and its
    neighbors' labels — the min travels one hop per iteration, so
    convergence takes ``diameter`` iterations.

    ``checkpoint_every=k > 0`` truncates lineage with an eager
    ``localCheckpoint()`` every k iterations.  On deep graphs
    (diameter ≫ k) the iterative plan otherwise grows linearly with the
    iteration count — every generation stacks a join+agg on the last —
    until Catalyst analysis time and DAG-scheduler recursion dominate or
    blow the stack.  Checkpointing rebases generation t's plan on a
    materialized RDD, bounding plan depth at k joins regardless of
    diameter; this is the billion-edge cadence (GraphFrames does the
    same every ~3 Pregel rounds).  Superseded generations are unpersisted
    as soon as the next one materializes."""
    labels = persist_tracked(labels)
    for it in range(1, max_iters + 1):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["doc_id"])
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                "component", F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
        )
        if checkpoint_every and it % checkpoint_every == 0:
            updated = updated.localCheckpoint(eager=True)  # lineage cut
        else:
            updated = persist_tracked(updated)
        changed = (
            updated.join(labels.withColumnRenamed("component", "old"), "doc_id")
            .where(F.col("component") != F.col("old"))
            .count()
        )
        labels.unpersist()  # release the superseded generation (no-op on gen 0)
        labels = updated
        if changed == 0:
            break
    else:
        # the loop exhausted max_iters while labels were still moving:
        # returning here would silently hand back PARTIAL components
        # (same-component docs with different ids — transitive dups both
        # marked survivors, the exact failure this operator prevents)
        raise RuntimeError(
            f"min_label_propagation did not converge in {max_iters} iterations "
            f"({changed} labels still changing); the graph diameter exceeds "
            "max_iters — raise max_iters or checkpoint_every cadence"
        )
    return labels


_N_HASHES = 16
_BAND_SIZE = 4


def _band_buckets(sh: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH keys from a (doc_id, shingles) frame —
    ONE definition shared by the batch MinHash face and the incremental
    fuzzy-dedup index so the two can never drift apart.  All 16 minima
    come from ONE aggregate pass over the shingle array (the 16 separate
    array_min(transform(...)) form materializes 16 full hash arrays per
    row; the fold keeps a 16-long accumulator instead — measured ~40%
    faster, identical values: same xxhash64(s, i) inputs)."""
    sig_expr = (
        f"aggregate(shingles, "
        f"array_repeat(cast(9223372036854775807 as bigint), {_N_HASHES}), "
        f"(acc, s) -> zip_with(acc, sequence(0, {_N_HASHES - 1}), "
        f"(m, i) -> least(m, xxhash64(s, i))))"
    )
    sigs = sh.select("doc_id", F.expr(sig_expr).alias("mins"))
    band_hashes = [
        F.xxhash64(*[F.col("mins")[band * _BAND_SIZE + j] for j in range(_BAND_SIZE)])
        for band in range(_N_HASHES // _BAND_SIZE)
    ]
    return sigs.select(
        "doc_id", F.posexplode(F.array(*band_hashes)).alias("band", "bucket")
    )


@register("ext_dedup_minhash", oracle=None, tags=("bench",))
def ext_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 MinHash+LSH near-dup (rows-only: hash permutations aren't
    reproducible in the oracle).  Pipeline: shingle → 16 xxhash64
    "permutations" → min per permutation → 4 bands of 4 → band-bucket
    join → verified Jaccard on candidates.  This is the 100 TB near-dup
    path: the only join is on (band, bucket-signature), candidates are a
    vanishing fraction of all pairs.  MLlib's MinHashLSH/approxSimilarityJoin
    is the library form; this stays in native exprs (no vector UDT).

    Determinism: xxhash64 is a fixed function of (shingle, seed), so the
    whole plan is reproducible run-to-run — asserted in tests.

    Plan shape (the 100 TB invariants, asserted in
    tests/test_plan_properties.py::test_minhash_single_scan_no_corpus_broadcast):

    - ONE documents scan: the shingled frame is persisted and reused by
      the signature pass and both verification legs (the naive form
      re-scans and re-hashes the corpus once per band per side — 8×).
    - The band-bucket frame carries only (doc_id, band, bucket) — the
      shingle arrays never ride through the explode or the self-join.
    - The candidate probe is a shuffled equi-join on (band, bucket),
      never a broadcast of the banded corpus (same impossibility as the
      Jaccard build side at scale).  Candidate pairs ARE a vanishing
      fraction, so broadcasting them into the verify joins is fine."""
    docs = load_table(spark, sf_dir, "documents")
    # the shingled corpus (8-byte digests per gram since round 9, ~the
    # text's own size): persisted at the configured operator level
    # (SPARK_GRAFT_CACHE_LEVEL, docs/SCALE.md) and released via
    # caches.release_caches()
    sh = persist_tracked(
        docs.select("doc_id", F.expr(_SHINGLES).alias("shingles")).where(
            F.size("shingles") > 0
        )
    )
    # persist the banded frame (4 narrow rows per doc): BOTH self-join
    # sides read it, and without the persist each side re-runs the
    # 16-hash signature fold over every shingle array — the fold is the
    # dominant CPU term, measured ~2× the whole candidate stage when
    # evaluated twice (round-9 profile at the 100× replica)
    slim = persist_tracked(_band_buckets(sh))
    a, b = slim.alias("a"), slim.alias("b")
    cand = (
        a.join(
            b.hint("SHUFFLE_HASH"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(sha, "doc_a")
        .join(shb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            _fshift_col(jac).alias("jaccard"),
        )
    )


_SIMHASH_BITS = 32


@register("ext_dedup_simhash", oracle=None)
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints (rows-only): per token a 32-bit
    xxhash64-derived hash votes ±1 on each bit position; the sign vector
    is the fingerprint.  Near-dups differ in few bits (Hamming ≤ 3 via
    a 4-block exact-match index at scale — Manku et al., WWW'07).
    Emitted: doc_id, simhash as bigint, plus its 4 sub-bands (the
    block-permuted index keys)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("tokens"))
    # per-bit vote: sum over tokens of (bit set ? 1 : -1); bit = 1 if
    # sum > 0.  ONE hash per token and ONE fold per document: tokens are
    # hashed once into an array<long>, then a single aggregate carries a
    # 32-counter accumulator (zip_with per element).  The previous form
    # ran 32 independent aggregate() folds — every token hashed and the
    # array traversed 32x (the same redundancy the MinHash signature
    # fold eliminated, review-flagged here).
    votes = (
        "aggregate(transform(tokens, t -> xxhash64(t)), "
        f"array_repeat(CAST(0 AS BIGINT), {_SIMHASH_BITS}), "
        "(acc, h) -> zip_with(acc, sequence(0, %d), "
        "(a, b) -> a + CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END))"
        % (_SIMHASH_BITS - 1)
    )
    bits = (
        f"aggregate(zip_with({votes}, sequence(0, {_SIMHASH_BITS - 1}), "
        "(v, b) -> CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), b) "
        "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    sim = toks.select("doc_id", F.expr(bits).alias("simhash"))
    return sim.select(
        "doc_id",
        "simhash",
        *[
            F.expr(f"(simhash >> {8 * j}) & 255").alias(f"band{j}")
            for j in range(4)
        ],
    )


@register(
    "ext_dedup_embed_cos",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.30
    """,
)
def ext_dedup_embed_cos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (stand-in for an
    ANN/LSH bucket at scale; the fixture's labels are the partition key).
    Dot products fold left-to-right in both engines; output rounded."""
    emb = load_table(spark, sf_dir, "embeddings")
    dot = "aggregate(zip_with(a_v, b_v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    e = emb.select(
        "vec_id",
        "label",
        F.col("embedding").alias("v"),
        F.sqrt(
            F.expr(
                "aggregate(zip_with(embedding, embedding, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            )
        ).alias("nrm"),
    )
    # r14: the per-pair dot evaluates in the PROBE side's scan stage (the
    # label join broadcasts the build side), and a single small parquet
    # file is ONE split — spread_scan keeps the O(pairs · dim) fold
    # parallel without changing a single row (no-op once the scan has
    # >= parallelism splits at real scale)
    a, b = spread_scan(e).alias("a"), e.alias("b")
    pairs = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.col("a.v").alias("a_v"),
        F.col("b.v").alias("b_v"),
        (F.col("a.nrm") * F.col("b.nrm")).alias("nn"),
    )
    cos = F.round(F.expr(dot) / F.col("nn"), 6)
    return pairs.select("vec_a", "vec_b", cos.alias("cosine")).where(F.col("cosine") >= 0.30)


_SUBSTR_K = 8  # tokens per exact-substring shingle


def _substring_spans(spark: SparkSession, sf_dir: str):
    """Shared span index for the substring-dedup family: (toks, spans)
    where spans = (doc_id, pos, g) — g a 16-hex md5 digest of the
    {K}-token shingle starting at 0-based token position pos.  The spans
    frame is persisted: the census, the rejoin, and the cut all probe
    it."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    grams = F.expr(
        f"transform(sequence(0, size(t) - {_SUBSTR_K}),"
        f" i -> substr(md5(concat_ws(' ', slice(t, i + 1, {_SUBSTR_K}))), 1, 16))"
    )
    # r14: the per-gram md5 fold evaluates in the scan stage while the
    # persist materializes, and a single-file documents scan is ONE
    # split — spread before shingling so the digest math parallelizes
    # (no-op once the corpus scan has >= parallelism splits; see
    # sources.tables.spread_scan).  ``toks`` itself stays unspread: its
    # consumers do their real work post-exchange.
    spans = persist_tracked(
        spread_scan(docs)
        .select("doc_id", F.split("text", " ").alias("t"))
        .where(F.size("t") >= _SUBSTR_K)
        .select("doc_id", F.posexplode(grams).alias("pos", "g"))
    )
    return toks, spans


@register(
    "ext_dedup_substring",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), spans AS (
      SELECT doc_id,
             substr(md5(array_to_string(t[i.i + 1 : i.i + {_SUBSTR_K}], ' ')), 1, 16) AS g
      FROM toks, UNNEST(generate_series(0, len(t) - {_SUBSTR_K})) i(i)
      WHERE len(t) >= {_SUBSTR_K}
    ), gd AS (
      SELECT g FROM spans GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1
    ), dup AS (
      SELECT doc_id, COUNT(*) AS n_dup_spans
      FROM spans JOIN gd USING (g)
      GROUP BY doc_id
    )
    SELECT toks.doc_id,
           CAST(GREATEST(len(toks.t) - {_SUBSTR_K} + 1, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(dup.n_dup_spans, 0) AS BIGINT) AS n_dup_spans
    FROM toks LEFT JOIN dup ON toks.doc_id = dup.doc_id
    """,
)
def ext_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/E2 exact SUBSTRING duplication — the span-granular dedup signal
    pretraining pipelines run after doc-level dedup (a doc can be unique
    while half its content is boilerplate copied across the corpus):
    per doc, how many of its {_SUBSTR_K}-token shingle positions repeat
    in at least one OTHER document.  Downstream, spans with
    ``n_dup_spans/n_spans`` above a threshold get cut or down-weighted.

    Scale shape: shingles travel as 16-hex-char md5 digests (fixed-width
    shuffle keys, never the raw token windows — same convention as exact
    dedup); one groupBy(gram) with a distinct-doc count finds cross-doc
    repeats; the rejoin is gram-keyed (no pair blowup — unlike pair
    similarity, span dedup needs no quadratic join at all).  All counts
    are integers, so the oracle matches bit-exactly."""
    toks, spans = _substring_spans(spark, sf_dir)
    gd = (
        spans.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("g")
    )
    dup = (
        spans.join(gd, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    return (
        toks.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.greatest(F.size("t") - _SUBSTR_K + 1, F.lit(0))
            .cast("bigint")
            .alias("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("bigint").alias("n_dup_spans"),
        )
    )


@register(
    "ext_dedup_substring_cut",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), spans AS (
      SELECT doc_id, i.i AS pos,
             substr(md5(array_to_string(t[i.i + 1 : i.i + {_SUBSTR_K}], ' ')), 1, 16) AS g
      FROM toks, UNNEST(generate_series(0, len(t) - {_SUBSTR_K})) i(i)
      WHERE len(t) >= {_SUBSTR_K}
    ), gd AS (
      SELECT g FROM spans GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1
    ), covered AS (
      SELECT DISTINCT doc_id, pos + j.j AS tok_idx
      FROM spans JOIN gd USING (g), UNNEST(generate_series(0, {_SUBSTR_K - 1})) j(j)
    ), tokens AS (
      SELECT doc_id, j.j AS tok_idx, t[j.j + 1] AS tok
      FROM toks, UNNEST(generate_series(0, len(t) - 1)) j(j)
    ), kept AS (
      SELECT tok.doc_id, tok.tok_idx, tok.tok
      FROM tokens tok LEFT JOIN covered c
        ON tok.doc_id = c.doc_id AND tok.tok_idx = c.tok_idx
      WHERE c.doc_id IS NULL
    )
    SELECT t.doc_id,
           COALESCE(string_agg(k.tok, ' ' ORDER BY k.tok_idx), '') AS clean_text,
           CAST(len(t.t) - COUNT(k.tok) AS BIGINT) AS n_removed
    FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id
    GROUP BY t.doc_id, len(t.t)
    """,
)
def ext_dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORM half of substring dedup (``ext_dedup_substring`` is
    the detector): rewrite each document with every cross-document
    duplicated {K}-token span removed — the cut step a pretraining
    pipeline actually applies to boilerplate (Lee et al.'s
    train-data-dedup recipe, approximated at shingle granularity).

    Plan: the persisted span index feeds the duplicate-gram census; the
    covered token positions come from one bounded ``sequence(pos,
    pos+K-1)`` explode (≤ K rows per duplicated span) and a distinct;
    surviving tokens are a left-anti join away, and each doc reassembles
    via sort_array(collect_struct) — per-doc, never a global sort.  All
    volumes are linear in corpus tokens; the only wide ops are gram- and
    (doc, pos)-keyed shuffles.  Output strings are exact, so the oracle
    hash covers the rewritten text byte-for-byte."""
    toks, spans = _substring_spans(spark, sf_dir)
    gd = (
        spans.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("g")
    )
    covered = (
        spans.join(gd, "g")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + _SUBSTR_K - 1)
            ).alias("tok_idx"),
        )
        .distinct()
    )
    tokens = toks.select("doc_id", F.posexplode("t").alias("tok_idx", "tok"))
    kept = tokens.join(covered, ["doc_id", "tok_idx"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.expr("transform(sort_array(collect_list(struct(tok_idx, tok))), x -> x.tok)"),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return toks.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        (F.size("t") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# incremental FUZZY dedup: nightly delta batch vs a persisted LSH index
# ---------------------------------------------------------------------------

_FUZZY_TAU = 0.7  # verified-Jaccard threshold for "near-dup of history"
_FUZZY_ROOT = "/tmp/gordo_spark_fuzzy_index"


def build_fuzzy_index(spark: SparkSession, sf_dir: str) -> str:
    """Persisted NEAR-DUP index over the historical corpus (doc_id%5!=0,
    the same history fixture as ``build_dedup_index``): the band-bucket
    LSH keys (partitioned by band — a probe prunes to its band's files)
    plus the shingle sets the verify step needs.  Built ONCE per corpus
    via ``materialized_cache`` (footer-fingerprinted, pid-tmp + atomic
    replace — the stale-replica discipline), then only PROBED: history
    is never re-shingled or re-scanned by the nightly face."""
    from gordo_components_spark.caches import materialized_cache

    def _build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        sh = persist_tracked(
            docs.where(F.col("doc_id") % 5 != 0)
            .select("doc_id", F.expr(_SHINGLES).alias("shingles"))
            .where(F.size("shingles") > 0)
        )
        _band_buckets(sh).repartition("band").write.mode("overwrite").partitionBy(
            "band"
        ).parquet(os.path.join(tmp, "buckets"))
        sh.write.mode("overwrite").parquet(os.path.join(tmp, "shingles"))
        sh.unpersist()

    # basename carries the stored-shingle FORMAT version: round 9 changed
    # the shingle column from array<string> grams to array<bigint>
    # digests — a same-fixture cache from the old format would otherwise
    # be served by the footer fingerprint and explode the probe's
    # array_intersect types (loud, but a rebuild beats a crash)
    return materialized_cache(sf_dir, _FUZZY_ROOT, "index_h64", "documents", _build)


@register("pipe_dedup_incremental_fuzzy", oracle=None)
def pipe_dedup_incremental_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup — the fuzzy sibling of
    ``pipe_dedup_incremental`` (which screens a delta batch against
    history at exact-digest granularity): the nightly batch is shingled
    and banded, its LSH keys probe the PERSISTED history band index,
    and surviving candidate pairs are verified with exact Jaccard
    against the index's stored shingle sets.  A batch doc is ``kept``
    iff no history doc verifies at ≥ τ=0.7 — the screen that catches
    re-crawls with boilerplate drift, which exact digests miss
    entirely.

    100 TB shape: history is never re-scanned (the index is built once
    per corpus and probed by band-partition); every join against a
    history-scale side is pinned SHUFFLE_HASH (the index GROWS with the
    corpus — never a broadcast build; plan-guarded); candidates are a
    vanishing fraction of batch×history, so the verify joins move only
    (pair keys + the candidates' shingle sets).  Rows-only like every
    MinHash face (hash permutations aren't oracle-reproducible);
    tests/test_lsh_recall.py proves exact re-crawls are always caught
    (identical shingles ⇒ identical signature ⇒ same buckets in every
    band) and fresh docs survive."""
    from gordo_components_spark.operators.extensions_corpus import _delta_batch

    root = build_fuzzy_index(spark, sf_dir)
    hist_buckets = spark.read.parquet(os.path.join(root, "buckets")).select(
        F.col("doc_id").alias("hist_id"), "band", "bucket"
    )
    hist_sh = spark.read.parquet(os.path.join(root, "shingles")).select(
        F.col("doc_id").alias("hist_id"), F.col("shingles").alias("hist_sh")
    )
    docs = load_table(spark, sf_dir, "documents")
    batch = _delta_batch(docs).select("doc_id")
    bsh = persist_tracked(
        _delta_batch(docs)
        .select("doc_id", F.expr(_SHINGLES).alias("shingles"))
        .where(F.size("shingles") > 0)
    )
    cand = (
        _band_buckets(bsh)
        .join(hist_buckets.hint("SHUFFLE_HASH"), ["band", "bucket"])
        .select("doc_id", "hist_id")
        .dropDuplicates(["doc_id", "hist_id"])
    )
    jac = F.size(F.array_intersect("shingles", "hist_sh")).cast("double") / F.size(
        F.array_union("shingles", "hist_sh")
    )
    verified = (
        cand.join(bsh, "doc_id")
        .join(hist_sh.hint("SHUFFLE_HASH"), "hist_id")
        .select("doc_id", "hist_id", jac.alias("jac"))
    )
    per_doc = verified.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum((F.col("jac") >= _FUZZY_TAU).cast("bigint")).alias("n_matches"),
        _fshift_col(F.max("jac")).alias("best_jaccard"),
    )
    return batch.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
        F.coalesce("n_matches", F.lit(0)).cast("bigint").alias("n_matches"),
        "best_jaccard",
        (F.coalesce("n_matches", F.lit(0)) == 0).alias("kept"),
    )


@register(
    "ext_dedup_paragraph",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), blocks AS (
      SELECT doc_id, CAST(t.k AS INT) AS blk,
             array_to_string(list_slice(tk, t.k * 8 + 1, t.k * 8 + 8), ' ')
               AS btxt
      FROM toks, LATERAL (
        SELECT unnest(generate_series(0,
                 CAST(floor((len(tk) - 1) / 8) AS BIGINT))) AS k
      ) t
      WHERE len(list_slice(tk, t.k * 8 + 1, t.k * 8 + 8)) = 8
    ), shared AS (
      SELECT btxt FROM blocks GROUP BY btxt
      HAVING count(DISTINCT doc_id) > 1
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(CASE WHEN s.btxt IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_blocks,
           CAST(sum(CASE WHEN s.btxt IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS dup_ratio
    FROM blocks b LEFT JOIN shared s USING (btxt)
    GROUP BY b.doc_id
    """,
)
def ext_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 extension (round 10) — BLOCK-level duplication screen, the
    CCNet/C4 move the whole-document faces can't express: a crawl dump's
    boilerplate (nav bars, license headers, quote chains) repeats at
    paragraph granularity inside otherwise-unique pages, and removing it
    is worth more perplexity than whole-doc dedup.  Each document is cut
    into non-overlapping 8-word blocks (the fixture ships no paragraph
    separators — block ≡ paragraph stand-in; the operator is the
    plumbing, the splitter is a parameter), a block is SHARED when its
    exact text occurs in ≥2 distinct documents, and each doc reports its
    shared-block ratio — the "mostly boilerplate" screen
    ``pipe_quality_trim`` would consume.

    Scale shape: one explode to the block frame (~n_words/8 rows per
    doc), ONE digest-keyed combinable groupBy for the shared set (the
    64-bit xxhash digest is the shuffle key, never the block text), and
    the verdict rides a digest-keyed shuffle join back to blocks —
    blocked exactly like exact dedup, no pair join anywhere.  The DuckDB
    oracle groups by the block STRING, so parity re-verifies the
    digest-collision-free claim the gram faces established.  Counts are
    exact ints; the one ratio is a single exact-int division."""
    docs = load_table(spark, sf_dir, "documents")
    blocks = (
        docs.select("doc_id", F.split("text", " ").alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.expr("sequence(0, CAST(floor((size(tk) - 1) / 8) AS INT))")
            ).alias("k"),
            F.col("tk"),
        )
        .select(
            "doc_id",
            F.expr("slice(tk, k * 8 + 1, 8)").alias("bt"),
        )
        .where(F.size("bt") == 8)
        .select("doc_id", F.xxhash64(F.array_join("bt", " ")).alias("bh"))
    )
    blocks = persist_tracked(blocks)
    shared = (
        blocks.groupBy("bh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("bh")
    )
    flagged = blocks.join(shared, "bh", "left_semi").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared_blocks")
    )
    return (
        blocks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_blocks"))
        .join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            "n_blocks",
            F.coalesce("n_shared_blocks", F.lit(0))
            .cast("bigint")
            .alias("n_shared_blocks"),
            (
                F.coalesce("n_shared_blocks", F.lit(0)).cast("double")
                / F.col("n_blocks")
            ).alias("dup_ratio"),
        )
    )


@register(
    "ext_dedup_cluster_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), blocks AS (
      SELECT doc_id,
             array_to_string(list_slice(tk, t.k * 8 + 1, t.k * 8 + 8), ' ')
               AS btxt
      FROM toks, LATERAL (
        SELECT unnest(generate_series(0,
                 CAST(floor((len(tk) - 1) / 8) AS BIGINT))) AS k
      ) t
      WHERE len(list_slice(tk, t.k * 8 + 1, t.k * 8 + 8)) = 8
    ), clusters AS (
      SELECT btxt, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
      FROM blocks GROUP BY 1
    )
    SELECT nd AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(nd * count(*) AS BIGINT) AS doc_block_mass
    FROM clusters GROUP BY nd
    """,
)
def ext_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-profile one-pager: the distribution of duplicate-
    cluster SIZES at block granularity (how many 8-word blocks are
    shared by exactly 2 docs, by 3, …) — the first chart a curation
    report shows, because the REMEDY depends on the shape: a fat tail
    of size-2 clusters is quote/citation noise, a few size-100 clusters
    are boilerplate templates worth a targeted cut
    (``ext_dedup_substring_cut``), and the mass column says how much of
    the corpus each treatment would touch.

    Scale shape: block explode → digest-keyed distinct-doc count (the
    exact-dedup shuffle) → a regroup over the CLUSTER frame (≤ distinct
    blocks, collapsing to ≤ max-cluster-size output rows).  All counts
    exact integers — no rounding convention.  The Spark side groups on
    the 64-bit block digest; the oracle groups the block STRING (the
    paragraph face's collision re-verification, repeated here)."""
    docs = load_table(spark, sf_dir, "documents")
    blocks = (
        docs.select("doc_id", F.split("text", " ").alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.expr("sequence(0, CAST(floor((size(tk) - 1) / 8) AS INT))")
            ).alias("k"),
            "tk",
        )
        .select("doc_id", F.expr("slice(tk, k * 8 + 1, 8)").alias("bt"))
        .where(F.size("bt") == 8)
        .select("doc_id", F.xxhash64(F.array_join("bt", " ")).alias("bh"))
    )
    clusters = blocks.groupBy("bh").agg(
        F.count_distinct("doc_id").cast("bigint").alias("nd")
    )
    return clusters.groupBy(F.col("nd").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("bigint")
        .alias("doc_block_mass"),
    )

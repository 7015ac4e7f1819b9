"""Corpus-lifecycle operators (extensions_corpus): Misra–Gries guarantee
under forced decrements, incremental-dedup index cache hygiene, and
snapshot-diff classification invariants."""

import json
import os
import shutil

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_misra_gries_guarantee_under_decrements():
    """Adversarial stream with a tiny capacity: many distinct fillers force
    the batched-decrement path repeatedly; every token whose count exceeds
    Np/(capacity+1) must still survive the summary, with residual <= true
    count (undercount only, never overcount)."""
    import pandas as pd

    from gordo_components_spark.operators.extensions_corpus import (
        _misra_gries_partition,
    )

    # 3 heavy tokens among a sea of 400 singletons, chunked to force the
    # decrement step at capacity 7 on every chunk boundary.
    stream = []
    for rep in range(40):
        stream.append(["hot_a", "hot_b"] * 3 + [f"noise_{rep}_{j}" for j in range(10)])
    # the island takes raw text and splits per batch (r14); joining each
    # doc's tokens with single spaces reproduces the same token stream
    docs = pd.DataFrame({"text": [" ".join(t) for t in stream]})
    batches = [docs.iloc[i : i + 5] for i in range(0, len(docs), 5)]
    (out,) = list(_misra_gries_partition(iter(batches), capacity=7))

    np_row = out[out["token"].isnull()]
    n_total = int(np_row["est"].iloc[0])
    assert n_total == sum(len(t) for t in stream)

    survivors = dict(zip(out["token"], out["est"]))
    # r14 vectorized merge: the carried summary must stay within capacity
    # after every batch (the emitted frame is survivors + 1 NULL row)
    assert len(out) - 1 <= 7, "summary exceeded its capacity bound"
    true_counts = {"hot_a": 120, "hot_b": 120}
    bound = n_total / (7 + 1)
    for tok, c in true_counts.items():
        assert c > bound  # fixture sanity: they are genuinely heavy
        assert tok in survivors, f"heavy token {tok} evicted"
        assert 0 < survivors[tok] <= c  # undercount-only residual


def test_heavy_hitters_matches_bruteforce(spark):
    from gordo_components_spark.operators.extensions_corpus import (
        _HH_INV_PHI,
        agg_heavy_hitters,
    )
    from gordo_components_spark.sources.tables import load_table

    got = {
        r["token"]: r["cnt"]
        for r in agg_heavy_hitters(spark, SF_SMALL).collect()
    }
    toks = load_table(spark, SF_SMALL, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    n = toks.count()
    want = {
        r["token"]: r["cnt"]
        for r in toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") * _HH_INV_PHI > n)
        .collect()
    }
    assert got == want and len(want) > 0


def test_dedup_index_rebuilds_after_partial_deletion(spark):
    """CLAUDE.md marks /tmp/gordo_spark_* safe to delete: a marker left
    behind after the payload dir is removed must trigger a rebuild, not a
    permanent failure (advisory-hardened cache discipline)."""
    from gordo_components_spark.operators.extensions_corpus import (
        build_dedup_index,
        pipe_dedup_incremental,
    )

    root = build_dedup_index(spark, SF_SMALL)
    assert os.path.isdir(os.path.join(root, "hist"))
    # simulate partial deletion: payload gone, marker kept
    shutil.rmtree(os.path.join(root, "hist"))
    assert os.path.isfile(os.path.join(root, "_FP.json"))
    root2 = build_dedup_index(spark, SF_SMALL)
    assert os.path.isdir(os.path.join(root2, "hist"))
    # stale fingerprint: marker content mismatch also rebuilds
    with open(os.path.join(root2, "_FP.json"), "w") as fh:
        json.dump({"stale": True}, fh)
    root3 = build_dedup_index(spark, SF_SMALL)
    with open(os.path.join(root3, "_FP.json")) as fh:
        assert json.load(fh) != {"stale": True}
    assert pipe_dedup_incremental(spark, SF_SMALL).count() > 0


def test_snapshot_diff_classes_are_exhaustive(spark):
    from gordo_components_spark.registry import load_all
    from gordo_components_spark.sources.tables import load_table

    diff = load_all()["pipe_snapshot_diff"].fn(spark, SF_SMALL)
    rows = diff.collect()
    classes = {r["change_type"] for r in rows}
    assert classes == {"added", "removed", "changed"}
    docs = load_table(spark, SF_SMALL, "documents")
    n_rm = docs.where(F.col("doc_id") % 13 == 0).count()
    n_add = docs.where(F.col("doc_id") % 17 == 0).count()
    by_class = {c: sum(1 for r in rows if r["change_type"] == c) for c in classes}
    assert by_class["removed"] == n_rm
    assert by_class["added"] == n_add
    # changed rows carry both digests; added/removed carry exactly one
    for r in rows:
        if r["change_type"] == "changed":
            assert r["old_hash"] and r["new_hash"] and r["old_hash"] != r["new_hash"]
        elif r["change_type"] == "added":
            assert r["old_hash"] is None and r["new_hash"]
        else:
            assert r["new_hash"] is None and r["old_hash"]


def test_lm_cross_entropy_matches_numpy(spark):
    """Independent numpy bigram LM (add-one smoothing) must agree with the
    Spark pipeline to float tolerance on every held-out doc."""
    import math
    from collections import Counter

    from gordo_components_spark.operators.extensions_corpus import (
        ext_lm_cross_entropy,
    )
    from gordo_components_spark.sources.tables import load_table

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, SF_SMALL, "documents").collect()
    }
    big_c, uni_c = Counter(), Counter()
    for did, t in docs.items():
        if did % 10 < 8:
            uni_c.update(t)
            big_c.update(zip(t, t[1:]))
    v = len(uni_c)
    want = {}
    for did, t in docs.items():
        if did % 10 >= 8 and len(t) >= 2:
            nll = [
                -math.log((big_c[(a, b)] + 1.0) / (uni_c[a] + v))
                for a, b in zip(t, t[1:])
            ]
            want[did] = (len(nll), sum(nll) / len(nll))
    got = {
        r["doc_id"]: (r["n_bigrams"], r["cross_entropy"])
        for r in ext_lm_cross_entropy(spark, SF_SMALL).collect()
    }
    assert set(got) == set(want)
    for did in want:
        assert got[did][0] == want[did][0]
        assert abs(got[did][1] - want[did][1]) < 1e-5


def test_bpe_encode_matches_reference_python(spark):
    """Greedy rank-ordered merge application vs an independent pure-Python
    BPE pass over the same induced merge table."""
    from gordo_components_spark.operators.extensions_corpus import pipe_bpe_encode
    from gordo_components_spark.operators.extensions_pipeline import (
        _BPE_SEP,
        pipe_bpe_merges,
    )
    from gordo_components_spark.sources.tables import load_table

    merges = [
        (r["lhs"], r["rhs"])
        for r in pipe_bpe_merges(spark, SF_SMALL).orderBy("it").collect()
    ]
    got = {r["doc_id"]: r["toks"].split("␟") for r in pipe_bpe_encode(spark, SF_SMALL).collect()}

    def ref_encode(toks):
        for lhs, rhs in merges:
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == lhs and toks[i + 1] == rhs:
                    out.append(lhs + _BPE_SEP + rhs)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        return toks

    docs = load_table(spark, SF_SMALL, "documents").collect()
    assert len(got) == len(docs)
    n_merged_docs = 0
    for r in docs:
        want = ref_encode(r["text"].split(" "))
        assert got[r["doc_id"]] == want
        if any(_BPE_SEP in t for t in want):
            n_merged_docs += 1
    assert n_merged_docs > 0  # the merge table actually fired somewhere


def test_semantic_dedup_recall_vs_exact(spark):
    """Learned-cluster blocking must recover most of the exact all-pairs
    near-duplicates on the fixture (single-probe ANN-style recall)."""
    from pyspark.sql import functions as F

    from gordo_components_spark.operators.extensions_corpus import (
        _SEM_TAU,
        ext_dedup_semantic,
    )
    from gordo_components_spark.sources.tables import load_table

    got = {
        (r["vec_a"], r["vec_b"])
        for r in ext_dedup_semantic(spark, SF_SMALL).collect()
    }
    emb = load_table(spark, SF_SMALL, "embeddings")
    e = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.sqrt(
            F.expr(
                "aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * y),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            )
        ).alias("nrm"),
    )
    a, b = e.alias("a"), e.alias("b")
    dot = "aggregate(zip_with(a_v, b_v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.v").alias("a_v"),
            F.col("b.v").alias("b_v"),
            (F.col("a.nrm") * F.col("b.nrm")).alias("nn"),
        )
        .select(
            "vec_a", "vec_b", F.round(F.expr(dot) / F.col("nn"), 6).alias("cosine")
        )
        .where(F.col("cosine") >= _SEM_TAU)
        .collect()
    }
    assert exact, "fixture has no near-dup pairs at tau"
    assert got <= exact  # no false positives: within-cluster pairs are exact
    recall = len(got) / len(exact)
    assert recall >= 0.75, f"semantic recall {recall:.2f} too low"


def test_canonical_rank_matches_numpy_power_iteration(spark):
    """Spark PageRank vs an independent numpy power iteration on the same
    similarity graph: per-node agreement to 1e-6 after 10 iterations,
    dangling nodes held at teleport mass."""
    import numpy as np

    from gordo_components_spark.operators.extensions_corpus import (
        _PR_DAMP,
        _PR_ITERS,
        ext_dedup_canonical_rank,
    )
    from gordo_components_spark.operators.extensions_corpus import load_table

    got = {
        r["vec_id"]: r["rank_x_n"]
        for r in ext_dedup_canonical_rank(spark, SF_SMALL).collect()
    }

    emb = load_table(spark, SF_SMALL, "embeddings").collect()
    ids = [r["vec_id"] for r in emb]
    idx = {v: i for i, v in enumerate(ids)}
    V = np.array([r["embedding"] for r in emb], dtype=np.float64)
    labels = np.array([r["label"] for r in emb])
    nrm = np.sqrt((V.astype(np.float64) ** 2).sum(1))
    n = len(ids)
    adj = [[] for _ in range(n)]
    for i in range(n):
        for j in range(i + 1, n):
            if labels[i] != labels[j]:
                continue
            cos = round(float(V[i] @ V[j]) / (nrm[i] * nrm[j]), 6)
            if cos >= 0.30:
                adj[i].append(j)
                adj[j].append(i)
    deg = np.array([len(x) for x in adj], dtype=np.float64)
    rank = np.full(n, 1.0 / n)
    tele = (1.0 - _PR_DAMP) / n
    for _ in range(_PR_ITERS):
        inflow = np.zeros(n)
        for i in range(n):
            if deg[i]:
                share = rank[i] / deg[i]
                for j in adj[i]:
                    inflow[j] += share
        rank = tele + _PR_DAMP * inflow
    want = {ids[i]: round(rank[i] * n, 6) for i in range(n)}
    assert set(got) == set(want)
    diffs = [abs(got[v] - want[v]) for v in want]
    assert max(diffs) < 1e-5, max(diffs)
    # the graph is non-trivial: some node must beat the dangling baseline
    assert max(got.values()) > round(tele * n, 6) + 0.01


def test_fuzzy_join_recovers_every_corrupted_record(spark):
    """Every dirty record must recover its own entity (distance 1 or 2,
    matching the corruption arity), and candidate volume must stay far
    below the cross product (the pigeonhole filter actually prunes)."""
    from gordo_components_spark.operators.extensions_corpus import join_fuzzy_hamming
    from gordo_components_spark.sources.tables import load_table

    rows = join_fuzzy_hamming(spark, SF_SMALL).collect()
    self_matches = {r["dirty_key"]: r["distance"] for r in rows if r["dirty_key"] == r["match_key"]}
    cust = load_table(spark, SF_SMALL, "customer")
    dirty_keys = [
        r["c_custkey"] for r in cust.where("c_custkey % 10 = 0").collect()
    ]
    assert set(self_matches) == set(dirty_keys)
    for k, d in self_matches.items():
        assert d == (1 if k % 20 == 0 else 2)


def test_json_validity_predicates_agree_on_fixture(spark):
    """pipe_data_quality's bad_json uses Spark's lenient get_json_object
    while the oracle uses DuckDB's strict json_valid; they agree only
    while the fixture contains no lenient-vs-strict edge cases. Pin that
    precondition: the two predicates must count identically."""
    import duckdb

    from gordo_components_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMALL, "events")
    spark_bad = ev.where("get_json_object(props, '$') IS NULL").count()
    duck_bad = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_SMALL}/events.parquet')"
        " WHERE NOT json_valid(props)"
    ).fetchone()[0]
    assert spark_bad == duck_bad


def test_leakage_safe_split_keeps_clusters_together(spark, sf_dir):
    """Every dup cluster lands in exactly ONE split, so a doc and its
    clone can never straddle train/test (the contamination guard)."""
    from pyspark.sql import functions as F

    from gordo_components_spark.registry import load_all

    out = load_all()["pipe_split_leakage_safe"].fn(spark, sf_dir)
    per_cluster = out.groupBy("component").agg(
        F.countDistinct("split").alias("n_splits"),
        F.count(F.lit(1)).alias("n_members"),
    )
    rows = per_cluster.collect()
    assert rows, "split produced no clusters"
    assert all(r["n_splits"] == 1 for r in rows)
    # the doubled fixture guarantees clusters of >= 2 (doc + clone)
    assert all(r["n_members"] >= 2 for r in rows)
    # and every split band is actually populated at this corpus size
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits == {"train", "val", "test"}

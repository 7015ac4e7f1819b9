"""Similarity-search extension operators (SURVEY §2.11 E3/E6).

Vector search over the ``embeddings`` table (``array<float>`` column):
brute-force cosine top-k as the exact baseline, an IVF (inverted-file)
two-stage variant as the scale path, and element-wise centroid
aggregation.  All dot products are native lambda-expression folds
(``zip_with`` + ``aggregate``) — JVM-side, no Python in the hot path.

100 TB posture: brute-force is one broadcast (the query vector) + one
map + a TakeOrdered top-k — embarrassingly parallel; IVF prunes the
scan to nprobe partitions when the corpus is bucketed by centroid id
(partition pruning does the skipping).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_components_spark.caches import footer_rows, persist_tracked
from gordo_components_spark.registry import register
from gordo_components_spark.sources.tables import load_table

_QUERY_ID = 0  # the fixture row serving as the query vector

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"


def _norm(col: str) -> str:
    return f"sqrt({_DOT.format(a=col, b=col)})"


@register(
    "ext_cosine_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
      SELECT v AS qv, sqrt(list_inner_product(v, v)) AS qn FROM e WHERE vec_id = {_QUERY_ID}
    )
    SELECT e.vec_id,
           round(list_inner_product(e.v, q.qv)
                 / (sqrt(list_inner_product(e.v, e.v)) * q.qn), 6) AS cosine
    FROM e, q
    WHERE e.vec_id <> {_QUERY_ID}
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
    tags=("bench",),
)
def ext_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 exact brute-force cosine top-k: query vector broadcast, one pass
    over the corpus, TakeOrderedAndProject for the limit.  The rounded
    score is the sort key on both engines so tie-breaking (by vec_id) is
    deterministic."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", F.col("embedding").alias("v"))
    q = emb.where(F.col("vec_id") == _QUERY_ID).select(
        F.col("v").alias("qv"), F.expr(_norm("v")).alias("qn")
    )
    scored = (
        emb.where(F.col("vec_id") != _QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                F.expr(_DOT.format(a="v", b="qv")) / (F.expr(_norm("v")) * F.col("qn")), 6
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), "vec_id").limit(10)


@register(
    "ext_embed_centroid",
    oracle="""
    SELECT label, CAST(t.i AS INT) AS pos,
           round(avg(CAST(embedding[t.i + 1] AS DOUBLE)), 6) AS centroid_val
    FROM embeddings, range(64) t(i)
    GROUP BY label, t.i
    """,
)
def ext_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 per-label centroid, element-wise: posexplode → groupBy(label,
    pos) → avg.  Long-format output (label, pos, value) instead of an
    array column — array hashing is engine-specific, scalars aren't; the
    array form is one ``array_agg(... ORDER BY pos)`` away."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", F.col("pos").cast("int").alias("pos"))
        .agg(F.round(F.avg("val"), 6).alias("centroid_val"))
    )


@register(
    "ext_embed_quantize",
    oracle="""
    WITH b AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             list_min(CAST(embedding AS DOUBLE[])) AS lo,
             list_max(CAST(embedding AS DOUBLE[])) AS hi
      FROM embeddings
    )
    SELECT vec_id, CAST(t.i AS INT) AS pos,
           CAST(floor((v[t.i + 1] - lo) / NULLIF(hi - lo, 0.0) * 255.0 + 0.5) AS INT) AS q,
           round(lo, 9) AS scale_lo,
           round(hi, 9) AS scale_hi
    FROM b, range(64) t(i)
    """,
)
def ext_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8-style scale quantization (the storage format for
    100 TB vector corpora — 4× smaller than float32, 8× than float64):
    q = round((x−lo)/(hi−lo)·255) with the (lo, hi) scale stored for
    dequantization.  ``floor(x+0.5)`` not ``round`` — engines disagree on
    round-half ties, floor is bit-identical.  Long-format output (vec_id,
    pos, q) keeps the oracle hash on scalars."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.array_min("embedding").alias("lo"),
        F.array_max("embedding").alias("hi"),
    )
    exploded = b.select("vec_id", "lo", "hi", F.posexplode("v").alias("pos", "x"))
    q = F.floor(
        (F.col("x") - F.col("lo")) / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0)) * 255.0
        + 0.5
    ).cast("int")
    return exploded.select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        q.alias("q"),
        F.round("lo", 9).alias("scale_lo"),
        F.round("hi", 9).alias("scale_hi"),
    )


@register(
    "ext_tfidf_similar",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, CAST(n_chars // 100 AS INT) AS len_bucket,
             t.token, COUNT(*) AS tf
      FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
      GROUP BY doc_id, source, n_chars, t.token
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), idf AS (
      SELECT token, round(ln((n.n_docs + 1.0) / (COUNT(*) + 1.0)), 9) AS idf
      FROM tok, n GROUP BY token, n.n_docs
    ), w AS (
      SELECT tok.doc_id, tok.source, tok.len_bucket, tok.token, tok.tf * idf.idf AS w
      FROM tok JOIN idf USING (token)
    ), norms AS (
      SELECT doc_id, round(sqrt(SUM(w * w)), 9) AS nrm FROM w GROUP BY doc_id
    ), wn AS (
      SELECT w.doc_id, w.source, w.len_bucket, w.token, round(w.w / norms.nrm, 9) AS wn
      FROM w JOIN norms USING (doc_id)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(SUM(a.wn * b.wn), 6) AS cosine
    FROM wn a JOIN wn b
      ON a.token = b.token AND a.source = b.source
     AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING round(SUM(a.wn * b.wn), 6) > 0.3
    """,
    tags=("bench",),
)
def ext_tfidf_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 TF-IDF cosine similarity as a sparse inverted-index join — the
    shape that scales: long-format (doc, token, weight) postings self-join
    on (token, source, length-bucket) blocks, dot products accumulate per
    pair.  The fixture's 31-word vocabulary makes every token hot, so the
    block key (not DF pruning, which would erase this corpus) bounds the
    posting-list join volume.  No dense
    vectors ever materialize; volume is Σ posting-list², bounded by the
    blocking key.  (MLlib HashingTF+IDF produces the same features as a
    pipeline stage — ``mllib_pipeline_anomaly`` covers that surface;
    VectorUDT can't cross Arrow, so similarity stays native.)"""
    return _tfidf_similarity(spark, sf_dir)


# Stop-word df ceiling for the capped face, as an exact rational of
# n_docs (39/50 = 0.78) so the cut is integer arithmetic in both engines.
# The fixture's 31-token vocabulary has 30 tokens at df ≈ 0.77–0.80 —
# 0.78 genuinely prunes about half of them, visibly shrinking Σ postings².
_TFIDF_DF_CAP = (39, 50)
_TFIDF_PAIR_SALT = 4  # max salt shards for one oversized block
_TFIDF_BLOCK_CAP = 512  # postings per block before the salt kicks in


_TFIDF_INDEX_THRESHOLD = 20_000  # corpus rows where the index persist + join pin pay off


def _tfidf_similarity(
    spark: SparkSession,
    sf_dir: str,
    df_cap: tuple[int, int] | None = None,
    pair_salt: int = 1,
    big_corpus: bool | None = None,
) -> DataFrame:
    """Shared TF-IDF pair-similarity core.  ``df_cap=(num, den)`` drops
    tokens with df_t · den > num · n_docs (standard max-df stop-word
    pruning — integer-exact, so DuckDB applies the identical cut);
    ``big_corpus`` picks the pair-join strategy (None derives it from
    the exact parquet-footer row count — the size estimate Catalyst
    lacks here because the rounding + cache boundary hides its
    statistics): a SMALL corpus's persisted index IS broadcastable and
    Catalyst may build a broadcast hash table from the cache (measured
    sf0.1: ~1.28 s vs 1.5–1.7 s pinned — the r4→r7 bench residual); a
    LARGE corpus pins SHUFFLE_HASH so the corpus-growing postings side
    is never a broadcast build (r7 mirror rule; plan-guarded with
    ``big_corpus=True`` in tests/test_plan_properties.py, and the 10×
    rehearsal corpus sits above the threshold so the pinned path is the
    one measured for scale).  The index persist itself is unconditional
    — see the inline note for the measured 2× penalty of rebuilding the
    chain through a broadcast build.
    ``pair_salt=S`` enables SKEW-TARGETED pair-join sharding: blocks
    whose posting count exceeds ``_TFIDF_BLOCK_CAP`` get
    ``ceil(count/cap)`` (≤ S) salt shards — side a keyed by
    ``pmod(hash(doc_id), n)``, side b replicated n× — while normal-sized
    blocks pay ZERO replication (n=1).  One hot token's p² pair volume
    lands on n tasks; a uniformly-sized corpus is untouched, so the salt
    is free when there is no skew (the 10× rehearsal's distinct-source
    replicas are exactly that case).  The per-block size frame is
    vocabulary-bounded (≪ corpus), hence broadcastable.  Salting never
    changes the result — it only re-shards where pairs are generated."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            "source",
            (F.col("n_chars") / 100).cast("int").alias("len_bucket"),
            F.explode(F.split("text", " ")).alias("token"),
        )
        .groupBy("doc_id", "source", "len_bucket", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # corpus size from the parquet FOOTER (exact row count, zero scan) —
    # round 5's lazy 1-row broadcast agg kept the DAG lazy but added a
    # second documents scan plus a broadcast-exchange stage barrier ahead
    # of the idf join, the round-5→6 bench regression's constant cost;
    # footer metadata folds n_docs as a literal with neither.
    n_docs = footer_rows(sf_dir, "documents")
    if big_corpus is None:
        big_corpus = n_docs >= _TFIDF_INDEX_THRESHOLD
    idf_base = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df_t"))
        .withColumn("n_docs", F.lit(n_docs))
    )
    if df_cap is not None:
        # bigint-exact max-df cut: df_t/n_docs > num/den ⇒ stop word
        num, den = df_cap
        idf_base = idf_base.where(
            F.col("df_t") * F.lit(den) <= F.col("n_docs") * F.lit(num)
        )
    idf = idf_base.select(
        "token",
        F.round(F.log((F.col("n_docs") + 1.0) / (F.col("df_t") + 1.0)), 9).alias("idf"),
    )
    w = tok.join(idf, "token").select(
        "doc_id", "source", "len_bucket", "token", (F.col("tf") * F.col("idf")).alias("w")
    )
    norms = w.groupBy("doc_id").agg(F.round(F.sqrt(F.sum(F.col("w") * F.col("w"))), 9).alias("nrm"))
    # persisted: the pair self-join otherwise re-runs the whole
    # tokenize → idf-join → norm-join chain (2 scans + 6 shuffles) once
    # per side; at scale this materialization is the inverted INDEX —
    # built once, probed many times (and measured at bench SF, skipping
    # it only helps when the join ALSO stays unpinned — rebuilding the
    # chain through a broadcast build is 2x worse than probing the
    # cache: 2.6–3.6 s vs 1.5–1.7 s at sf0.1)
    wn = persist_tracked(
        w.join(norms, "doc_id").select(
            "doc_id", "source", "len_bucket", "token",
            F.round(F.col("w") / F.col("nrm"), 9).alias("wn"),
        )
    )
    cond = (
        (F.col("a.token") == F.col("b.token"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.len_bucket") == F.col("b.len_bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if pair_salt > 1:
        block = ["token", "source", "len_bucket"]
        # ONLY oversized blocks carry a row: the full per-block size
        # frame has one row per distinct (token, source, len_bucket) —
        # that's the postings index's key set, which GROWS with the
        # corpus and must never be a forced broadcast (r7 mirror rule).
        # Blocks over the cap are the skewed few by definition, so the
        # filtered frame is bounded at any scale; everyone else
        # left-joins to nothing and defaults to one shard (zero
        # replication), which is the identical result.
        nsalt = (
            wn.groupBy(*block)
            .agg(F.count(F.lit(1)).alias("_bn"))
            .where(F.col("_bn") > _TFIDF_BLOCK_CAP)
            .select(
                *block,
                F.least(
                    F.lit(pair_salt),
                    F.ceil(F.col("_bn") / F.lit(_TFIDF_BLOCK_CAP)),
                )
                .cast("int")
                .alias("_ns"),
            )
        )
        salted = wn.join(F.broadcast(nsalt), block, "left").withColumn(
            "_nsalt", F.coalesce(F.col("_ns"), F.lit(1))
        )
        a = salted.withColumn("psalt", F.pmod(F.hash("doc_id"), F.col("_nsalt"))).alias("a")
        b = salted.withColumn(
            "psalt", F.explode(F.expr("sequence(0, _nsalt - 1)"))
        ).alias("b")
        cond = cond & (F.col("a.psalt") == F.col("b.psalt"))
    else:
        a, b = wn.alias("a"), wn.alias("b")
    # SHUFFLE_HASH pinned on big corpora: the postings index GROWS with
    # the corpus, and once n_docs folds in as a literal its size
    # estimate is concrete enough that Catalyst would happily broadcast
    # it — guarded in tests/test_plan_properties.py.  A small corpus's
    # index IS broadcastable and Catalyst may do so freely.
    dots = (
        a.join(b.hint("SHUFFLE_HASH") if big_corpus else b, cond)
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.round(F.sum(F.col("a.wn") * F.col("b.wn")), 6).alias("cosine"))
    )
    return dots.where(F.col("cosine") > 0.3)


@register(
    "ext_tfidf_similar_capped",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, CAST(n_chars // 100 AS INT) AS len_bucket,
             t.token, COUNT(*) AS tf
      FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
      GROUP BY doc_id, source, n_chars, t.token
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), idf AS (
      SELECT token, round(ln((n.n_docs + 1.0) / (COUNT(*) + 1.0)), 9) AS idf
      FROM tok, n GROUP BY token, n.n_docs
      HAVING COUNT(*) * {_TFIDF_DF_CAP[1]} <= n.n_docs * {_TFIDF_DF_CAP[0]}
    ), w AS (
      SELECT tok.doc_id, tok.source, tok.len_bucket, tok.token, tok.tf * idf.idf AS w
      FROM tok JOIN idf USING (token)
    ), norms AS (
      SELECT doc_id, round(sqrt(SUM(w * w)), 9) AS nrm FROM w GROUP BY doc_id
    ), wn AS (
      SELECT w.doc_id, w.source, w.len_bucket, w.token, round(w.w / norms.nrm, 9) AS wn
      FROM w JOIN norms USING (doc_id)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(SUM(a.wn * b.wn), 6) AS cosine
    FROM wn a JOIN wn b
      ON a.token = b.token AND a.source = b.source
     AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING round(SUM(a.wn * b.wn), 6) > 0.3
    """,
)
def ext_tfidf_similar_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 scale face of ``ext_tfidf_similar`` (r4 verdict item 4 — its
    6.2× 10×-ratio was the worst remaining): identical pipeline plus the
    two levers a 100 TB corpus needs because pair volume is Σ postings²:

    - **max-df stop-word pruning** — tokens in more than 78 % of docs
      (``_TFIDF_DF_CAP`` = 39/50, integer-exact in both engines) carry
      near-zero IDF weight but dominate Σ postings²; dropping them
      shrinks the join quadratically while barely moving cosines;
    - **skew-targeted pair-join salting** — a surviving (token, source,
      len_bucket) block bigger than ``_TFIDF_BLOCK_CAP`` postings splits
      its p² pairs across up to ``_TFIDF_PAIR_SALT`` tasks (side a
      salted by doc-hash, side b replicated per-block only), so one hot
      token can never serialize the stage while uniform corpora pay no
      replication at all.

    Norms are computed over the SURVIVING tokens (true max-df TF-IDF
    semantics, matching sklearn's ``max_df`` — not a post-hoc filter),
    which the oracle reproduces with the same integer HAVING cut."""
    return _tfidf_similarity(
        spark, sf_dir, df_cap=_TFIDF_DF_CAP, pair_salt=_TFIDF_PAIR_SALT
    )


_NPROBE = 3
_IVF_QUERY = 7

# IVF index cache root: /tmp/gordo_spark_* dirs are materialization
# caches, safe to delete and rebuilt on demand.
_IVF_ROOT = "/tmp/gordo_spark_ivf"


def build_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Offline IVF index build — the once-per-corpus step every real ANN
    system separates from the query path.  Writes two artifacts under a
    per-SF cache dir:

    - ``centroids/``: the coarse quantizer — (label, pos, c) per-cell
      centroids, round(avg, 9) exactly as the DuckDB oracle computes them;
    - ``corpus/``: the vectors re-written parquet PARTITIONED BY ``cell=``
      (the centroid id), so an nprobe query reads nprobe/ncells of the
      data via static partition pruning.

    Installed through ``caches.materialized_cache``: same corpus ⇒ the
    build is a no-op, changed corpus or a deleted artifact ⇒ rebuild, and
    concurrent builders never expose a half-written corpus.  At 100 TB
    this is the offline index job writing to object storage; the query
    path never rescans the raw corpus.
    """
    import os

    from gordo_components_spark.caches import materialized_cache

    def build(tmp: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.col("embedding").alias("v")
        )
        cent = (
            emb.select("label", F.posexplode("v").alias("pos", "cval"))
            .groupBy("label", "pos")
            .agg(F.round(F.avg("cval"), 9).alias("c"))
        )
        cent.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "centroids"))
        (
            emb.withColumn("cell", F.col("label"))
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(os.path.join(tmp, "corpus"))
        )

    return materialized_cache(sf_dir, _IVF_ROOT, "index", "embeddings", build)


@register(
    "ext_ann_ivf",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cent AS (
      SELECT label, CAST(t.i AS INT) AS pos,
             round(avg(v[t.i + 1]), 9) AS c
      FROM e, range(64) t(i)
      GROUP BY label, t.i
    ), q AS (
      SELECT v AS qv FROM e WHERE vec_id = {_IVF_QUERY}
    ), qdist AS (
      SELECT cent.label,
             round(sum((cent.c - q.qv[cent.pos + 1]) * (cent.c - q.qv[cent.pos + 1])), 9) AS d2
      FROM cent, q
      GROUP BY cent.label
    ), probes AS (
      SELECT label FROM qdist ORDER BY d2, label LIMIT {_NPROBE}
    ), cand AS (
      SELECT e.vec_id, e.v FROM e JOIN probes USING (label)
      WHERE e.vec_id <> {_IVF_QUERY}
    )
    SELECT cand.vec_id,
           round(list_inner_product(cand.v, q.qv)
                 / (sqrt(list_inner_product(cand.v, cand.v))
                    * sqrt(list_inner_product(q.qv, q.qv))), 6) AS cosine
    FROM cand, q
    ORDER BY cosine DESC, cand.vec_id
    LIMIT 10
    """,
)
def ext_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 scale path — IVF two-stage ANN probing a PREBUILT index
    (``build_ivf_index``): (1) the coarse quantizer (per-cell centroids)
    is read from the index, never recomputed per query; the nprobe
    nearest cells are picked driver-side (the index walk every real ANN
    system does on the coordinator); (2) exact re-rank scans ONLY the
    probed ``cell=`` partitions of the index corpus — static partition
    pruning, nprobe/ncells of the data.  The returned plan contains zero
    raw-``embeddings.parquet`` scans and exactly one (pruned) index scan
    (guarded in tests/test_plan_properties.py)."""
    import os

    idx = build_ivf_index(spark, sf_dir)
    # Query vector: fetched once (vec_id pushed to the parquet reader) and
    # re-issued as a 1-row local relation — doubles round-trip exactly.
    qv = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == _IVF_QUERY)
        .select(F.col("embedding").alias("qv"))
        .head()[0]
    )
    q = spark.createDataFrame(
        [([float(x) for x in qv],)], "qv array<double>"
    ).withColumn("qn", F.expr(_norm("qv")))
    cent = spark.read.parquet(os.path.join(idx, "centroids"))
    diff = F.col("c") - F.expr("qv[pos]")
    qdist = (
        cent.crossJoin(F.broadcast(q))
        .select("label", (diff * diff).alias("sq"))
        .groupBy("label")
        .agg(F.round(F.sum("sq"), 9).alias("d2"))
    )
    probes = [
        r["label"] for r in qdist.orderBy("d2", "label").limit(_NPROBE).collect()
    ]
    cand = (
        spark.read.parquet(os.path.join(idx, "corpus"))
        .where(F.col("cell").isin(probes))
        .where(F.col("vec_id") != _IVF_QUERY)
    )
    return (
        cand.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                F.expr(_DOT.format(a="v", b="qv"))
                / (F.expr(_norm("v")) * F.col("qn")),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


# Random-hyperplane LSH parameters: K bits per table, L tables.  K scales
# with log2(corpus/target-bucket-size) — 4 bits is right for the 500-vec
# fixture (bucket ~31); a 10⁹-vector corpus wants K≈20.  More tables L
# buys recall linearly in cost.
_RP_L = 16
_RP_SEED = 20240801
_RP_TARGET_BUCKET = 32  # aim each table's bucket at ~32 candidates


def _rp_k_for(n_rows: int) -> int:
    """Derive K (sign-bits per table) from the corpus size: K =
    ceil(log2(n / target_bucket)), clamped to [4, 20].  500 vectors → 4
    (the fixture), 5 000 → 8, 10⁹ → 20 — bucket occupancy stays ~constant
    as the corpus grows, which is what keeps the re-rank bounded."""
    import math

    return max(4, min(20, math.ceil(math.log2(max(2.0, n_rows / _RP_TARGET_BUCKET)))))


def _rp_planes(k: int):
    """Deterministic hyperplanes (fixed-seed PCG64 — stable across runs
    and platforms); shape (L, K, dim)."""
    import numpy as np

    return np.random.default_rng(_RP_SEED).standard_normal((_RP_L, k, 64))


def _rp_bucket_batches(k: int):
    """Vectorized bucketing closure: sign-bit pattern of v·plane per
    table.  A Python island is the right tool here — one numpy matmul per
    Arrow batch beats 4096 per-element SQL literals in a generated
    expression."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        planes = _rp_planes(k)  # (L, K, d)
        flat = planes.reshape(_RP_L * k, -1)  # (L·K, d)
        weights = (1 << np.arange(k)).astype("int64")
        for pdf in batches:
            V = np.stack(pdf["v"].to_numpy())  # (n, d)
            bits = (V @ flat.T >= 0).reshape(len(V), _RP_L, k)  # (n, L, K)
            buckets = bits @ weights  # (n, L)
            n = len(V)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), _RP_L),
                    "table_id": np.tile(np.arange(_RP_L, dtype="int32"), n),
                    "bucket": buckets.reshape(-1).astype("int64"),
                }
            )

    return fn


@register("ext_ann_rplsh", oracle=None)
def ext_ann_rplsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 scale path #2 — random-hyperplane LSH ANN (rows-only;
    recall-vs-exact asserted in tests/test_lsh_recall.py): L hash tables
    of K sign-bits each; candidates are rows sharing the query's bucket
    in ANY table; exact cosine re-ranks candidates only.

    Recall is boosted by query-directed MULTI-PROBE (Lv et al.,
    VLDB'07): each table probes the query's own bucket plus every bucket
    at Hamming distance 1 (one sign-bit flip) — per-table recall goes
    from p^K to p^K + K·p^(K-1)(1-p), which at the fixture's weak
    neighbors (cosine ≈ 0.3 ⇒ p ≈ 0.6) lifts recall@10 from ~0.89 to
    ~1.0 with ZERO extra corpus-side work.

    K is DERIVED from the corpus size (``_rp_k_for``: parquet-footer row
    count → ceil(log2(n/32)), clamped [4, 20]) so bucket occupancy — and
    therefore re-rank cost — stays roughly constant as the corpus grows;
    a fixed K tuned to one SF either floods buckets at 1000× or shreds
    recall at 0.001×.  Recall ≥0.9 is asserted at BOTH the 500-vector
    fixture (K=4) and a 10× jittered replica (K=8) in
    tests/test_lsh_recall.py.

    100 TB posture: the bucketing pass is one vectorized mapInPandas
    (numpy matmul per Arrow batch); the candidate probe joins the tiny
    (table, bucket) query key — L·(K+1) rows — broadcast against the
    bucketed corpus, so the re-rank touches only colliding rows.
    Multi-probe expands only that broadcast side; the corpus is bucketed
    once.  With the corpus WRITTEN bucketed by (table_id, bucket), the
    probe is partition pruning, same as IVF's nprobe cells."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    from gordo_components_spark.ml.islands import _spread  # AQE-exempt repartition

    k = _rp_k_for(footer_rows(sf_dir, "embeddings"))
    # persist: the query-probe extraction and the corpus candidate join
    # are independent consumers — unpersisted, the full corpus LSH pass
    # (repartition + numpy matmul island) would run TWICE per query
    buckets = persist_tracked(
        _spread(emb, ("vec_id",)).mapInPandas(
            _rp_bucket_batches(k), schema="vec_id bigint, table_id int, bucket bigint"
        )
    )
    probe_set = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << j)).cast("bigint")
            for j in range(k)
        ],
    )
    qb = (
        buckets.where(F.col("vec_id") == _QUERY_ID)
        .select("table_id", F.explode(probe_set).alias("bucket"))
    )
    cand_ids = (
        buckets.where(F.col("vec_id") != _QUERY_ID)
        .join(F.broadcast(qb), ["table_id", "bucket"], "left_semi")
        .select("vec_id")
        .distinct()
    )
    q = emb.where(F.col("vec_id") == _QUERY_ID).select(
        F.col("v").alias("qv"), F.expr(_norm("v")).alias("qn")
    )
    return (
        emb.join(cand_ids, "vec_id", "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                F.expr(_DOT.format(a="v", b="qv")) / (F.expr(_norm("v")) * F.col("qn")), 6
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


_BATCH_Q = 8  # query-set size for the batch face
_BATCH_K = 5


@register(
    "ext_ann_batch",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_BATCH_Q}
    ), scored AS (
      SELECT q.qid, e.vec_id,
             round(list_inner_product(e.v, q.qv)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product(q.qv, q.qv))), 6) AS cosine
      FROM e JOIN q ON e.vec_id >= {_BATCH_Q}
    )
    SELECT qid, vec_id, cosine,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    )
    WHERE rank <= {_BATCH_K}
    """,
)
def ext_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 many-query face — exact top-k per query for a SET of query
    vectors (the shape real pipelines run: dedup a candidate batch
    against the corpus, retrieve neighbors for a training shard), not
    one vector at a time.

    Scale shape: the query set broadcasts (tiny vs corpus); scores never
    shuffle raw — a PER-PARTITION top-k (row_number inside
    (qid, partition)) prunes the exchange to Q·P·k rows before the
    global per-query rank.  At 100 TB the full scored stream is Q·N
    rows; the two-stage rank is what keeps the shuffle at heap size.
    Result is exact and partition-invariant: every global top-k row
    survives its partition cut."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    q = emb.where(F.col("vec_id") < _BATCH_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.expr(_norm("v")).alias("qn"),
    )
    scored = (
        emb.where(F.col("vec_id") >= _BATCH_Q)
        .crossJoin(F.broadcast(q))
        .select(
            "qid",
            "vec_id",
            F.round(
                F.expr(_DOT.format(a="v", b="qv"))
                / (F.expr(_norm("v")) * F.col("qn")),
                6,
            ).alias("cosine"),
        )
    )
    order = (F.col("cosine").desc(), F.col("vec_id"))
    local = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn(
            "lr", F.row_number().over(Window.partitionBy("qid", "pid").orderBy(*order))
        )
        .where(F.col("lr") <= _BATCH_K)
        .drop("pid", "lr")
    )
    return (
        local.withColumn(
            "rank", F.row_number().over(Window.partitionBy("qid").orderBy(*order))
        )
        .where(F.col("rank") <= _BATCH_K)
    )


@register(
    "ext_ann_batch_ivf",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cent AS (
      SELECT label, CAST(t.i AS INT) AS pos,
             round(avg(v[t.i + 1]), 9) AS c
      FROM e, range(64) t(i)
      GROUP BY label, t.i
    ), q AS (
      SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_BATCH_Q}
    ), qdist AS (
      SELECT q.qid, cent.label,
             round(sum((cent.c - q.qv[cent.pos + 1]) * (cent.c - q.qv[cent.pos + 1])), 9) AS d2
      FROM cent, q
      GROUP BY q.qid, cent.label
    ), probes AS (
      SELECT qid, label FROM (
        SELECT qid, label,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, label) AS rk
        FROM qdist
      ) WHERE rk <= {_NPROBE}
    ), cand AS (
      SELECT p.qid, e.vec_id, e.v FROM e JOIN probes p ON e.label = p.label
      WHERE e.vec_id >= {_BATCH_Q}
    ), scored AS (
      SELECT c.qid, c.vec_id,
             round(list_inner_product(c.v, q.qv)
                   / (sqrt(list_inner_product(c.v, c.v))
                      * sqrt(list_inner_product(q.qv, q.qv))), 6) AS cosine
      FROM cand c JOIN q USING (qid)
    )
    SELECT qid, vec_id, cosine,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    )
    WHERE rank <= {_BATCH_K}
    """,
)
def ext_ann_batch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 batch-through-index face (r4 verdict item 3) — the 100 TB shape
    of ``ext_ann_batch``: the query set probes ``build_ivf_index``'s
    prebuilt ``cell=``-partitioned corpus instead of exact-scanning Q×N.

    Three stages, mirroring a real ANN coordinator:
    (1) per-query coarse quantization — centroid distances computed from
        the tiny index ``centroids/`` frame (never recomputed from the
        corpus), top-``_NPROBE`` cells per query;
    (2) the probe map (qid, cell, qv) — Q·nprobe rows — broadcasts, and
        the index corpus is scanned ONCE, statically pruned to the UNION
        of all queries' probe cells (one pruned scan amortized across the
        whole batch, not Q scans);
    (3) exact re-rank only on candidates, with the same two-stage
        (per-partition, then global) row_number cut as the exact face, so
        the shuffle stays at Q·P·k rows.

    The returned plan contains zero raw-``embeddings.parquet`` scans and
    one ``PartitionFilters``-pruned index scan (guarded in
    tests/test_plan_properties.py)."""
    import os

    from pyspark.sql import Window

    idx = build_ivf_index(spark, sf_dir)
    # Query batch: Q rows, fetched once (vec_id pushed to the reader) and
    # re-issued as a local relation — bounded by the batch size, the same
    # driver boundary as the single-query face's index walk.
    q_rows = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < _BATCH_Q)
        .select("vec_id", "embedding")
        .collect()
    )
    q = spark.createDataFrame(
        [(int(r.vec_id), [float(x) for x in r.embedding]) for r in q_rows],
        "qid bigint, qv array<double>",
    )
    cent = spark.read.parquet(os.path.join(idx, "centroids"))
    diff = F.col("c") - F.expr("qv[pos]")
    qdist = (
        cent.crossJoin(F.broadcast(q))
        .select("qid", "label", (diff * diff).alias("sq"))
        .groupBy("qid", "label")
        .agg(F.round(F.sum("sq"), 9).alias("d2"))
    )
    probe_rows = (
        qdist.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("qid").orderBy("d2", "label")),
        )
        .where(F.col("rk") <= _NPROBE)
        .select("qid", "label")
        .collect()
    )
    probed_cells = sorted({r.label for r in probe_rows})
    qv_by_id = {int(r.vec_id): [float(x) for x in r.embedding] for r in q_rows}
    probe_map = spark.createDataFrame(
        [(int(r.qid), int(r.label), qv_by_id[int(r.qid)]) for r in probe_rows],
        # cell declared INT to match the partition-discovered index column
        # (a string column here only joined through implicit coercion)
        "qid bigint, cell int, qv array<double>",
    ).withColumn("qn", F.expr(_norm("qv")))
    scored = (
        spark.read.parquet(os.path.join(idx, "corpus"))
        .where(F.col("cell").isin(probed_cells))
        .where(F.col("vec_id") >= _BATCH_Q)
        .join(F.broadcast(probe_map), "cell")
        .select(
            "qid",
            "vec_id",
            F.round(
                F.expr(_DOT.format(a="v", b="qv"))
                / (F.expr(_norm("v")) * F.col("qn")),
                6,
            ).alias("cosine"),
        )
    )
    order = (F.col("cosine").desc(), F.col("vec_id"))
    local = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn(
            "lr", F.row_number().over(Window.partitionBy("qid", "pid").orderBy(*order))
        )
        .where(F.col("lr") <= _BATCH_K)
        .drop("pid", "lr")
    )
    return local.withColumn(
        "rank", F.row_number().over(Window.partitionBy("qid").orderBy(*order))
    ).where(F.col("rank") <= _BATCH_K)


# "Incoming batch" for the index-maintenance face: every 20th vector
# plays the role of newly arrived embeddings to be routed into cells.
_ASSIGN_MOD = 20
_ASSIGN_REM = 3


@register(
    "ext_ann_assign_cells",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cent AS (
      SELECT label, CAST(t.i AS INT) AS pos,
             round(avg(v[t.i + 1]), 9) AS c
      FROM e, range(64) t(i)
      GROUP BY label, t.i
    ), batch AS (
      SELECT vec_id, v FROM e
      WHERE vec_id % {_ASSIGN_MOD} = {_ASSIGN_REM}
    ), dist AS (
      SELECT b.vec_id, cent.label,
             round(sum((cent.c - b.v[cent.pos + 1]) * (cent.c - b.v[cent.pos + 1])), 9) AS d2
      FROM cent, batch b
      GROUP BY b.vec_id, cent.label
    )
    SELECT vec_id, label AS cell, d2
    FROM (
      SELECT vec_id, label, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rk
      FROM dist
    )
    WHERE rk = 1
    """,
)
def ext_ann_assign_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 index WRITE path — the maintenance half every IVF deployment
    needs and ``ext_ann_ivf``/``ext_ann_batch_ivf`` (the read paths)
    assume: route a batch of newly arrived vectors to their nearest
    coarse cell, i.e. the ``cell=`` partition each one would be appended
    to.  At 100 TB this is the continuous index-upsert job: the coarse
    quantizer (tiny) broadcasts, the incoming batch streams through one
    scan, and the output is exactly the partition assignment for the
    append — the raw corpus is never rescanned and cells never rebuilt
    (periodic re-clustering is a separate offline job).

    Centroid arithmetic is the index's own (round-9 averages, d2
    tie-broken by label), so assignments agree bit-exactly with the
    read path's probe selection."""
    idx = build_ivf_index(spark, sf_dir)
    import os

    from pyspark.sql import Window

    batch = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % _ASSIGN_MOD == _ASSIGN_REM
    ).select("vec_id", F.col("embedding").alias("v"))
    cent = spark.read.parquet(os.path.join(idx, "centroids"))
    diff = F.col("c") - F.expr("v[pos]")
    dist = (
        batch.crossJoin(F.broadcast(cent))
        .select("vec_id", "label", (diff * diff).alias("sq"))
        .groupBy("vec_id", "label")
        .agg(F.round(F.sum("sq"), 9).alias("d2"))
    )
    return (
        dist.withColumn(
            "rk", F.row_number().over(Window.partitionBy("vec_id").orderBy("d2", "label"))
        )
        .where(F.col("rk") == 1)
        .select("vec_id", F.col("label").alias("cell"), "d2")
    )


@register(
    "ext_ann_quantized_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_min(CAST(embedding AS DOUBLE[])) AS lo,
             list_max(CAST(embedding AS DOUBLE[])) AS hi
      FROM embeddings
    ), dq AS (
      SELECT vec_id,
             list_transform(v, x -> lo + floor((x - lo) / NULLIF(hi - lo, 0.0)
                                               * 255.0 + 0.5) * (hi - lo) / 255.0) AS dv
      FROM e
    ), q AS (
      SELECT v AS qv FROM e WHERE vec_id = {_QUERY_ID}
    )
    SELECT dq.vec_id,
           round(list_inner_product(dq.dv, q.qv)
                 / (sqrt(list_inner_product(dq.dv, dq.dv))
                    * sqrt(list_inner_product(q.qv, q.qv))), 6) AS cosine
    FROM dq, q
    WHERE dq.vec_id <> {_QUERY_ID}
    ORDER BY cosine DESC, dq.vec_id
    LIMIT 10
    """,
)
def ext_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/E6 quantized-scan top-k — asymmetric distance computation
    (ADC): the corpus is scanned in its int8 storage form
    (``ext_embed_quantize``'s per-vector scale quantization, 8× smaller
    than float64 — what a 100 TB vector corpus actually keeps hot) and
    dequantized on the fly against the full-precision query.  Exact
    brute force over the compressed representation: the plan is the same
    broadcast + single scan + TakeOrderedAndProject as
    ``ext_cosine_topk``; only the per-element expression changes, so the
    accuracy/storage trade is measurable side-by-side (both faces share
    ``_QUERY_ID``).

    Dequantization uses ``floor(x+0.5)`` (engine round-half ties differ)
    and the identical left-to-right fold in both engines, so scores are
    bit-stable before the round-6 output."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.array_min("embedding").alias("lo"),
        F.array_max("embedding").alias("hi"),
    )
    dq = emb.select(
        "vec_id",
        F.expr(
            "transform(v, x -> lo + floor((x - lo) / nullif(hi - lo, 0.0D)"
            " * 255.0D + 0.5D) * (hi - lo) / 255.0D)"
        ).alias("dv"),
    )
    q = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == _QUERY_ID)
        .select(F.col("embedding").alias("qv"), F.expr(_norm("embedding")).alias("qn"))
    )
    scored = (
        dq.where(F.col("vec_id") != _QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                F.expr(_DOT.format(a="dv", b="qv"))
                / (F.expr(_norm("dv")) * F.col("qn")),
                6,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), "vec_id").limit(10)


@register(
    "ext_embed_outlier_topk",
    oracle="""
    WITH c AS (
      SELECT label, CAST(t.i AS INT) AS pos,
             round(avg(CAST(embedding[t.i + 1] AS DOUBLE)), 6) AS cv
      FROM embeddings, range(64) t(i)
      GROUP BY 1, 2
    ), x AS (
      SELECT vec_id, label, CAST(t.i AS INT) AS pos,
             CAST(embedding[t.i + 1] AS DOUBLE) AS xv
      FROM embeddings, range(64) t(i)
    ), d AS (
      SELECT x.vec_id, x.label,
             CAST(sum(CAST(floor((x.xv - c.cv) * (x.xv - c.cv) * 1e9 + 0.5)
                           AS BIGINT)) AS BIGINT) AS dist2_e9
      FROM x JOIN c ON c.label = x.label AND c.pos = x.pos
      GROUP BY 1, 2
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY label
                                   ORDER BY dist2_e9 DESC, vec_id) AS rk
      FROM d
    )
    SELECT label, vec_id, dist2_e9, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 5
    """,
)
def ext_embed_outlier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 extension (round 10) — per-label embedding OUTLIERS: the 5
    vectors farthest (squared L2) from their label centroid — the
    mislabeled/corrupt-example screen run on every embedded training
    shard (a vector far from its own class centroid is a labeling error,
    an encoder glitch, or genuinely hard — all worth surfacing before
    training).  Complements ``ext_dedup_semantic`` (too close = dup);
    this is the too-FAR face.

    Exactness: the centroid is the round-6 elementwise mean (the
    ``ext_embed_centroid`` convention); each squared-difference term is
    per-row IEEE (bit-identical) and is floor-shifted to an exact
    INTEGER at 9 dp, so the 64-term accumulation is integer addition —
    no float summation order anywhere, and the emitted distance is the
    exact e9-scaled integer (< 2⁵³ by range).  Top-5 carries the unique
    (dist DESC, vec_id) tiebreak.

    Scale shape: centroid frame is labels × 64 (fixed cardinality —
    broadcast is CORRECT at any corpus size, the mirror-rule safe case);
    the term join + regroup ride one (corpus × 64)-row explode with
    combinable partial aggregation; the closing top-k window partitions
    by label over corpus-row counts — at extreme scale that rank would
    shard via per-label TakeOrdered, same answer."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "xv")
    ).select(
        "vec_id",
        "label",
        F.col("pos").cast("int").alias("pos"),
        F.col("xv").cast("double").alias("xv"),
    )
    c = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", F.col("pos").cast("int").alias("pos"))
        .agg(F.round(F.avg("v"), 6).alias("cv"))
    )
    d = (
        x.join(F.broadcast(c), ["label", "pos"])
        .select(
            "vec_id",
            "label",
            F.expr(
                "CAST(floor((xv - cv) * (xv - cv) * 1e9 + 0.5) AS BIGINT)"
            ).alias("t9"),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("t9").cast("bigint").alias("dist2_e9"))
    )
    r = d.select(
        "*",
        F.expr(
            "row_number() OVER (PARTITION BY label"
            " ORDER BY dist2_e9 DESC, vec_id)"
        ).alias("rk"),
    )
    return r.where(F.col("rk") <= 5).select(
        "label", "vec_id", "dist2_e9", F.col("rk").cast("int").alias("rk")
    )


@register(
    "ext_embed_normalize",
    oracle="""
    WITH x AS (
      SELECT vec_id, CAST(t.i AS INT) AS pos,
             CAST(embedding[t.i + 1] AS DOUBLE) AS xv
      FROM embeddings, range(64) t(i)
    ), n2 AS (
      SELECT vec_id,
             CAST(sum(CAST(floor(xv * xv * 1e9 + 0.5) AS BIGINT))
                  AS BIGINT) AS n2_e9
      FROM x GROUP BY 1
    )
    SELECT x.vec_id, x.pos,
           floor(x.xv / sqrt(CAST(n2.n2_e9 AS DOUBLE) / 1e9)
                 * 1000000 + 0.5) / 1000000 AS nval
    FROM x JOIN n2 ON n2.vec_id = x.vec_id
    WHERE n2.n2_e9 > 0
    """,
)
def ext_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 L2 normalization — the preprocessing EVERY cosine-based face
    assumes upstream (after unit norm, cosine = dot product, which is
    what the IVF/int8/LSH scan paths exploit): each vector divided by
    its L2 norm, long-format output like the centroid face.

    Exactness discipline (the outlier-face convention): each x² term is
    floor-shifted to an exact e9 INTEGER so the 64-term norm
    accumulation is integer addition in both engines; the closing
    /1e9 → sqrt → divide chain is per-row IEEE on identical operands
    (sqrt is correctly-rounded by IEEE 754 — deterministic, unlike the
    transcendentals the conventions ban), and outputs floor-shift at 6.
    Zero vectors are dropped (no NULL-vs-NaN engine skew).

    Scale shape: posexplode + combinable per-vector regroup + one
    (vec_id)-keyed join back — all linear, partition-parallel; at
    100 TB this runs as one pass per shard with the norm frame
    co-partitioned by construction."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xv")
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("xv").cast("double").alias("xv"),
    )
    n2 = x.groupBy("vec_id").agg(
        F.expr(
            "CAST(sum(CAST(floor(xv * xv * 1e9 + 0.5) AS BIGINT)) AS BIGINT)"
        ).alias("n2_e9")
    )
    return (
        x.join(n2, "vec_id")
        .where(F.col("n2_e9") > 0)
        .select(
            "vec_id",
            "pos",
            F.expr(
                "floor(xv / sqrt(CAST(n2_e9 AS DOUBLE) / 1e9)"
                " * 1000000 + 0.5) / 1000000"
            ).alias("nval"),
        )
    )


@register(
    "ext_embed_label_confusion",
    oracle="""
    WITH c AS (
      SELECT label, CAST(t.i AS INT) AS pos,
             round(avg(CAST(embedding[t.i + 1] AS DOUBLE)), 6) AS cv
      FROM embeddings, range(64) t(i)
      GROUP BY 1, 2
    ), n2 AS (
      SELECT label,
             CAST(sum(CAST(floor(cv * cv * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
               AS n2_e9
      FROM c GROUP BY 1
    ), d AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(sum(CAST(floor(a.cv * b.cv * 1e9 + 0.5) AS BIGINT))
                  AS BIGINT) AS dot_e9
      FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT d.label_a, d.label_b, d.dot_e9,
           floor(CAST(d.dot_e9 AS DOUBLE)
                 / (sqrt(CAST(na.n2_e9 AS DOUBLE))
                    * sqrt(CAST(nb.n2_e9 AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000 AS cosine
    FROM d
    JOIN n2 na ON na.label = d.label_a
    JOIN n2 nb ON nb.label = d.label_b
    """,
)
def ext_embed_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-confusability matrix: pairwise cosine between LABEL
    CENTROIDS — the embedding-space class-separation report read before
    trusting labels for stratified sampling or eval-split design (two
    labels whose centroids sit at cosine 0.98 are one concept, and any
    per-label metric between them is noise).  The between-class
    companion of ``ext_embed_outlier_topk`` (within-class).

    Exactness: centroids are the round-6 elementwise means; every dot
    and norm TERM is floor-shifted to an exact e9 integer so the
    64-term accumulations are integer addition; the closing cosine is
    one fixed IEEE chain (int→double casts, two correctly-rounded
    sqrts, one multiply, one divide) on identical operands, then the
    6-dp floor-shift.  The e9 scale cancels in the ratio (dot_e9/1e9 ÷
    √(n2a_e9/1e9)·√(n2b_e9/1e9) ≡ dot_e9 ÷ √n2a_e9·√n2b_e9).

    Scale shape: one corpus pass to centroids (labels × 64 — FIXED
    cardinality); the pair join runs on the centroid frame itself,
    C(labels, 2) × 64 terms — driver-trivial at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", F.col("pos").cast("int").alias("pos"))
        .agg(F.round(F.avg("v"), 6).alias("cv"))
    )
    n2 = c.groupBy("label").agg(
        F.expr(
            "CAST(sum(CAST(floor(cv * cv * 1e9 + 0.5) AS BIGINT)) AS BIGINT)"
        ).alias("n2_e9")
    )
    a, b = c.alias("a"), c.alias("b")
    d = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(a.cv * b.cv * 1e9 + 0.5) AS BIGINT))"
                " AS BIGINT)"
            ).alias("dot_e9")
        )
    )
    na = n2.select(F.col("label").alias("label_a"), F.col("n2_e9").alias("na_e9"))
    nb = n2.select(F.col("label").alias("label_b"), F.col("n2_e9").alias("nb_e9"))
    return (
        d.join(na, "label_a")
        .join(nb, "label_b")
        .select(
            "label_a",
            "label_b",
            "dot_e9",
            F.expr(
                "floor(CAST(dot_e9 AS DOUBLE)"
                " / (sqrt(CAST(na_e9 AS DOUBLE)) * sqrt(CAST(nb_e9 AS DOUBLE)))"
                " * 1000000 + 0.5) / 1000000"
            ).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# round 11: covariance / PCA (embedding-whitening pre-pass for SemDeDup-style
# clustering — public recipe: Abbas et al. 2023 "SemDeDup" whitens before
# cosine; the covariance aggregate is the distributed half, the eigensolve is
# a driver-side 64x64 fold)
# ---------------------------------------------------------------------------

_DIM = 64  # fixture embedding dimensionality (embeddings.parquet FLOAT[64])


@register(
    "ext_embed_covariance",
    oracle=f"""
    WITH e AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), terms AS (
      SELECT CAST(p.i AS INT) AS i, CAST(q.j AS INT) AS j,
             CAST(floor(v[p.i + 1] * v[q.j + 1] * 1e9 + 0.5) AS BIGINT) AS xy9,
             CAST(floor(v[p.i + 1] * 1e9 + 0.5) AS BIGINT) AS x9,
             CAST(floor(v[q.j + 1] * 1e9 + 0.5) AS BIGINT) AS y9
      FROM e, range({_DIM}) p(i), range({_DIM}) q(j)
      WHERE q.j >= p.i
    )
    SELECT i, j,
           CAST(sum(xy9) AS BIGINT) AS sxy_e9,
           floor((CAST(sum(xy9) AS DOUBLE) / 1e9
                  - (CAST(sum(x9) AS DOUBLE) / 1e9)
                    * (CAST(sum(y9) AS DOUBLE) / 1e9) / count(*))
                 / count(*) * 1e9 + 0.5) / 1e9 AS cov
    FROM terms
    GROUP BY i, j
    """,
)
def ext_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 extension (round 11) — upper-triangle covariance matrix of the
    embedding corpus, the distributed first half of PCA / whitening
    (``ext_embed_pca_project`` consumes it).  Each row contributes its
    2080 upper-triangle product terms; an Arrow/numpy partition island
    (r14, guide §4.2 — previously a JVM explode of 2080 structs per row)
    folds every partition to one <= 2080-row partial-sum frame before
    the one tiny shuffle — the canonical "sufficient statistics" shape
    that survives 100 TB (the shuffle is O(partitions x d^2),
    independent of row count).

    Exactness: every term is floor-shifted to an exact e9 integer
    (|x| < 1 so |x*y*1e9| < 1e9 per term; 2^53/1e9 ~ 9e6 rows headroom
    at the checked SFs), so sums are exact integer addition on both
    engines; the closing cov chain is per-row IEEE on identical
    operands, closed with floor(x*1e9+0.5)/1e9 (the registry's half-tie
    convention — round() half-tie algorithms differ across engines)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )
    # Second moments (r14, guide §4.2): the explode-2080-structs-per-row
    # JVM shape allocated rows × d(d+1)/2 structs just to hash-aggregate
    # them straight back down; a numpy partial-sum island folds each
    # partition to ONE (i, j, partial) frame — same exact integers
    # (per-term floor((v_i*v_j)*1e9+0.5) is the identical IEEE chain in
    # float64, int64 partial sums are order-free), ~2080 rows per
    # partition instead of 2080 per input row crossing the aggregate.
    # repartition(n) before the island per the _spread convention (AQE
    # would otherwise coalesce the Python stage); int64 headroom: each
    # |term| <= 1e9, so a partition would need ~9e9 rows to overflow —
    # the same bound the JVM bigint partial sum had.
    n_part = spark.sparkContext.defaultParallelism

    def _cov_partials(it):
        import numpy as np
        import pandas as pd

        acc = np.zeros((_DIM, _DIM), dtype=np.int64)
        seen = False
        for pdf in it:
            if not len(pdf):
                continue
            seen = True
            v = np.array(pdf["v"].to_list(), dtype=np.float64)
            for c0 in range(0, len(v), 256):
                chunk = v[c0 : c0 + 256]
                terms = np.floor(
                    (chunk[:, :, None] * chunk[:, None, :]) * 1e9 + 0.5
                ).astype(np.int64)
                acc += terms.sum(axis=0)
        if seen:
            iu, ju = np.triu_indices(_DIM)
            yield pd.DataFrame(
                {"i": iu.astype("int32"), "j": ju.astype("int32"), "p": acc[iu, ju]}
            )

    sxy = (
        emb.repartition(n_part)
        .mapInPandas(_cov_partials, "i int, j int, p long")
        .groupBy("i", "j")
        .agg(F.sum("p").cast("bigint").alias("sxy_e9"))
    )
    # First moments: 64-key aggregate (every row contributes to every cell,
    # so the per-(i, j) x9/y9 sums equal the per-dimension sums over ALL
    # rows — same integers the oracle accumulates per group).
    m1 = (
        emb.select(F.posexplode(F.expr("transform(v, x -> CAST(floor(x * 1e9 + 0.5) AS BIGINT))")).alias("d", "x9"))
        .groupBy(F.col("d").cast("int").alias("d"))
        .agg(F.sum("x9").cast("bigint").alias("sx_e9"), F.count(F.lit(1)).alias("n"))
    )
    mi = m1.select(F.col("d").alias("i"), F.col("sx_e9").alias("_sx"), F.col("n").alias("_n"))
    mj = m1.select(F.col("d").alias("j"), F.col("sx_e9").alias("_sy"))
    return (
        sxy.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            "sxy_e9",
            # floor-shift close (round-12, per the registry half-tie rule —
            # Spark and DuckDB round() disagree on half ties; floor(x*1e9+0.5)
            # is the identical-IEEE-chain convention every other ratio uses)
            (
                F.floor(
                    (
                        F.col("sxy_e9").cast("double") / F.lit(1e9)
                        - (F.col("_sx").cast("double") / F.lit(1e9))
                        * (F.col("_sy").cast("double") / F.lit(1e9))
                        / F.col("_n")
                    )
                    / F.col("_n")
                    * F.lit(1e9)
                    + F.lit(0.5)
                )
                / F.lit(1e9)
            ).alias("cov"),
        )
    )


@register("ext_embed_pca_project", oracle=None)
def ext_embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 extension (round 11) — first-principal-component projection, the
    eigensolve half of the whitening recipe: collect the 64x64 covariance
    sufficient statistics (a BOUNDED 2080-row driver fold — d^2 scalars,
    independent of corpus size), power-iterate deterministically on the
    driver (fixed start 1/sqrt(d), fixed 64 iterations, float64 — no RNG,
    same result every run), then broadcast the unit eigenvector back as a
    literal and project every embedding JVM-side (one zip_with dot per
    row, map-only).  Top-20 |score| with vec_id tiebreak.

    Sign convention: the eigenvector is flipped so its largest-|w|
    component is positive — power iteration is sign-ambiguous and the
    output must be deterministic.  Rows-only check (the eigensolve is not
    SQL-expressible); tests/test_round11_properties.py pins numpy parity
    (projection equals numpy eigh on the pandas-loaded fixture)."""
    import numpy as np

    cov_rows = (
        ext_embed_covariance(spark, sf_dir).select("i", "j", "cov").collect()
    )  # bounded: d*(d+1)/2 = 2080 scalars
    c = np.zeros((_DIM, _DIM))
    for r in cov_rows:
        c[r["i"], r["j"]] = r["cov"]
        c[r["j"], r["i"]] = r["cov"]
    w = np.full(_DIM, 1.0 / np.sqrt(_DIM))
    for _ in range(64):
        w = c @ w
        w = w / np.linalg.norm(w)
    if w[int(np.argmax(np.abs(w)))] < 0:
        w = -w
    emb = load_table(spark, sf_dir, "embeddings")
    m1 = (
        emb.select(F.posexplode("embedding").alias("d", "x"))
        .groupBy("d")
        .agg(F.round(F.avg(F.col("x").cast("double")), 9).alias("mu"))
        .collect()
    )  # bounded: 64 scalars
    mu = np.zeros(_DIM)
    for r in m1:
        mu[r["d"]] = r["mu"]
    # repr(float(x)), not repr(x): under numpy >= 2.0 repr(np.float64)
    # yields 'np.float64(0.5)' which is invalid SQL; plain-float repr is
    # shortest-roundtrip and version-stable.
    w_lit = "array(" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in w) + ")"
    mu_lit = "array(" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in mu) + ")"
    scored = emb.select(
        "vec_id",
        "label",
        F.round(
            F.expr(
                f"""aggregate(zip_with(transform(embedding, x -> CAST(x AS DOUBLE)),
                     zip_with({mu_lit}, {w_lit}, (m, wt) -> struct(m AS m, wt AS wt)),
                     (x, p) -> (x - p.m) * p.wt),
                   CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"""
            ),
            6,
        ).alias("score_pc1"),
    )
    return scored.orderBy(F.abs(F.col("score_pc1")).desc(), "vec_id").limit(20)


# ---------------------------------------------------------------------------
# round 11: retrieval-quality evaluation (MRR / NDCG@10 over cosine ranks)
# ---------------------------------------------------------------------------

_EVAL_K = 10
_EVAL_NQ = 8  # query set: vec_id 0..7
# log2 discounts precomputed ONCE in python and embedded as identical
# integer literals in both engines' SQL — no transcendental is ever
# evaluated inside either engine (registry convention).
_NDCG_W = [round(1e9 / math.log2(i + 1)) for i in range(1, _EVAL_K + 1)]
_NDCG_P = [sum(_NDCG_W[: k + 1]) for k in range(_EVAL_K)]  # ideal prefix sums
_W_ARR = "array(" + ", ".join(f"CAST({w} AS BIGINT)" for w in _NDCG_W) + ")"
_P_ARR = "array(" + ", ".join(f"CAST({p} AS BIGINT)" for p in _NDCG_P) + ")"
_W_SQL = "[" + ", ".join(f"CAST({w} AS BIGINT)" for w in _NDCG_W) + "]"
_P_SQL = "[" + ", ".join(f"CAST({p} AS BIGINT)" for p in _NDCG_P) + "]"


@register(
    "ext_eval_retrieval",
    tags=("bench",),  # round-12 promotion (r11 verdict item 6): retrieval-eval anchor
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n2 AS (
      SELECT vec_id,
             CAST(sum(CAST(floor(v[t.i + 1] * v[t.i + 1] * 1e9 + 0.5) AS BIGINT))
                  AS BIGINT) AS n2_e9
      FROM e, range(64) t(i) GROUP BY vec_id
    ), q AS (
      SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e
      WHERE vec_id < {_EVAL_NQ}
    ), dots AS (
      SELECT q.qid, q.qlabel, e.vec_id, e.label,
             CAST(sum(CAST(floor(e.v[t.i + 1] * q.qv[t.i + 1] * 1e9 + 0.5)
                           AS BIGINT)) AS BIGINT) AS dot_e9
      FROM e JOIN q ON e.vec_id <> q.qid, range(64) t(i)
      GROUP BY q.qid, q.qlabel, e.vec_id, e.label
    ), scored AS (
      SELECT d.qid, d.qlabel, d.vec_id, d.label,
             CAST(d.dot_e9 AS DOUBLE)
               / (sqrt(CAST(nq.n2_e9 AS DOUBLE)) * sqrt(CAST(nx.n2_e9 AS DOUBLE)))
               AS cos
      FROM dots d
      JOIN n2 nq ON nq.vec_id = d.qid
      JOIN n2 nx ON nx.vec_id = d.vec_id
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
               AS rk
      FROM scored
    ), topk AS (
      SELECT * FROM ranked WHERE rk <= {_EVAL_K}
    ), rel_total AS (
      SELECT q.qid, CAST(count(*) AS BIGINT) AS n_rel
      FROM q JOIN e ON e.label = q.qlabel AND e.vec_id <> q.qid
      GROUP BY q.qid
    ), m AS (
      SELECT qid,
             min(CASE WHEN label = qlabel THEN rk END) AS first_rel_rank,
             CAST(coalesce(sum(CASE WHEN label = qlabel
                                    THEN {_W_SQL}[rk] ELSE 0 END), 0)
                  AS BIGINT) AS dcg_e9
      FROM topk GROUP BY qid
    )
    SELECT m.qid, CAST(coalesce(r.n_rel, 0) AS BIGINT) AS n_rel,
           CAST(coalesce(m.first_rel_rank, 0) AS INT) AS first_rel_rank,
           m.dcg_e9,
           floor(CAST(m.dcg_e9 AS DOUBLE)
                 / {_P_SQL}[CAST(greatest(least(coalesce(r.n_rel, 0), {_EVAL_K}), 1) AS INT)]
                 * 1e6 + 0.5) / 1e6 AS ndcg,
           CASE WHEN m.first_rel_rank IS NULL THEN 0.0
                ELSE floor(1e6 / m.first_rel_rank + 0.5) / 1e6 END AS rr
    FROM m LEFT JOIN rel_total r ON r.qid = m.qid
    """,
)
def ext_eval_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation over the embedding corpus: each of
    the {_EVAL_NQ} query vectors ranks the rest of the corpus by exact
    cosine, relevance = same class label, and the output carries the
    per-query MRR (reciprocal rank of the first relevant hit) and
    NDCG@{_EVAL_K} — the two numbers every embedding-model / ANN-index
    change is gated on before it touches a production retrieval or
    dedup pipeline (and the exact baseline an IVF/LSH recall test
    compares against).

    No transcendental is evaluated in either engine: the 1/log2(i+1)
    discount weights are precomputed in python and embedded as the SAME
    e9-integer literals in both SQL texts, so DCG is an exact integer
    sum (per-rank weight = prefix[rk] − prefix[rk−1]) and NDCG is one
    floor-shifted division by the ideal prefix at min(n_rel, k).

    Scale shape: the query side is FIXED ({_EVAL_NQ} vectors → a
    broadcast), dots/norms are e9-integer term aggregations
    (order-independent addition), and the per-query top-{_EVAL_K} rank
    compiles under Spark 4.1's rank-limit pushdown to a two-level
    WindowGroupLimit prune — no query ever funnels the corpus through
    one task (same plan family as ``stream_sample_bottomk``)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )
    n2 = emb.select(
        "vec_id",
        F.expr(
            "aggregate(transform(v, x -> CAST(floor(x * x * 1e9 + 0.5) AS BIGINT)),"
            " CAST(0 AS BIGINT), (acc, t) -> acc + t)"
        ).alias("n2_e9"),
    )
    q = emb.where(F.col("vec_id") < _EVAL_NQ).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"), F.col("v").alias("qv")
    )
    qn = q.join(n2.withColumnRenamed("vec_id", "qid"), "qid").withColumnRenamed(
        "n2_e9", "qn2_e9"
    )
    dots = (
        emb.crossJoin(F.broadcast(qn))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            F.expr(
                "aggregate(zip_with(v, qv, (x, y) -> CAST(floor(x * y * 1e9 + 0.5) AS BIGINT)),"
                " CAST(0 AS BIGINT), (acc, t) -> acc + t)"
            ).alias("dot_e9"),
            "qn2_e9",
        )
    )
    scored = dots.join(n2, "vec_id").select(
        "qid",
        "qlabel",
        "vec_id",
        "label",
        (
            F.col("dot_e9").cast("double")
            / (F.sqrt(F.col("qn2_e9").cast("double")) * F.sqrt(F.col("n2_e9").cast("double")))
        ).alias("cos"),
    )
    topk = (
        scored.withColumn(
            "rk", F.expr("row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)")
        )
        .where(F.col("rk") <= _EVAL_K)
    )
    rel_total = (
        emb.select("vec_id", "label")
        .crossJoin(F.broadcast(q.select("qid", "qlabel")))
        .where((F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("qid")))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rel"))
    )
    m = topk.groupBy("qid").agg(
        F.min(F.when(F.col("label") == F.col("qlabel"), F.col("rk"))).alias("first_rel"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("label") == F.col("qlabel"),
                    F.expr(f"element_at({_W_ARR}, rk)"),
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("dcg_e9"),
    )
    return (
        m.join(rel_total, "qid", "left")
        .withColumn("n_rel", F.coalesce("n_rel", F.lit(0)).cast("bigint"))
        .select(
            "qid",
            "n_rel",
            F.coalesce("first_rel", F.lit(0)).cast("int").alias("first_rel_rank"),
            "dcg_e9",
            # greatest(..., 1): a query whose label has no other member
            # (n_rel = 0) must yield ndcg 0, not a 0-index array error
            # (dcg is 0 by construction in that case)
            F.expr(
                f"floor(CAST(dcg_e9 AS DOUBLE)"
                f" / element_at({_P_ARR}, CAST(greatest(least(n_rel, {_EVAL_K}), 1) AS INT))"
                f" * 1e6 + 0.5) / 1e6"
            ).alias("ndcg"),
            F.expr(
                "CASE WHEN first_rel IS NULL THEN 0.0"
                " ELSE floor(1e6 / first_rel + 0.5) / 1e6 END"
            ).alias("rr"),
        )
    )


@register(
    "ext_eval_cluster_assign",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS (
      SELECT label AS clabel, CAST(t.i AS INT) AS pos,
             round(avg(v[t.i + 1]), 6) AS cv
      FROM e, range(64) t(i)
      GROUP BY label, t.i
    ), d AS (
      SELECT e.vec_id, e.label, c.clabel,
             CAST(sum(CAST(floor((e.v[c.pos + 1] - c.cv) * (e.v[c.pos + 1] - c.cv)
                                 * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS dist2_e9
      FROM e, c
      GROUP BY e.vec_id, e.label, c.clabel
    ), a AS (
      SELECT vec_id, label, clabel AS assigned
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist2_e9, clabel) AS rn
        FROM d
      ) WHERE rn = 1
    ), cm AS (
      SELECT label AS true_label, assigned,
             CAST(count(*) AS BIGINT) AS n
      FROM a GROUP BY label, assigned
    ), rt AS (
      SELECT label AS l, CAST(count(*) AS BIGINT) AS r FROM a GROUP BY label
    ), ct AS (
      SELECT assigned AS l, CAST(count(*) AS BIGINT) AS c FROM a GROUP BY assigned
    ), g AS (
      SELECT (SELECT CAST(sum(n) AS BIGINT) FROM cm) AS n_total,
             (SELECT CAST(coalesce(sum(CASE WHEN true_label = assigned THEN n END), 0)
                          AS BIGINT) FROM cm) AS n_correct,
             (SELECT CAST(coalesce(sum(rt.r * ct.c), 0) AS BIGINT)
              FROM rt JOIN ct ON rt.l = ct.l) AS chance_mass
    )
    SELECT cm.true_label, cm.assigned, cm.n, g.n_total, g.n_correct,
           floor(CAST(g.n_correct AS DOUBLE) / g.n_total * 1e6 + 0.5) / 1e6
             AS accuracy,
           floor(CAST(g.n_total * g.n_correct - g.chance_mass AS DOUBLE)
                 / (g.n_total * g.n_total - g.chance_mass) * 1e6 + 0.5) / 1e6
             AS kappa
    FROM cm, g
    """,
)
def ext_eval_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification evaluation: assign every embedding
    to its closest label centroid (exact e9-integer squared distance,
    round-6 centroids — the ``ext_embed_outlier_topk`` conventions),
    emit the confusion matrix with global accuracy and COHEN'S KAPPA —
    the label-vs-cluster agreement gate run before trusting labels (or
    clusters) enough to stratify a training mixture on them.  Kappa is
    chance-corrected: with R/C the true/assigned marginals,
    κ = (N·correct − Σ_l R_l·C_l) / (N² − Σ_l R_l·C_l) — an EXACT
    integer expression here, closed by one floor-shifted division.

    Scale shape: the centroid frame is a fixed-cardinality aggregate
    (labels × 64) broadcast against the corpus; the per-vec argmin is a
    10-row window partitioned by vec_id; confusion cells (≤ labels²)
    and marginals are driver-trivial.  One corpus-scale shuffle (the
    per-vec distance groupBy)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "xv")
    )
    cent = (
        emb.groupBy(F.col("label").alias("clabel"), F.col("pos").cast("int").alias("pos"))
        .agg(F.round(F.avg(F.col("xv").cast("double")), 6).alias("cv"))
    )
    d = (
        emb.join(F.broadcast(cent), "pos")
        .select(
            "vec_id",
            "label",
            "clabel",
            F.expr(
                "CAST(floor((CAST(xv AS DOUBLE) - cv) * (CAST(xv AS DOUBLE) - cv)"
                " * 1e9 + 0.5) AS BIGINT)"
            ).alias("t9"),
        )
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum("t9").cast("bigint").alias("dist2_e9"))
    )
    a = (
        d.withColumn(
            "rn",
            F.expr("row_number() OVER (PARTITION BY vec_id ORDER BY dist2_e9, clabel)"),
        )
        .where(F.col("rn") == 1)
        .select("vec_id", "label", F.col("clabel").alias("assigned"))
    )
    a = persist_tracked(a)
    cm = a.groupBy(F.col("label").alias("true_label"), "assigned").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    rt = a.groupBy(F.col("label").alias("l")).agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    ct = a.groupBy(F.col("assigned").alias("l")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    g = (
        cm.agg(
            F.sum("n").cast("bigint").alias("n_total"),
            F.coalesce(
                F.sum(F.when(F.col("true_label") == F.col("assigned"), F.col("n"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_correct"),
        )
        .crossJoin(
            rt.join(ct, "l")
            .agg(
                F.coalesce(F.sum(F.expr("r * c")), F.lit(0))
                .cast("bigint")
                .alias("chance_mass")
            )
        )
    )
    return cm.crossJoin(F.broadcast(g)).select(
        "true_label",
        "assigned",
        "n",
        "n_total",
        "n_correct",
        F.expr(
            "floor(CAST(n_correct AS DOUBLE) / n_total * 1e6 + 0.5) / 1e6"
        ).alias("accuracy"),
        F.expr(
            "floor(CAST(n_total * n_correct - chance_mass AS DOUBLE)"
            " / (n_total * n_total - chance_mass) * 1e6 + 0.5) / 1e6"
        ).alias("kappa"),
    )

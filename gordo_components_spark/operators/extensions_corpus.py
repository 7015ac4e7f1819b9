"""Corpus lifecycle operators — the delta/versioning/LM layer a 100 TB
training-data pipeline runs BETWEEN crawls: incremental dedup of a new
batch against a persisted historical digest index, snapshot diffing of
two corpus versions, n-gram-LM out-of-vocabulary quality filtering
(CCNet-style), and two-pass heavy-hitter token mining (Misra–Gries
candidate sketch + exact recount).

All four faces are oracle-exact (integer / digest outputs only).  The
scale posture that makes each honest at 100 TB is documented per
operator; the common theme is *never rescan history*: the historical
side is reduced once (digest index, bigram vocabulary, per-partition
sketch) and only the delta / candidate set shuffles afterwards.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_components_spark.caches import footer_rows
from gordo_components_spark.registry import register, register_sql
from gordo_components_spark.sources.tables import load_table, spread_scan

# ---------------------------------------------------------------------------
# incremental dedup: new batch vs persisted historical digest index
# ---------------------------------------------------------------------------

_DEDUP_IDX_ROOT = "/tmp/gordo_spark_dedupidx"


def _json_artifact(sf_dir: str, name: str, table: str, compute):
    """A JSON-serializable offline trainer output (BPE merge table,
    KMeans centroids) computed once per fixture ``table`` and stored
    through ``caches.materialized_cache``."""
    from gordo_components_spark.caches import materialized_cache

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        with open(os.path.join(tmp, "payload.json"), "w") as fh:
            json.dump(compute(), fh)

    out = materialized_cache(sf_dir, "/tmp/gordo_spark_artifacts", name, table, build)
    with open(os.path.join(out, "payload.json")) as fh:
        return json.load(fh)


def build_dedup_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the historical digest index ONCE per corpus: the
    md5(text) set of the historical split, written under ``hist/`` as
    parquet partitioned by ``hp=`` (first hex nibble, 16 partitions).

    At 100 TB this is the whole point of *incremental* dedup: history is
    scanned exactly once ever; every nightly delta batch joins against
    this (much smaller) digest index instead of re-reading the corpus.
    The ``hp=`` layout keeps the index droppable/compactable per shard
    and gives the anti-join a pre-bucketed build side.  Installed through
    ``caches.materialized_cache``, so a concurrent builder never exposes
    a half-index and a deleted ``hist/`` is rebuilt."""
    from gordo_components_spark.caches import materialized_cache

    def build(tmp: str) -> None:
        (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 5 != 0)
            .select(F.md5("text").alias("text_hash"))
            .distinct()
            .withColumn("hp", F.substring("text_hash", 1, 1))
            .repartition("hp")
            .write.mode("overwrite")
            .partitionBy("hp")
            .parquet(os.path.join(tmp, "hist"))
        )

    return materialized_cache(sf_dir, _DEDUP_IDX_ROOT, "index", "documents", build)


def _delta_batch(docs: DataFrame) -> DataFrame:
    """The crawl-batch fixture shared by the whole incremental-dedup
    family (batch face, index merge, delta curation, streaming face):
    fresh docs (doc_id%5==0) plus re-crawled copies of already-ingested
    texts (doc_id%7==0, re-keyed +2000000).  One definition so the
    faces and their parity tests can never desynchronize."""
    fresh = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", "text", "lang", "source", F.md5("text").alias("text_hash")
    )
    recrawl = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        "text",
        "lang",
        "source",
        F.md5("text").alias("text_hash"),
    )
    return fresh.unionAll(recrawl)


# Two bodies: the Spark body reads the dedup index, which the oracle does not read.
@register(
    "pipe_dedup_incremental",
    oracle="""
    WITH hist AS (
      SELECT DISTINCT md5(text) AS text_hash FROM documents WHERE doc_id % 5 <> 0
    ), batch AS (
      SELECT doc_id, md5(text) AS text_hash FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, md5(text) AS text_hash
      FROM documents WHERE doc_id % 7 = 0
    ), intra AS (
      SELECT text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_in_batch
      FROM batch GROUP BY text_hash
    )
    SELECT i.text_hash, i.keep_id, CAST(i.n_in_batch AS BIGINT) AS n_in_batch
    FROM intra i
    WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.text_hash = i.text_hash)
    """,
)
def pipe_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-batch) exact dedup — the nightly-crawl shape of
    E1: a new batch (fresh docs plus re-crawls of already-ingested
    texts) is deduped first WITHIN the batch (min-doc_id wins per
    digest), then against the HISTORICAL corpus via an anti-join on a
    persisted digest index (``build_dedup_index``).  Output = the batch
    survivors that have never been seen before.

    100 TB shape: the historical corpus is never rescanned — its digest
    set was reduced once into an ``hp=``-partitioned parquet index; a
    delta batch is orders of magnitude smaller than history, so the
    anti-join shuffles only (batch digests + index digests), both
    digest-width, never text.  Intra-batch dedup is one combinable
    groupBy on the digest.  The fixture models history as doc_id%5!=0
    and the batch as doc_id%5=0 plus re-crawled copies (doc_id%7=0,
    re-identified) so both the fresh-survivor and seen-before paths are
    exercised."""
    root = build_dedup_index(spark, sf_dir)
    hist = spark.read.parquet(os.path.join(root, "hist")).select("text_hash")
    docs = load_table(spark, sf_dir, "documents")
    batch = _delta_batch(docs).select("doc_id", "text_hash")
    intra = batch.groupBy("text_hash").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_in_batch")
    )
    # the historical digest index is corpus-scale: it must never be a
    # broadcast build side (plan-guarded) — the anti-join shuffles both
    # sides on the digest, and with the index pre-partitioned by hp= a
    # storage-aware engine co-locates it for free
    return intra.join(hist.hint("SHUFFLE_HASH"), "text_hash", "left_anti").select(
        "text_hash", "keep_id", F.col("n_in_batch").cast("long").alias("n_in_batch")
    )


# ---------------------------------------------------------------------------
# snapshot diff: corpus version v1 vs v2
# ---------------------------------------------------------------------------

# the deterministic v2 fixture shared by pipe_snapshot_diff and
# pipe_embed_invalidate (drop doc_id%13, revise doc_id%11, add re-keyed
# doc_id%17) — one definition so the faces can never desynchronize
_V2_SQL = """
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN md5(text || ' rev2') ELSE md5(text) END AS h
      FROM documents WHERE doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, md5(text || ' new') AS h
      FROM documents WHERE doc_id % 17 = 0
"""


register_sql(
    "pipe_snapshot_diff",
    f"""
    WITH v1 AS (
      SELECT doc_id, md5(text) AS h FROM documents
    ), v2 AS ({_V2_SQL}
    )
    SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
           CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           v1.h AS old_hash, v2.h AS new_hash
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL OR v1.h <> v2.h
    """,
    doc="""Corpus snapshot diff — the data-versioning primitive (what a lake
    table format computes between two commits): full-outer join of two
    corpus versions on the stable key, rows classified added / removed /
    changed by digest comparison; unchanged rows are filtered out so the
    result is delta-sized, not corpus-sized.

    The fixture derives v2 from v1 deterministically (drop doc_id%13,
    revise text of doc_id%11, add re-keyed doc_id%17 copies) so both
    engines construct identical versions without extra fixtures.  100 TB
    shape: one shuffle on the key for the join; comparing md5 digests
    (not text) keeps shuffle rows digest-width — and with both versions
    stored bucketed by doc_id the join needs no shuffle at all.  The
    output is the CDC feed downstream incremental jobs consume.""",
)


# ---------------------------------------------------------------------------
# n-gram LM OOV-rate quality filter (CCNet-style, integer-exact)
# ---------------------------------------------------------------------------

_LM_MIN_COUNT = 2  # bigram must occur >= this often in train to enter the vocab


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, gram) postings shared by both LM faces.  The
    ``size(t) >= 2`` guard matters: Spark's ``sequence(1, 0)`` is the
    DESCENDING [1, 0], so unguarded single-token docs would emit junk
    grams instead of none."""
    bigrams = F.expr(
        "transform(sequence(1, size(t) - 1),"
        " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
    )
    return (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .where(F.expr("size(t) >= 2"))
        .select("doc_id", F.explode(bigrams).alias("gram"))
    )


@register(
    "ext_lm_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id, t[p] || ' ' || t[p+1] AS gram
      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS p FROM tok)
    ), vocab AS (
      SELECT gram FROM grams WHERE doc_id % 10 < 8
      GROUP BY gram HAVING COUNT(*) >= {_LM_MIN_COUNT}
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN v.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST((SUM(CASE WHEN v.gram IS NULL THEN 1 ELSE 0 END) * 1000)
                // COUNT(*) AS BIGINT) AS oov_permille
    FROM (SELECT * FROM grams WHERE doc_id % 10 >= 8) g
    LEFT JOIN vocab v ON g.gram = v.gram
    GROUP BY g.doc_id
    """,
)
def ext_lm_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-LM quality filtering, the integer-exact face (CCNet trains
    a KenLM on a clean split and drops held-out docs the model finds
    surprising): a bigram vocabulary is induced on the train split
    (doc_id%10<8, min-count 2), and every held-out doc is scored by
    its out-of-vocabulary bigram rate — high OOV-permille = the doc's
    word transitions never occur in clean text (gibberish, boilerplate,
    wrong-language), the exact signal perplexity filters threshold on.
    All outputs are integers (count, count, floor-permille) so the
    oracle is bit-exact; the log-prob variant of the same pipeline is
    ``ext_lm_cross_entropy`` (rows-only — transcendentals are excluded
    from checked outputs by repo convention).

    100 TB shape: the vocabulary is corpus-scale (never broadcast,
    plan-audited); grams shuffle once on the gram for both the vocab
    reduction and the held-out probe join — a combinable groupBy and one
    shuffle-hash left join, then a doc_id rollup.  The train side is
    reduced to (gram) rows once; at scale the vocab would persist as an
    index and nightly batches would join against it exactly like
    ``pipe_dedup_incremental``'s digest index."""
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    grams = _doc_bigrams(docs)
    vocab = (
        grams.where(F.col("doc_id") % 10 < 8)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= _LM_MIN_COUNT)
        .select("gram")
    )
    held = grams.where(F.col("doc_id") % 10 >= 8).repartition(n, "gram")
    # the vocabulary is corpus-scale at 100 TB: never a broadcast build
    # side (plan-guarded) — both sides shuffle on the gram once
    probed = held.join(
        vocab.withColumn("in_vocab", F.lit(1)).hint("SHUFFLE_HASH"), "gram", "left"
    )
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        oov.alias("n_oov"),
    ).select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_oov").cast("long").alias("n_oov"),
        F.expr("CAST((n_oov * 1000) DIV n_bigrams AS BIGINT)").alias("oov_permille"),
    )


# ---------------------------------------------------------------------------
# heavy hitters: Misra-Gries candidates + exact recount (two-pass)
# ---------------------------------------------------------------------------

_HH_INV_PHI = 2000  # heavy hitter := global count > N / _HH_INV_PHI
_HH_CAPACITY = 2047  # per-partition Misra-Gries capacity (>= _HH_INV_PHI - 1)


def _misra_gries_partition(batches, capacity: int):
    """Per-partition Misra–Gries summary over a token stream, vectorized
    per ARROW BATCH (r14, guide §4.2).  Tokenize: join every document in
    the batch with single spaces and split once — ``" ".join(docs)
    .split(" ")`` is exactly the concatenation of the per-document
    ``split(" ")`` streams (a single-char separator can never merge or
    split tokens across the boundary), so the token multiset is
    identical to the old per-doc path.  Count: ONE ``value_counts``
    over the flattened batch (C-speed hash count).  Merge: one aligned
    Series add, then one batched decrement round when the union exceeds
    ``capacity`` — debit the (capacity+1)-th largest residual
    (``np.partition``, O(n)) from every entry and drop the
    non-positives.  The guarantee survives the batching: in each round
    the top capacity+1 entries all have residual >= debit, so every
    round removes at least (capacity+1)*debit of inserted mass, hence
    sum(debits) <= Np/(capacity+1) — any token with local count above
    that bound still survives (same bound as per-insertion compaction;
    only the false-positive set differs, and pass 2's exact recount
    makes the output independent of that set).  Memory: carried state
    is <= capacity entries; the per-batch transient is the batch's own
    distinct-token count, which the value_counts structure materializes
    anyway (the r5 bounded-state advisory concerned the carried
    accumulator, which stays bounded).  Emits (token, est) survivor
    rows plus one (NULL, Np) stream-length row so pass 2 gets N for
    free."""
    import numpy as np
    import pandas as pd

    counts = pd.Series(dtype="int64")
    np_total = 0

    # bound the tokenize transient to ~256 docs at a time (r14 verdict
    # item 6): one Arrow batch is up to 10k rows, and joining/splitting
    # ALL of them materializes every token in the batch as one Python
    # list (~1-2 GB per worker with 100 KB docs).  Chunking keeps the
    # identical token multiset and the identical MG bound — the
    # Σdebits <= Np/(capacity+1) argument is per decrement ROUND and
    # never depended on rounds aligning with Arrow batches; pass 2's
    # exact recount makes the OUTPUT independent of the candidate set.
    _CHUNK_DOCS = 256
    for pdf in batches:
        col = pdf["text"]
        for lo in range(0, len(col), _CHUNK_DOCS):
            chunk = col.iloc[lo : lo + _CHUNK_DOCS]
            flat = " ".join(chunk).split(" ")
            np_total += len(flat)
            vc = pd.Series(flat, dtype=object).value_counts()
            merged = counts.add(vc, fill_value=0) if len(counts) else vc
            if len(merged) > capacity:
                vals = merged.to_numpy()
                # (capacity+1)-th largest = ascending rank len-capacity-1
                debit = np.partition(vals, len(vals) - capacity - 1)[
                    len(vals) - capacity - 1
                ]
                merged = merged[merged > debit] - debit
            # aligned add goes through float64; counts stay well under
            # 2^53 per partition so the cast back is exact
            counts = merged.astype("int64")
    out = pd.DataFrame(
        {
            "token": list(counts.index) + [None],
            "est": list(counts.to_numpy()) + [np_total],
        }
    )
    yield out.astype({"est": "int64"})


@register(
    "agg_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT t.token FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
    ), tot AS (
      SELECT COUNT(*) AS n FROM tok
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tok, tot
    GROUP BY token, tot.n
    HAVING COUNT(*) * {_HH_INV_PHI} > tot.n
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-token mining via the classic two-pass distributed heavy
    hitter: pass 1 runs a Misra–Gries sketch per partition (bounded
    memory — capacity 2047 counters regardless of vocabulary size) to
    produce a candidate set plus the exact stream length; pass 2
    recounts ONLY the candidates exactly and keeps those with count >
    N/2000.

    The sketch guarantee (any token with global count > N/2000 exceeds
    Np/(capacity+1) in at least one partition by pigeonhole, so it
    survives that partition's summary) means candidates ⊇ true heavy
    hitters; the exact recount then removes false positives — so the
    approximate pipeline's OUTPUT is exact, and the oracle is a plain
    HAVING query.  This is how sketches should be used at 100 TB: the
    full token groupBy would shuffle the corpus vocabulary; here pass 1
    reduces each partition to <= capacity+1 rows driver-free, the
    candidate set (<= capacity·partitions rows) broadcasts into pass 2's
    semi-join, and only candidate occurrences reach the final combinable
    groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    # shuffle RAW text into the island (r14, guide §2.3): the repartition
    # used to carry pre-split token ARRAYS (offsets + per-token framing);
    # the island now splits the batch itself, so the exchange ships the
    # strictly smaller text payload
    toks = docs.select("text").repartition(n)
    summaries = toks.mapInPandas(
        lambda it: _misra_gries_partition(it, _HH_CAPACITY), "token string, est long"
    )
    from gordo_components_spark.caches import persist_tracked

    summaries = persist_tracked(summaries)
    total = summaries.where(F.col("token").isNull()).agg(F.sum("est").alias("n"))
    candidates = summaries.where(F.col("token").isNotNull()).select("token").distinct()
    occurrences = docs.select(F.explode(F.split("text", " ")).alias("token"))
    exact = (
        occurrences.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .where(F.col("cnt") * _HH_INV_PHI > F.col("n"))
        .select("token", F.col("cnt").cast("long").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# BPE encode: apply the induced merge table corpus-wide (Arrow island)
# ---------------------------------------------------------------------------


def _bpe_encode_oracle() -> str:
    """Oracle for ``pipe_bpe_encode``: the SAME generated CTE chain that
    verifies ``pipe_bpe_merges`` (the iterative corpus rebuild), but
    selecting the FINAL token state instead of the merge stats — an
    independent algorithm path from the Spark side's rank-ordered greedy
    apply, so agreement is a strong cross-check of BPE semantics."""
    from gordo_components_spark.operators.extensions_pipeline import (
        _BPE_ITERS,
        _bpe_iteration_sql,
    )

    return (
        "WITH toks_1 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)"
        + "".join(_bpe_iteration_sql(i) for i in range(1, _BPE_ITERS + 1))
        + f" SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,"
        f" array_to_string(t, '␟') AS toks FROM toks_{_BPE_ITERS + 1}"
    )


def _bpe_apply_batches(batches, merges: list):
    """Greedy left-to-right application of the ranked merge list to each
    doc's token sequence — identical semantics to one odd-island merge
    pass per rank (what both the DF loop and the CTE oracle compute)."""
    import pandas as pd

    def encode(text: str) -> list:
        toks = text.split(" ")
        for lhs, rhs, joined in merges:
            out, i, n = [], 0, len(toks)
            while i < n:
                if i + 1 < n and toks[i] == lhs and toks[i + 1] == rhs:
                    out.append(joined)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        return toks

    for pdf in batches:
        enc = [encode(t) for t in pdf["text"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_tokens": [len(t) for t in enc],
                "toks": ["␟".join(t) for t in enc],
            }
        )


@register("pipe_bpe_encode", oracle=_bpe_encode_oracle())
def pipe_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale — the encode half of the BPE
    loop (``pipe_bpe_merges`` is the train half): the induced merge
    table (one row per rank — the trainer artifact, here collected from
    the induction query itself; at scale it loads from the model
    registry) is broadcast to an Arrow-batched ``mapInPandas`` island
    that greedily applies each merge rank left-to-right per document.

    The driver boundary is the merge TABLE (rank count rows — bounded by
    the vocabulary budget, never by corpus size); the corpus itself is
    encoded in one embarrassingly-parallel scan with zero shuffles.  The
    oracle rebuilds the final token state through the generated
    per-iteration CTE chain — a completely different algorithm shape
    (corpus-wide odd-island rebuild per rank) that must agree
    bit-exactly, token list and all."""
    from gordo_components_spark.ml.islands import _spread
    from gordo_components_spark.operators.extensions_pipeline import (
        _BPE_ITERS,
        _BPE_SEP,
        pipe_bpe_merges,
    )

    def induce() -> list:
        rows = (
            pipe_bpe_merges(spark, sf_dir).select("it", "lhs", "rhs").orderBy("it").collect()
        )
        return [[r["lhs"], r["rhs"]] for r in rows]

    pairs = _json_artifact(sf_dir, f"bpemerges_i{_BPE_ITERS}", "documents", induce)
    merges = [(lhs, rhs, f"{lhs}{_BPE_SEP}{rhs}") for lhs, rhs in pairs]
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _spread(docs, ("doc_id",)).mapInPandas(
        lambda it: _bpe_apply_batches(it, merges),
        "doc_id long, n_tokens long, toks string",
    )


# ---------------------------------------------------------------------------
# LM cross-entropy (rows-only: transcendental outputs by design)
# ---------------------------------------------------------------------------


@register("ext_lm_cross_entropy")
def ext_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The log-prob face of ``ext_lm_oov_rate`` — per held-out document,
    add-one-smoothed bigram cross-entropy under the train-split LM:
    H(d) = -(1/n) Σ ln((c(w1 w2)+1)/(c(w1)+V)), the CCNet/KenLM quality
    score pipelines threshold on.  Registered rows-only: ln() outputs
    are excluded from hash-checked faces by repo convention (engines'
    libm may differ in the last ulp); numeric parity vs an independent
    numpy LM is pinned in tests/test_corpus_lifecycle.py instead.

    Same scale shape as the OOV face: bigram/unigram count reductions on
    the train split (combinable groupBys, vocabulary never broadcast),
    two shuffle joins on the gram keys, one doc_id rollup."""
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    grams = _doc_bigrams(docs)
    unis = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    train_g = grams.where(F.col("doc_id") % 10 < 8)
    train_u = unis.where(F.col("doc_id") % 10 < 8)
    big_c = train_g.groupBy("gram").agg(F.count(F.lit(1)).alias("c2"))
    uni_c = train_u.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    v_size = uni_c.agg(F.count(F.lit(1)).alias("v"))
    held = (
        grams.where(F.col("doc_id") % 10 >= 8)
        .withColumn("w", F.expr("split(gram, ' ')[0]"))
        .repartition(n, "gram")
    )
    scored = (
        held.join(big_c.hint("SHUFFLE_HASH"), "gram", "left")
        .join(uni_c.hint("SHUFFLE_HASH"), "w", "left")
        .crossJoin(F.broadcast(v_size))
        .select(
            "doc_id",
            (
                -F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                )
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("nll"), 6).alias("cross_entropy"),
    )


# ---------------------------------------------------------------------------
# semantic dedup: learned KMeans clusters as the blocking key (SemDeDup)
# ---------------------------------------------------------------------------

_SEM_K = 16  # cluster-count floor
_SEM_M = 3  # multi-assignment spill: each vector joins its m nearest clusters
_SEM_TAU = 0.30  # cosine threshold, matches ext_dedup_embed_cos
_SEM_TARGET = 250  # target vectors per cluster — k grows with the corpus
_SEM_PROBE = 3  # coarse cells probed per vector in the two-level routing
_SEM_FIT_CAP = 20_000  # per-cell Lloyd training-sample cap (FAISS-style)


def _sem_k_for(n_rows: int) -> int:
    """SemDeDup's k must SCALE with the corpus: with fixed k, cluster
    size grows linearly and within-cluster pair volume quadratically —
    the 10x rehearsal measured exactly that (ratio 30 at k=16) before k
    was derived from the embeddings parquet footer, the same fix RP-LSH
    got in round 3.  Constant target cluster size keeps pair volume
    linear in n (~ n * target * m^2 / 2)."""
    return max(_SEM_K, -(-n_rows // _SEM_TARGET))


def _stack64(col) -> "np.ndarray":  # noqa: F821 - numpy imported at call sites
    """(n, dim) float64 matrix from an Arrow list column — np.vstack on
    the ndarray elements Arrow hands back is a C loop; the old per-row
    ``list(map(float, v))`` was ~10^8 interpreter calls at the 100x
    rehearsal and dominated the semantic-dedup islands (round 8)."""
    import numpy as np

    vals = col.to_numpy()
    if len(vals) == 0:
        return np.zeros((0, 0), dtype=np.float64)
    return np.vstack([np.asarray(v, dtype=np.float64) for v in vals])


def _coarse_route_island(emb_v: "DataFrame", coarse: list, probe: int) -> "DataFrame":
    """(vec_id, cell, v) rows for each vector's ``probe`` nearest coarse
    cells — ONE BLAS matmul per Arrow batch instead of an n×c
    crossJoin of interpreted zip_with folds plus an n·c-row
    per-vector window (round-8 second-decade fix: the interpreted
    routing's n·√k evaluations measured ratio 15.6 at 10×→100×; the
    same flops in a batched matmul are throughput-bound).  The coarse
    matrix is a CLOSURE: c = ceil(sqrt(k)) rows is driver-small at any
    corpus size (it is the √ of the fine count).  Ranking is on
    −2·x·c + ‖c‖² (per-vector ‖x‖² is rank-invariant) with a stable
    argsort, so ties break toward the lower cell id exactly like the
    (d², cell) window ordering it replaces."""
    import numpy as np

    C = np.asarray(coarse, dtype=np.float64)
    Cn = (C * C).sum(1)
    p = min(probe, len(C))

    def route(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            X = _stack64(pdf["v"])
            D = X @ C.T * -2.0 + Cn[None, :]
            order = np.argsort(D, axis=1, kind="stable")[:, :p]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), p),
                    "cell": order.astype(np.int32).ravel(),
                    "v": [pdf["v"].iloc[i] for i in range(len(pdf)) for _ in range(p)],
                }
            )

    return emb_v.mapInPandas(route, "vec_id long, cell int, v array<double>")


def _sem_fit_hierarchical(
    spark: SparkSession, sf_dir: str, n_vecs: int, k: int, n_coarse: int
) -> dict:
    """Hierarchical centroid fit for the SemDeDup blocker, O(n*sqrt(k))
    BLAS instead of a flat O(n*k) KMeans (which with k = n/target is
    quadratic — round 5's worst rehearsal ratio):

    1. coarse: MLlib KMeans with c = ceil(sqrt(k)) cells over a
       DETERMINISTIC hash-sample of the corpus capped at
       max(100k, 200·c) rows (quantizers are trained on samples —
       FAISS practice; a full-corpus MLlib fit at 100 TB would pay
       n·c·iters for no quality gain.  At the checked SFs the cap
       exceeds n, so the sample IS the corpus).
    2. assign each vector its single nearest coarse cell via the
       batched-matmul routing island (O(n*sqrt(k)) BLAS flops,
       linear rows).
    3. fine: per-cell numpy Lloyd inside applyInPandas — each cell
       trains k_i ~ k * n_i / n centroids on at most _SEM_FIT_CAP
       deterministically-sampled cell members, so executor memory is
       bounded regardless of corpus size.  Total fine work is
       sum(n_i * k_i) ~ n * k / c = O(n*sqrt(k)).

    Returns ``{"coarse": [c centers], "fine": [[cell, center], ...]}``
    as a JSON-able offline artifact (same cache discipline as the IVF
    index)."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    fit_cap = max(100_000, 200 * n_coarse)
    samp_mod = max(1, n_vecs // fit_cap)
    feats = emb.where(F.pmod(F.xxhash64("vec_id"), F.lit(samp_mod)) == 0).select(
        "vec_id",
        F.col("embedding").alias("v"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    coarse_model = KMeans(k=n_coarse, seed=7, maxIter=20).fit(feats)
    coarse = [[float(x) for x in c] for c in coarse_model.clusterCenters()]

    routed = _coarse_route_island(
        emb.select("vec_id", F.col("embedding").alias("v")), coarse, probe=1
    ).select("cell", "vec_id", "v")

    def lloyd_cell(pdf):
        import pandas as pd

        # group order is nondeterministic: sort before seeding
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        cell = int(pdf["cell"].iloc[0])
        X = _stack64(pdf["v"])
        n_raw = len(X)
        rng = np.random.RandomState(7 + cell)
        if n_raw > _SEM_FIT_CAP:
            X = X[rng.choice(n_raw, size=_SEM_FIT_CAP, replace=False)]
        n_i = len(X)
        # k_i scales with the cell's TRUE (pre-cap) population share, but
        # the seeding draw below samples from the capped X — clamp to the
        # post-cap row count or a skewed cell with > cap*target vectors
        # makes choice(n_i, size=k_i, replace=False) raise at exactly the
        # 100 TB scale the cap exists for.
        k_i = max(1, min(n_i, round(k * n_raw / max(1, n_vecs))))
        C = X[rng.choice(n_i, size=k_i, replace=False)].copy()
        for _ in range(15):
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin drops ||x||^2
            d = X @ C.T * -2.0 + (C * C).sum(1)[None, :]
            a = d.argmin(1)
            for j in range(k_i):
                m = a == j
                if m.any():
                    C[j] = X[m].mean(0)
        return pd.DataFrame(
            {"cell": [cell] * k_i, "cv": [json.dumps(list(row)) for row in C]}
        )

    from gordo_components_spark.ml.islands import _spread

    fine_rows = (
        _spread(routed, ("cell",))
        .groupBy("cell")
        .applyInPandas(lloyd_cell, "cell int, cv string")
        .collect()
    )
    fine = sorted(
        ((int(r["cell"]), json.loads(r["cv"])) for r in fine_rows),
        key=lambda t: (t[0], t[1]),
    )
    return {"coarse": coarse, "fine": [[c, v] for c, v in fine]}


@register("ext_dedup_semantic")
def ext_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: instead of a GIVEN blocking key
    (``ext_dedup_embed_cos`` blocks on the fixture's label), LEARN the
    blocks — MLlib KMeans (fixed seed) clusters the embedding space and
    near-duplicate pairs are mined only WITHIN shared clusters, with
    IVF-style MULTI-ASSIGNMENT: each vector spills into its m nearest
    centroids, so pairs that straddle one cluster boundary are still
    co-blocked (single-probe recall is poor exactly when the threshold
    is a weak-similarity one like this fixture's tau=0.30; production
    SemDeDup at tau~0.95 needs m=1).  Registered rows-only (KMeans is
    iterative, not SQL-expressible); recall >= 0.75 vs the exact
    all-pairs ground truth and the no-false-positive property are
    pinned in tests/test_corpus_lifecycle.py.

    100 TB shape — TWO-LEVEL routing, because k must scale with the
    corpus (``_sem_k_for``) and a flat vector x all-k-centroids
    crossJoin is therefore O(n*k) = O(n^2/target), quadratic (the
    round-5 rehearsal measured ratio 8.3).  The k fine centroids are
    grouped under c = ceil(sqrt(k)) coarse cells, fitted
    hierarchically (sampled coarse MLlib KMeans, then a per-cell numpy
    Lloyd inside applyInPandas — total fit work O(n*sqrt(k)) BLAS,
    never O(n*k*iter)):

    * routing (round-8 second-decade fix — the previous interpreted
      crossJoin+window routing measured 10x->100x ratio 15.6; the
      n*sqrt(k) term must be BLAS, not per-row exprs): a mapInPandas
      island matmuls each Arrow batch against the sqrt(k)-row coarse
      matrix (a closure — driver-small at any corpus size) and emits
      the _SEM_PROBE nearest cells; fine ranking is a cogroup island
      per (cell, shard) — the k-row fine table stays DISTRIBUTED
      (never a closure/broadcast: k scales with the corpus), each
      cell's ~sqrt(k) centroids meet their routed vectors in bounded
      Arrow groups (the shard key caps per-task vectors at ~50k;
      replicating sqrt(k) centroid rows per shard is a vanishing row
      fraction), and each group pre-reduces to its per-vector top-m,
      so the global top-m window sees <= probe*m rows per vector.
      Row volumes are linear in n everywhere; the n*sqrt(k) flops ride
      batched matmuls.  No corpus-x-k nested-loop join exists anywhere
      in the plan (guarded in tests/test_plan_properties.py).
    * pair mining shuffles the n*m assignment rows on fine-cluster id
      into a per-cluster BLAS island (one numpy matmul per bounded
      cluster), so pair volume stays ~(m^2 * target / 2) * n — linear
      in n — and the dot products are vectorized instead of ~23M
      interpreted zip_with evaluations (the round-5 SQL self-join).
    A pair sharing several spill clusters is emitted exactly once, by
    its MINIMUM shared cluster (the canonical-cluster rule — decided
    island-locally from the members' assignment sets), so no
    output-pair-scale exchange exists anywhere in the plan: at the
    fixture's weak τ=0.30 the op is OUTPUT-BOUND (152M pairs at the
    100× rehearsal, growing ~11× per decade — the round-9 profile
    showed per-pair cost IMPROVING with scale), and the old global
    distinct() was the one shuffle whose bytes grew with the pair
    count rather than the corpus."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    n_vecs = footer_rows(sf_dir, "embeddings")
    k = _sem_k_for(n_vecs)
    n_coarse = max(2, math.isqrt(k - 1) + 1)  # ceil(sqrt(k))

    # k and c follow from the footer row count the cache already keys on
    art = _json_artifact(
        sf_dir,
        "semcent_s7_v4",
        "embeddings",
        lambda: _sem_fit_hierarchical(spark, sf_dir, n_vecs, k, n_coarse),
    )
    fine = spark.createDataFrame(
        [(int(i), int(cell), cv) for i, (cell, cv) in enumerate(art["fine"])],
        "cluster int, cell int, cv array<double>",
    )
    # coarse routing: batched-matmul island (see _coarse_route_island —
    # the r8 second-decade fix; the coarse matrix is a sqrt(k)-row
    # closure, never a join side)
    routed = _coarse_route_island(
        emb.select("vec_id", F.col("embedding").alias("v")), art["coarse"], _SEM_PROBE
    )
    # fine ranking: cogroup island per (cell, shard) — the fine table
    # stays DISTRIBUTED (k = n/target scales with the corpus; a closure
    # or forced broadcast dies past driver RAM), each cell's ~sqrt(k)
    # centroids meet their routed vectors in bounded Arrow groups, and
    # the shard key caps a task's vector count: replicating sqrt(k)
    # centroid rows per 50k-vector shard adds a vanishing row fraction,
    # while per-task flops stay ~50k*sqrt(k)*dim BLAS.  Each group emits
    # only its per-vector top-m, so the global-window input is <=
    # probe*m rows per vector — linear, never n*sqrt(k) rows.
    # Shard counts are PER-CELL (r8 review): a global count derived from
    # the average cell only caps the average — under coarse-cell skew a
    # hot cell's group would blow past the 50k bound.  The fit artifact
    # already sized k_i ∝ cell population, so per-cell routed volume
    # (~probe·n·k_i/k) is known driver-side with no extra corpus pass.
    # Sharding never changes results: per-group top-m is an exact
    # pre-reduction (every group holds its cell's FULL centroid set).
    from collections import Counter

    kcounts = Counter(int(cell) for cell, _ in art["fine"])
    shard_of = [
        max(1, math.ceil(_SEM_PROBE * n_vecs * kcounts.get(c, 0) / max(k, 1) / 50_000))
        for c in range(n_coarse)
    ]
    if max(shard_of) == 1:
        # every cell fits one group (all checked SFs): the shard joins
        # would be pure constant overhead — same cogroup, degenerate key
        routed_s = routed.withColumn("shard", F.lit(0))
        fine_s = fine.withColumn("shard", F.lit(0))
    elif len(set(shard_of)) == 1:
        # balanced cells, uniform count (the 10x/100x rehearsal case):
        # a literal modulus keeps the n*probe-row side join-free
        s = shard_of[0]
        routed_s = routed.withColumn(
            "shard", F.pmod(F.col("vec_id"), F.lit(s)).cast("int")
        )
        fine_s = fine.crossJoin(
            spark.range(s).select(F.col("id").cast("int").alias("shard"))
        )
    else:
        nsh_df = spark.createDataFrame(
            [(c, n) for c, n in enumerate(shard_of)], "cell int, nsh int"
        )
        routed_s = (
            routed.join(nsh_df, "cell")
            .withColumn("shard", F.pmod(F.col("vec_id"), F.col("nsh")).cast("int"))
            .drop("nsh")
        )
        fine_s = (
            fine.join(nsh_df, "cell")
            .withColumn("shard", F.explode(F.expr("sequence(0, nsh - 1)")))
            .select("cluster", "cell", "cv", F.col("shard").cast("int").alias("shard"))
        )

    def rank_fine(key, routed_pdf, fine_pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_id": pd.Series(dtype="int64"),
                "cluster": pd.Series(dtype="int32"),
                "score": pd.Series(dtype="float64"),
            }
        )
        if not len(routed_pdf) or not len(fine_pdf):
            return empty
        fine_pdf = fine_pdf.sort_values("cluster").reset_index(drop=True)
        C = _stack64(fine_pdf["cv"])
        clusters = fine_pdf["cluster"].to_numpy()
        X = _stack64(routed_pdf["v"])
        # rank on -2 x.c + |c|^2: per-vector |x|^2 is rank-invariant and
        # cancels in the cross-cell global window too (same |x|^2 there)
        D = X @ C.T * -2.0 + (C * C).sum(1)[None, :]
        m = min(_SEM_M, len(clusters))
        order = np.argsort(D, axis=1, kind="stable")[:, :m]  # ties -> lower cluster
        rows = np.repeat(np.arange(len(X)), m)
        cols = order.ravel()
        return pd.DataFrame(
            {
                "vec_id": routed_pdf["vec_id"].to_numpy()[rows],
                "cluster": clusters[cols].astype(np.int32),
                "score": D[rows, cols],
            }
        )

    # the ranked candidates are NARROW (no vector payload): carrying v
    # through the cogroup output and the global window would shuffle
    # probe*m copies of every 64-dim vector (~1 GB at the 100x
    # rehearsal); instead the top-m survivors re-fetch v with ONE
    # key join against the embeddings scan (both sides corpus-scale,
    # pinned SHUFFLE_HASH — no sort, no broadcast of a growing side)
    cand = (
        routed_s.groupBy("cell", "shard")
        .cogroup(fine_s.groupBy("cell", "shard"))
        .applyInPandas(rank_fine, "vec_id long, cluster int, score double")
    )
    topm = (
        cand.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("score").asc(), F.col("cluster").asc()
                )
            ),
        )
        .where(F.col("rn") <= _SEM_M)
        .select("vec_id", "cluster")
    )
    # per-vector assignment SET travels with each exploded assignment row
    # (round-9): the mining island needs every pair's full shared-cluster
    # set to apply the canonical-cluster rule below — 3 extra ints per
    # row, which buys the removal of the output-scale distinct() shuffle
    asg = topm.groupBy("vec_id").agg(
        F.sort_array(F.collect_list("cluster")).alias("cls")
    )
    assigned = (
        asg.join(
            emb.select("vec_id", F.col("embedding").alias("v")).hint("SHUFFLE_HASH"),
            "vec_id",
        )
        .select("vec_id", "cls", "v", F.explode("cls").alias("cluster"))
    )
    # within-cluster pair mining as a BLAS island: the SQL self-join
    # computes ~n * target * m^2 / 2 interpreted 64-dim zip_with dot
    # products (25 s of the 10x rehearsal's 27 s); one numpy matmul per
    # cluster does the same flops vectorized, ~20x faster, and shuffles
    # only the n*m assignment rows instead of the full pair frame.
    # Cluster sizes are bounded (~target * m) by the k derivation, so
    # per-group memory is bounded; the row-block loop keeps a skewed
    # cluster from materializing a quadratic similarity matrix at once.
    # Final HALF_UP round to 6 decimals happens Spark-side, which can LIFT
    # a raw cosine by up to half an output ulp (5e-7); the island pre-filter
    # must keep every pair that could round up to tau, so its margin is a
    # full half-ulp plus slack — not just float noise (1e-9 dropped pairs
    # with raw cosine in [tau-5e-7, tau-1e-9) that round to exactly tau).
    tau_loose = _SEM_TAU - 5.0001e-7

    def cluster_pairs(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        X = _stack64(pdf["v"])
        n_i = len(X)
        out_a, out_b, out_c = [], [], []
        if n_i >= 2:
            # canonical-cluster rule (round-9, replaces the output-scale
            # distinct() shuffle): a pair co-blocked in several shared
            # spill clusters is emitted ONLY by its minimum shared
            # cluster.  Both members carry their full sorted assignment
            # set (cls), so the rule is decided locally: min over the
            # positional-compare intersection of the two ≤m-element
            # sets.  The tau_loose prefilter margin already covers the
            # ~1e-14 matmul-path variation between clusters, so the
            # canonical cluster sees every pair the old union saw.
            cur = int(pdf["cluster"].iloc[0])
            big = np.iinfo(np.int64).max
            L = max(len(c) for c in pdf["cls"])
            CL = np.full((n_i, L), big, dtype=np.int64)
            for idx, c in enumerate(pdf["cls"]):
                CL[idx, : len(c)] = c
            nrm = np.sqrt((X * X).sum(1))
            B = 2048
            for s in range(0, n_i, B):
                blk = slice(s, min(s + B, n_i))
                S = (X[blk] @ X.T) / np.outer(nrm[blk], nrm)
                bi, bj = np.nonzero(S >= tau_loose)
                gi = bi + s
                keep = gi < bj  # vec_a < vec_b (ids ascending)
                gi, bj = gi[keep], bj[keep]
                if len(gi):
                    A, Bc = CL[gi], CL[bj]
                    # shared-set minimum: pad sentinels only match pad
                    # sentinels, and `cur` is always shared, so the pad
                    # can never lower the minimum
                    shared_min = np.where(
                        (A[:, :, None] == Bc[:, None, :]).any(2), A, big
                    ).min(1)
                    canon = shared_min == cur
                    gi, bj = gi[canon], bj[canon]
                out_a.append(ids[gi])
                out_b.append(ids[bj])
                out_c.append(S[gi - s, bj])
        if not out_a:
            return pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                                 "vec_b": pd.Series(dtype="int64"),
                                 "raw_cos": pd.Series(dtype="float64")})
        return pd.DataFrame({
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
            "raw_cos": np.concatenate(out_c),
        })

    from gordo_components_spark.ml.islands import _spread

    mined = (
        _spread(assigned, ("cluster",))
        .groupBy("cluster")
        .applyInPandas(cluster_pairs, "vec_a long, vec_b long, raw_cos double")
    )
    # HALF_UP rounding in Spark (numpy's round is half-even — would
    # produce false positives vs the exact ground truth on boundaries).
    # No distinct: the canonical-cluster rule inside the island already
    # guarantees each pair is emitted exactly once — the old
    # distinct() was the ONLY output-pair-scale exchange in the plan
    # (152M rows at the 100× rehearsal; the op is output-bound at the
    # fixture's weak τ=0.30, so that shuffle dominated), and it also
    # masked the case where two clusters' matmul paths rounded a
    # boundary pair differently (the pair appeared twice with two
    # cosines); single-emission removes both.
    return mined.select(
        "vec_a", "vec_b", F.round(F.col("raw_cos"), 6).alias("cosine")
    ).where(F.col("cosine") >= _SEM_TAU)


# ---------------------------------------------------------------------------
# BM25 full-text search (query-side top-k over the inverted postings)
# ---------------------------------------------------------------------------

_BM25_QUERY = ("hash", "join", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


@register(
    "ext_bm25_search",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t.token, COUNT(*) AS tf
      FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
      GROUP BY doc_id, t.token
    ), dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n_docs, SUM(len(string_split(text, ' '))) / COUNT(*) AS avgdl
      FROM documents
    ), q AS (
      SELECT unnest([{', '.join(repr(t) for t in _BM25_QUERY)}]) AS token
    ), df AS (
      SELECT tok.token, COUNT(*) AS df_t
      FROM tok JOIN q USING (token) GROUP BY tok.token
    ), idf AS (
      SELECT token, round(ln((stats.n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0), 9) AS idf
      FROM df, stats
    ), scored AS (
      SELECT tok.doc_id,
             round(idf.idf * (tok.tf * ({_BM25_K1} + 1.0))
                   / (tok.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                      + {_BM25_B} * dl.dl / stats.avgdl)), 9) AS part
      FROM tok JOIN q ON tok.token = q.token
      JOIN idf ON tok.token = idf.token
      JOIN dl ON tok.doc_id = dl.doc_id
      CROSS JOIN stats
    )
    SELECT doc_id, round(SUM(part), 6) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT {_BM25_TOPK}
    """,
)
def ext_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-side full-text retrieval: BM25 (Lucene idf form) top-k over
    the corpus for a fixed token query — the READ face of the inverted
    index whose WRITE face is ``ext_tfidf_similar``'s postings build.

    Float parity per registry conventions: idf and each per-term score
    part ROUND(…,9) (per-row IEEE ops are bit-identical; only
    accumulation order is not), per-doc sum ROUND(…,6), top-k with a
    unique (score, doc_id) tiebreak.

    100 TB shape: the query-token frame is rows-sized and broadcasts
    into a semi-probe of the postings — only postings of queried tokens
    flow, so work is Σ df(q_t), independent of corpus width; df/idf are
    per-queried-token aggregates of that same pruned stream; the only
    full-corpus touches are the doc-length projection and the 1-row
    (N, avgdl) aggregate, both combinable scans (in a deployed system
    dl/avgdl live in the index metadata, exactly like
    ``build_ivf_index``'s centroid sidecar).  The final top-k is
    TakeOrdered, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame([(t,) for t in _BM25_QUERY], "token string")
    # r14 (guide §2.3/§2.4): dl used to be a SECOND corpus-wide
    # split(text) projection joined onto the scored stream by doc_id — a
    # shuffle of one row per corpus document just to attach a value
    # already known at tokenize time.  Carry dl through the tokenize
    # projection and the groupBy(doc_id, token) instead (constant within
    # a doc; min() is order-independent): one split pass, and the only
    # remaining full-corpus touch is the 1-row (N, avgdl) aggregate.
    toks = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    qtoks = toks.join(F.broadcast(q), "token", "left_semi")
    tf = qtoks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.size(F.split("text", " "))) / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    # carry avgdl through the idf frame: a second crossJoin against a
    # different projection of `stats` would defeat ReuseExchange and
    # aggregate the corpus twice
    idf = df_t.crossJoin(F.broadcast(stats)).select(
        "token",
        F.round(
            F.log((F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0), 9
        ).alias("idf"),
        "avgdl",
    )
    part = F.round(
        F.col("idf")
        * (F.col("tf") * (_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        ),
        9,
    )
    scored = tf.join(F.broadcast(idf), "token").select("doc_id", part.alias("part"))
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("part"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# embedding-cache invalidation (snapshot diff × embeddings)
# ---------------------------------------------------------------------------


register_sql(
    "pipe_embed_invalidate",
    f"""
    WITH v2 AS ({_V2_SQL}
    ), delta AS (
      SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
             CASE WHEN v1.doc_id IS NULL THEN 'added' ELSE 'changed' END AS reason
      FROM (SELECT doc_id, md5(text) AS h FROM documents) v1
      FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      WHERE v2.doc_id IS NOT NULL AND (v1.doc_id IS NULL OR v1.h <> v2.h)
    )
    SELECT d.doc_id, d.reason,
           CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS has_stale_vector
    FROM delta d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    doc="""Embedding-cache invalidation — the maintenance join every
    vector-indexed corpus needs after a crawl: docs whose text CHANGED
    (stale vector must be re-embedded and the ANN index cell updated)
    or were ADDED (no vector yet) in the new snapshot, flagged with
    whether a stale vector currently exists.  Removed docs are the ANN
    index's delete feed and ride ``pipe_snapshot_diff`` directly.

    Composition face: reuses the snapshot-diff derivation (same v2
    fixture) and joins the delta — delta-sized, not corpus-sized —
    against the embeddings table on the shared id.  At 100 TB the
    embeddings side is large but the probe side is the delta, so this
    is a classic small-probe shuffle join; with embeddings bucketed by
    vec_id it degenerates to a map-side lookup.""",
)


# ---------------------------------------------------------------------------
# Bloom-filter blocklist join (hand-rolled, engine-identical bit algebra)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 4096  # m: filter width (64 bigint words)
_BLOOM_HASHES = 3  # k: md5-hex-slice hash functions


def _bloom_hash_sql(strpos_fn: str, key: str, slot: int) -> str:
    """Hash ``slot`` (0-based) of the bloom family: three md5 hex digits
    (positional-alphabet decode — NOT ascii(), whose codepoint bands are
    non-uniform) starting at offset 1+3*slot, giving a uniform bit
    position in [0, 4096).  The identical string compiles in Spark
    (instr) and DuckDB (strpos), so both engines build the SAME filter,
    false positives included."""
    digit = "({f}('0123456789abcdef', substr(md5({k}), {i}, 1)) - 1)"
    val = " + ".join(
        digit.format(f=strpos_fn, k=key, i=1 + 3 * slot + n) + f" * {16 ** (2 - n)}"
        for n in range(3)
    )
    return f"(({val}) % {_BLOOM_BITS})"


def _bloom_positions(strpos_fn: str, key: str) -> list:
    return [_bloom_hash_sql(strpos_fn, key, s) for s in range(_BLOOM_HASHES)]


def _bloom_oracle() -> str:
    probe = _bloom_positions("strpos", "d.text_hash")
    build = _bloom_positions("strpos", "b.text_hash")
    # 32-bit words: the max shift is 31, inside DuckDB's CHECKED bigint
    # shift range (1 << 63 raises Out of Range there, found at sf0.1)
    build_rows = " UNION ALL ".join(
        f"SELECT {p} // 32 AS word_idx, ((CAST(1 AS BIGINT)) << ({p} % 32)) AS bit FROM blk b"
        for p in build
    )
    probe_checks = " AND ".join(
        f"((SELECT bits FROM bloom WHERE word_idx = {p} // 32) >> ({p} % 32)) & 1 = 1"
        for p in probe
    )
    return f"""
    WITH blk AS (
      SELECT DISTINCT md5(text) AS text_hash FROM documents WHERE doc_id % 23 = 0
    ), bloom AS (
      SELECT word_idx, bit_or(bit) AS bits FROM ({build_rows}) GROUP BY word_idx
    ), corpus AS (
      SELECT doc_id, md5(text) AS text_hash FROM documents
    ), candidates AS (
      SELECT d.doc_id, d.text_hash FROM corpus d WHERE {probe_checks}
    )
    SELECT c.doc_id, c.text_hash,
           CAST((SELECT COUNT(*) FROM candidates) AS BIGINT) AS n_bloom_candidates
    FROM candidates c
    WHERE EXISTS (SELECT 1 FROM blk b WHERE b.text_hash = c.text_hash)
    """


@register("ext_bloom_blocklist", oracle=_bloom_oracle())
def ext_bloom_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filtering via a hand-rolled Bloom filter — the classic
    big-probe/small-build asymmetric join: the blocklist's k=3 md5-slice
    hashes fold into a fixed 4096-bit filter (128 x 32-bit words) by one
    bit_or aggregate; the filter BROADCASTS (it is constant-size no
    matter how large the blocklist grows — the whole point vs
    broadcasting the blocklist itself), the corpus probes it with pure
    bit algebra, and surviving candidates are CONFIRMED by an exact
    semi-join so false positives never reach the output.  Same
    sketch-generates-candidates / exact-pass-confirms design as
    ``agg_heavy_hitters``.

    Because the hash family is the engines-identical positional-hex
    decode (registry conventions; never ascii()), DuckDB builds the
    bit-identical filter — the oracle therefore verifies the bloom
    CONSTRUCTION (via the candidate count column, false positives and
    all), not just the final exact join.  100 TB: probe is one scan with
    a 512-byte broadcast; only bloom-positive rows (true hits + ~FP
    rate) reach the confirm shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", F.md5("text").alias("text_hash"))
    blk = (
        docs.where(F.col("doc_id") % 23 == 0)
        .select(F.md5("text").alias("text_hash"))
        .distinct()
    )
    pos = _bloom_positions("instr", "text_hash")
    build = None
    for p in pos:
        rows = blk.select(
            F.expr(f"{p} div 32").alias("word_idx"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {p} % 32)").alias("bit"),
        )
        build = rows if build is None else build.unionAll(rows)
    bloom = build.groupBy("word_idx").agg(F.expr("bit_or(bit)").alias("bits"))
    # the filter is 128 words max — collect to a plain dict and ship it
    # as a literal array expression (the broadcast-variable pattern; the
    # driver boundary is the CONSTANT filter size, never data size)
    words = {int(r["word_idx"]): int(r["bits"]) for r in bloom.collect()}
    word_arr = ", ".join(
        f"CAST({words.get(i, 0)} AS BIGINT)" for i in range(_BLOOM_BITS // 32)
    )
    checks = " AND ".join(
        f"(element_at(bloomw, CAST({p} div 32 AS INT) + 1) >> ({p} % 32)) & 1 = 1"
        for p in pos
    )
    candidates = (
        corpus.withColumn("bloomw", F.expr(f"array({word_arr})"))
        .where(F.expr(checks))
        .select("doc_id", "text_hash")
    )
    from gordo_components_spark.caches import persist_tracked

    candidates = persist_tracked(candidates)
    n_cand = candidates.agg(F.count(F.lit(1)).cast("long").alias("n_bloom_candidates"))
    return (
        candidates.join(blk, "text_hash", "left_semi")
        .crossJoin(F.broadcast(n_cand))
        .select("doc_id", "text_hash", "n_bloom_candidates")
    )


# ---------------------------------------------------------------------------
# Z-order layout (multi-dimensional clustering for data skipping)
# ---------------------------------------------------------------------------

_Z_BITS = 10  # per-dimension bits (1024 buckets each)
_Z_FILE_CELLS = 4096  # z-cells per output file => <= 256 files


def _z_interleave(div: str, x: str, y: str) -> str:
    """Morton/Z-value bit interleave as pure integer arithmetic (no shift
    operators, which differ across engines): bit b of x lands at 2b, of
    y at 2b+1.  The identical template renders for Spark (`div`) and
    DuckDB (`//`)."""
    terms = []
    for b in range(_Z_BITS):
        terms.append(f"(({x} {div} {2 ** b}) % 2) * {2 ** (2 * b)}")
        terms.append(f"(({y} {div} {2 ** b}) % 2) * {2 ** (2 * b + 1)}")
    return "(" + " + ".join(terms) + ")"


_Z_X = "(o_custkey % 1024)"
_Z_Y_DUCK = "((CAST(o_orderdate AS DATE) - DATE '1992-01-01') % 1024)"
_Z_Y_SPARK = "(datediff(CAST(o_orderdate AS DATE), DATE'1992-01-01') % 1024)"


@register(
    "pipe_zorder_layout",
    oracle=f"""
    WITH z AS (
      SELECT o_custkey % 1024 AS xb,
             (CAST(o_orderdate AS DATE) - DATE '1992-01-01') % 1024 AS yb,
             {_z_interleave("//", _Z_X, _Z_Y_DUCK)} AS zval
      FROM orders
    )
    SELECT zval // {_Z_FILE_CELLS} AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(xb) AS min_cust_bucket, MAX(xb) AS max_cust_bucket,
           MIN(yb) AS min_day_bucket, MAX(yb) AS max_day_bucket
    FROM z GROUP BY zval // {_Z_FILE_CELLS}
    """,
)
def pipe_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering — the lakehouse OPTIMIZE
    primitive for multi-dimensional data skipping: interleaving the bits
    of two scan dimensions (customer bucket, order-day bucket) gives a
    1-D sort key whose contiguous ranges are small RECTANGLES in both
    dimensions, so per-file min/max statistics prune scans filtered on
    EITHER dimension (a single-column sort only prunes its own column).
    The emitted (file_id → count, min/max per dim) frame IS that
    skipping metadata.

    Scale honesty: file assignment is z DIV cells-per-file — a fixed
    partition of the bounded z-space, so the layout is one
    embarrassingly-parallel projection + combinable groupBy, NO global
    sort and NO partition-less window (the row_number/NTILE formulation
    would serialize the corpus through one task — the exact trap the
    pack-sequences rework removed).  The interleave itself is pure
    integer arithmetic rendered from one template for both engines."""
    orders = load_table(spark, sf_dir, "orders")
    z = orders.selectExpr(
        f"{_Z_X} AS xb",
        f"{_Z_Y_SPARK} AS yb",
        f"{_z_interleave('div', _Z_X, _Z_Y_SPARK)} AS zval",
    )
    return (
        z.groupBy(F.expr(f"zval div {_Z_FILE_CELLS}").alias("file_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("xb").alias("min_cust_bucket"),
            F.max("xb").alias("max_cust_bucket"),
            F.min("yb").alias("min_day_bucket"),
            F.max("yb").alias("max_day_bucket"),
        )
    )


# ---------------------------------------------------------------------------
# dedup-index merge (the commit half of the nightly cycle)
# ---------------------------------------------------------------------------


# Two bodies: the Spark body reads the dedup index, which the oracle does not read.
@register(
    "pipe_dedup_index_merge",
    oracle="""
    WITH hist AS (
      SELECT DISTINCT md5(text) AS text_hash FROM documents WHERE doc_id % 5 <> 0
    ), batch AS (
      SELECT md5(text) AS text_hash FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT md5(text) FROM documents WHERE doc_id % 7 = 0
    ), survivors AS (
      SELECT DISTINCT b.text_hash FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.text_hash = b.text_hash)
    ), merged AS (
      SELECT text_hash FROM hist UNION SELECT text_hash FROM survivors
    )
    SELECT substr(text_hash, 1, 1) AS hp,
           CAST(COUNT(*) AS BIGINT) AS n_digests
    FROM merged GROUP BY substr(text_hash, 1, 1)
    """,
)
def pipe_dedup_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMMIT half of the incremental-dedup cycle
    (``pipe_dedup_incremental`` is the read half): after a batch is
    deduped, its surviving digests merge into the next index version.
    Output is the per-``hp``-shard digest count — the compaction
    manifest an index maintainer records per version.

    100 TB shape: the merge never rewrites the whole index — each
    ``hp=`` shard unions its existing digests with the (tiny) survivor
    slice and deduplicates WITHIN the shard; the `hp` prefix is a
    function of the digest, so survivors route to exactly one shard and
    shards merge independently (embarrassingly parallel, one shuffle of
    digest-width rows).  The fixture mirrors the read face's
    history/batch split so both operators describe the same nightly
    run."""
    root = build_dedup_index(spark, sf_dir)
    hist = spark.read.parquet(os.path.join(root, "hist")).select("text_hash")
    docs = load_table(spark, sf_dir, "documents")
    batch = _delta_batch(docs).select("text_hash").distinct()
    survivors = batch.join(hist.hint("SHUFFLE_HASH"), "text_hash", "left_anti")
    merged = hist.unionAll(survivors).distinct()
    return merged.groupBy(F.substring("text_hash", 1, 1).alias("hp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_digests")
    )


# ---------------------------------------------------------------------------
# key-skew diagnostics (the observability face of the salting story)
# ---------------------------------------------------------------------------

_SKEW_TOPN = 10


@register(
    "agg_skew_profile",
    oracle=f"""
    WITH per_key AS (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM per_key
    )
    SELECT p.user_id, CAST(p.cnt AS BIGINT) AS cnt,
           CAST((p.cnt * 1000) // (s.n_rows // s.n_keys) AS BIGINT)
             AS x_mean_permille,
           s.n_keys, s.n_rows, s.max_cnt
    FROM per_key p CROSS JOIN stats s
    ORDER BY p.cnt DESC, p.user_id LIMIT {_SKEW_TOPN}
    """,
)
def agg_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics — the observability face behind
    ``agg_salted_skew``'s mitigation: per-key row counts, the top-N
    heaviest keys with their size as permille-of-mean, and the global
    (n_keys, n_rows, max) profile a planner needs to DECIDE whether to
    salt, how many salts, or whether AQE's skew threshold will fire.
    Running this before a big join is how a pipeline avoids discovering
    skew as a straggler task three hours in.

    One combinable groupBy on the key, a 1-row stats aggregate
    broadcast back over the per-key frame, TakeOrdered top-N with a
    unique tiebreak.  All-integer outputs (floor-permille vs mean)."""
    events = load_table(spark, sf_dir, "events")
    per_key = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    from gordo_components_spark.caches import persist_tracked

    per_key = persist_tracked(per_key)
    stats = per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    return (
        per_key.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            F.col("cnt").cast("long").alias("cnt"),
            F.expr("CAST((cnt * 1000) DIV (n_rows DIV n_keys) AS BIGINT)").alias(
                "x_mean_permille"
            ),
            "n_keys",
            "n_rows",
            "max_cnt",
        )
        .orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(_SKEW_TOPN)
    )


# ---------------------------------------------------------------------------
# SCD2 time-travel read (as-of snapshot over validity intervals)
# ---------------------------------------------------------------------------

_ASOF_T = "2024-01-15 00:00:00"


register_sql(
    "pipe_scd2_asof_read",
    f"""
    WITH changes AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
             lag(value) OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS prev_value
      FROM events
    ), versioned AS (
      SELECT user_id, event_type, ts, event_id, value
      FROM changes
      WHERE prev_value IS NULL OR value <> prev_value
    ), intervals AS (
      SELECT user_id, event_type, value,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS valid_to
      FROM versioned
    )
    SELECT user_id, event_type, value, valid_from
    FROM intervals
    WHERE valid_from <= TIMESTAMP '{_ASOF_T}'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_ASOF_T}')
    """,
    doc="""Time travel over the SCD2 history (``pipe_scd2_intervals`` is the
    write path): "the table AS OF T" = the one version per
    (entity, attribute) whose validity interval contains T — what a
    lake table format answers for `VERSION AS OF` and what every
    backtest needs to avoid leaking future attribute values into
    training features.

    Pure composition: the interval frame filters to
    valid_from <= T < valid_to (open current version passes via NULL).
    At 100 TB the filter prunes BEFORE anything wide — with history
    partitioned on valid_from dates, partition pruning cuts the scan to
    segments overlapping T; no join, no extra shuffle beyond the
    history build's own window exchange.""",
)


# ---------------------------------------------------------------------------
# delta curation manifest (the nightly run end-to-end, funnel-accounted)
# ---------------------------------------------------------------------------

_DELTA_MIN_TOK = 20
_DELTA_MAX_TOK = 1000
_DELTA_LANGS = ("en", "de", "es", "fr")


@register(
    "pipe_delta_curation",
    oracle=f"""
    WITH hist AS (
      SELECT DISTINCT md5(text) AS text_hash FROM documents WHERE doc_id % 5 <> 0
    ), batch AS (
      SELECT doc_id, text, lang, source, md5(text) AS text_hash
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text, lang, source, md5(text) AS text_hash
      FROM documents WHERE doc_id % 7 = 0
    ), intra AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
      FROM batch
    ), kept AS (
      SELECT i.doc_id, i.text, i.lang, i.source, i.text_hash,
             CASE WHEN EXISTS (SELECT 1 FROM hist h
                               WHERE h.text_hash = i.text_hash) THEN 1 ELSE 0
             END AS seen_before
      FROM intra i WHERE i.rn = 1
    ), scored AS (
      SELECT *, len(string_split(text, ' ')) AS n_tok FROM kept
    ), final AS (
      SELECT *,
             CASE WHEN seen_before = 0
                   AND n_tok BETWEEN {_DELTA_MIN_TOK} AND {_DELTA_MAX_TOK}
                   AND lang IN ({', '.join(repr(l) for l in _DELTA_LANGS)}) THEN 1 ELSE 0
             END AS survives
      FROM scored
    )
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM final f WHERE f.source = b.source)
                AS BIGINT) AS n_after_intra,
           CAST((SELECT COUNT(*) FROM final f
                 WHERE f.source = b.source AND f.seen_before = 0)
                AS BIGINT) AS n_unseen,
           CAST((SELECT COUNT(*) FROM final f
                 WHERE f.source = b.source AND f.survives = 1)
                AS BIGINT) AS n_survivors,
           CAST(COALESCE((SELECT SUM(f.n_tok) FROM final f
                 WHERE f.source = b.source AND f.survives = 1), 0)
                AS BIGINT) AS tok_total
    FROM batch b GROUP BY b.source
    """,
)
def pipe_delta_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly delta-curation run END-TO-END, funnel-accounted: a
    crawl batch flows through intra-batch dedup (first-wins per digest)
    → historical-index anti-probe (``build_dedup_index``) → quality
    gates (token-length band, language allowlist) → per-source manifest
    (candidates, post-dedup, unseen, survivors, token total).  The
    output is the acceptance report a data-engineering run records per
    source per night — and the input ``pipe_mix_weights`` consumes.

    ONE lazy plan: digest window for intra-dedup, left-probe of the
    digest index (seen_before flag rather than a filter, so the funnel
    counts every stage from the same frame), native token count, one
    conditional aggregate by source.  Nothing is collected; the funnel
    stays combinable all the way down.  At 100 TB the only wide
    exchanges are the digest window and the final source rollup."""
    root = build_dedup_index(spark, sf_dir)
    hist = spark.read.parquet(os.path.join(root, "hist")).select(
        "text_hash", F.lit(1).alias("seen")
    )
    docs = load_table(spark, sf_dir, "documents")
    batch = _delta_batch(docs)
    from pyspark.sql import Window

    intra = batch.withColumn(
        "rn", F.row_number().over(Window.partitionBy("text_hash").orderBy("doc_id"))
    )
    kept = (
        intra.where(F.col("rn") == 1)
        .join(hist.hint("SHUFFLE_HASH"), "text_hash", "left")
        .withColumn("seen_before", F.when(F.col("seen").isNotNull(), 1).otherwise(0))
        .withColumn("n_tok", F.size(F.split("text", " ")))
    )
    survives = (
        (F.col("seen_before") == 0)
        & F.col("n_tok").between(_DELTA_MIN_TOK, _DELTA_MAX_TOK)
        & F.col("lang").isin(*_DELTA_LANGS)
    ).cast("int")
    final = kept.withColumn("survives", survives)
    per_source_batch = batch.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    funnel = final.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_after_intra"),
        F.sum(F.when(F.col("seen_before") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_unseen"),
        F.sum("survives").cast("long").alias("n_survivors"),
        F.coalesce(
            F.sum(F.when(F.col("survives") == 1, F.col("n_tok"))), F.lit(0)
        )
        .cast("long")
        .alias("tok_total"),
    )
    # a source whose every candidate lost its digest race has no funnel
    # row: LEFT join + coalesce keeps it at 0, matching the oracle's
    # correlated COUNTs
    return per_source_batch.join(funnel, "source", "left").select(
        "source",
        "n_candidates",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in ("n_after_intra", "n_unseen", "n_survivors", "tok_total")
        ],
    )


# ---------------------------------------------------------------------------
# streaming face of the incremental-dedup cycle
# ---------------------------------------------------------------------------


@register("stream_dedup_incremental")
def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine Structured Streaming run of the nightly dedup
    (rows-only): replayed crawl-batch file stream →
    ``dropDuplicatesWithinWatermark`` on the content digest (in-stream
    dedup, state bounded by the crawl-time watermark) → per-micro-batch
    stream-static anti-join against the persisted digest index →
    append-only survivor sink.  The surviving digest set must equal
    ``pipe_dedup_incremental``'s (asserted in tests/test_streaming.py);
    keep_id is arrival-order-dependent and deliberately out of the
    contract."""
    from gordo_components_spark.streaming.micro_batch import (
        run_streaming_incremental_dedup,
    )

    return run_streaming_incremental_dedup(spark, sf_dir)


# ---------------------------------------------------------------------------
# canonical-document ranking (PageRank over the near-dup graph)
# ---------------------------------------------------------------------------

_PR_ITERS = 10
_PR_DAMP = 0.85


@register("ext_dedup_canonical_rank", tags=("bench",))
def ext_dedup_canonical_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection over the near-duplicate graph:
    PageRank on the similarity edges (label-blocked cosine pairs,
    ``ext_dedup_embed_cos``'s graph), so each dup cluster keeps its most
    CENTRAL member instead of the arbitrary min-id — the selection rule
    curation pipelines actually want (the most-linked version of a
    boilerplate family is usually the cleanest).  Registered rows-only
    (iterative); numpy power-iteration parity at 1e-6 is pinned in
    tests/test_corpus_lifecycle.py.

    Spark shape per iteration: contributions = ranks ⋈ edges (shuffle on
    src), then groupBy(dst) sum — two exchanges on the same keys, AQE
    reuses the layout; ``localCheckpoint`` every 4 iterations cuts the
    growing lineage exactly like ``ext_dedup_components``.  Degrees and
    edges persist once (probed every iteration).  At 100 TB the graph is
    edge-partitioned and the rank vector is corpus-wide — nothing
    broadcasts, nothing collects; 10 fixed iterations ≈ the classic
    batch PageRank schedule."""
    from gordo_components_spark.caches import persist_tracked

    emb = load_table(spark, sf_dir, "embeddings")
    dot = "aggregate(zip_with(a_v, b_v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    e = emb.select(
        "vec_id",
        "label",
        F.col("embedding").alias("v"),
        F.sqrt(
            F.expr(
                "aggregate(zip_with(embedding, embedding, (x, y) -> x * y),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            )
        ).alias("nrm"),
    )
    # r14: spread the probe side — the cosine fold evaluates in the probe
    # scan's stage (build side broadcasts) and a small single-file scan
    # is ONE split; see ext_dedup_embed_cos / spread_scan
    a, b = spread_scan(e).alias("a"), e.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
            F.col("a.v").alias("a_v"),
            F.col("b.v").alias("b_v"),
            (F.col("a.nrm") * F.col("b.nrm")).alias("nn"),
        )
        .where(F.round(F.expr(dot) / F.col("nn"), 6) >= 0.30)
        .select("src", "dst")
    )
    # undirected: persist the (expensive) pair join FIRST, then
    # symmetrize — otherwise the unpersisted subtree is embedded in both
    # union legs and the cosine self-join runs twice
    pairs = persist_tracked(pairs)
    edges = persist_tracked(
        pairs.unionAll(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    nodes = persist_tracked(emb.select(F.col("vec_id").alias("src")))
    n_nodes = nodes.count()  # scalar driver boundary: one count, bounded
    degrees = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # loop-invariant hoist (r14, guide §2.4): ``ranks ⋈ degrees ⋈ edges``
    # re-joined the constant degrees frame to the rank vector on every
    # iteration — attaching deg to each edge ONCE outside the loop drops
    # one join (and its exchange) per iteration from the 10-iteration
    # chain.  Arithmetic is unchanged (same rank/deg per contribution),
    # so the numpy power-iteration parity pin still holds bit-for-bit.
    edges_deg = persist_tracked(edges.join(degrees, "src"))
    ranks = nodes.select("src", F.lit(1.0 / n_nodes).alias("rank"))
    teleport = (1.0 - _PR_DAMP) / n_nodes
    # r14 isolated-node hoist (guide §2.4): the graph is symmetrized, so
    # every node with an edge has >= 1 IN-edge — the per-iteration
    # ``nodes LEFT JOIN summed`` only ever re-attached ISOLATED nodes,
    # whose rank is the fixed point teleport + damp·0.0 from iteration 1
    # on.  Loop over the connected set only (the groupBy's keys are
    # exactly that set, inflow never NULL there) and union the isolated
    # nodes back ONCE with the identical expression over a 0.0 inflow —
    # ten corpus-wide joins become one anti-join, same doubles bit-for-bit.
    for i in range(_PR_ITERS):
        contribs = (
            ranks.join(edges_deg, "src")
            .select(F.col("dst").alias("src"), (F.col("rank") / F.col("deg")).alias("c"))
        )
        summed = contribs.groupBy("src").agg(F.sum("c").alias("inflow"))
        ranks = summed.select(
            "src",
            (F.lit(teleport) + F.lit(_PR_DAMP) * F.col("inflow")).alias("rank"),
        )
        if (i + 1) % 4 == 0:
            ranks = ranks.localCheckpoint(eager=False)  # lineage cut
    isolated = nodes.join(degrees.select("src"), "src", "left_anti").select(
        "src",
        (F.lit(teleport) + F.lit(_PR_DAMP) * F.lit(0.0)).alias("rank"),
    )
    ranks = ranks.unionAll(isolated)
    return ranks.select(
        F.col("src").alias("vec_id"), F.round(F.col("rank") * n_nodes, 6).alias("rank_x_n")
    )


# ---------------------------------------------------------------------------
# fuzzy entity-resolution join (segment pigeonhole filter + exact verify)
# ---------------------------------------------------------------------------

_FUZZ_K = 2  # max substitutions tolerated => k+1 = 3 blocking segments
_FUZZ_LEN = 12  # 12-hex record fingerprint, 3 segments of 4


def _fuzz_segments(col: str) -> list:
    """Split the 12-char fingerprint into 3 fixed segments (4 chars
    each): with <= 2 substitutions, at least one segment is untouched
    (pigeonhole), so candidates = pairs sharing ANY
    (segment_id, segment_text).  Works because the fingerprint has
    per-position entropy — segmenting a constant-prefix display name
    instead degenerates to a cross join (measured before this design:
    the 'Custom' segment matched everything)."""
    seg = _FUZZ_LEN // (_FUZZ_K + 1)
    return [f"substr({col}, {1 + i * seg}, {seg})" for i in range(_FUZZ_K + 1)]


# deterministic corruption fixture: every 10th entity re-enters with a
# dirty fingerprint — one flipped char (key%20=0) or two (other %10=0).
# 'z'/'y' are outside the hex alphabet, so a flip is a guaranteed
# mismatch and the true distance is exactly 1 or 2.
_FUZZ_FP = "substr(md5(CAST(c_custkey AS {str_t})), 1, 12)"
_FUZZ_DIRTY = """
    CASE WHEN c_custkey % 20 = 0
         THEN concat(substr({fp}, 1, 2), 'z', substr({fp}, 4))
         ELSE concat(substr({fp}, 1, 5), 'z', substr({fp}, 7, 3), 'y',
                     substr({fp}, 11))
    END
"""


def _fuzz_dirty(str_t: str) -> str:
    fp = _FUZZ_FP.format(str_t=str_t)
    return _FUZZ_DIRTY.format(fp=fp)


@register(
    "join_fuzzy_hamming",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey, {_FUZZ_FP.format(str_t="VARCHAR")} AS fp FROM customer
    ), dirty AS (
      SELECT c_custkey AS dirty_key, {_fuzz_dirty("VARCHAR")} AS dirty_fp
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT d.dirty_key, b.c_custkey AS match_key,
           CAST(hamming(d.dirty_fp, b.fp) AS BIGINT) AS distance
    FROM dirty d JOIN base b ON hamming(d.dirty_fp, b.fp) <= {_FUZZ_K}
    """,
)
def join_fuzzy_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: records whose fingerprint field was
    corrupted by up to 2 character substitutions are matched back to the
    clean master table.  The naive formulation is an O(n·m) cross join
    with a distance predicate — the Spark plan instead uses the classic
    **k+1-segment pigeonhole filter** (Pass-Join family): split each
    fingerprint into k+1 fixed segments; <= k substitutions cannot touch
    all of them, so every true match shares at least one exact
    (segment_id, segment_text) — an EQUI-join key.  Candidates from that
    shuffle join are deduped, then verified with the exact Hamming
    distance, giving a provably complete result with no quadratic pair
    volume (the oracle IS the naive cross join, so completeness is
    hash-checked, not argued).

    100 TB shape: both sides explode to k+1 segment rows (linear); the
    candidate join shuffles on the segment key, and only candidates
    (true matches + rare segment collisions — bounded by the
    fingerprint's per-position entropy) pay the verify expression.  No
    broadcast of either entity table; the same plan serves
    dirty-to-master dedup, CDC late-record matching, and
    crawl-vs-canonical reconciliation."""
    ham = (
        f"size(filter(sequence(1, {_FUZZ_LEN}), i ->"
        " substr(dirty_fp, i, 1) <> substr(fp, i, 1)))"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    base = cust.select(
        "c_custkey", F.expr(_FUZZ_FP.format(str_t="STRING")).alias("fp")
    )
    dirty = cust.where(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("dirty_key"),
        F.expr(_fuzz_dirty("STRING")).alias("dirty_fp"),
    )

    def seg_explode(df: DataFrame, col: str):
        return df.select(
            "*",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(i).alias("seg_id"), F.expr(e).alias("seg"))
                        for i, e in enumerate(_fuzz_segments(col))
                    ]
                )
            ).alias("s"),
        ).select(*df.columns, "s.seg_id", "s.seg")

    candidates = (
        seg_explode(dirty, "dirty_fp")
        .join(seg_explode(base, "fp").hint("SHUFFLE_HASH"), ["seg_id", "seg"])
        .select("dirty_key", "dirty_fp", "c_custkey", "fp")
        .distinct()
    )
    return candidates.select(
        "dirty_key",
        F.col("c_custkey").alias("match_key"),
        F.expr(ham).cast("long").alias("distance"),
    ).where(F.col("distance") <= _FUZZ_K)


# Reciprocal-rank fusion (Cormack et al., SIGIR 2009): fuse two
# retrieval legs' top-K' lists by rrf(d) = Σ_legs 1/(60 + rank_leg(d)).
# The standard hybrid-retrieval combiner (lexical + second signal)
# because it needs NO score calibration between legs — only ranks.
_RRF_K = 60
_RRF_LEG_K = 100  # per-leg candidate depth fused (fixed, scale-free)
_RRF_TOPK = 10


@register(
    "ext_hybrid_rrf",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t.token, COUNT(*) AS tf
      FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
      GROUP BY doc_id, t.token
    ), dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n_docs, SUM(len(string_split(text, ' '))) / COUNT(*) AS avgdl
      FROM documents
    ), q AS (
      SELECT unnest([{', '.join(repr(t) for t in _BM25_QUERY)}]) AS token
    ), df AS (
      SELECT tok.token, COUNT(*) AS df_t
      FROM tok JOIN q USING (token) GROUP BY tok.token
    ), idf AS (
      SELECT token, round(ln((stats.n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0), 9) AS idf
      FROM df, stats
    ), parts AS (
      SELECT tok.doc_id, tok.tf, dl.dl, idf.idf, stats.avgdl
      FROM tok JOIN q ON tok.token = q.token
      JOIN idf ON tok.token = idf.token
      JOIN dl ON tok.doc_id = dl.doc_id
      CROSS JOIN stats
    ), leg_a AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS ra
      FROM (
        SELECT doc_id,
               round(SUM(round(idf * (tf * ({_BM25_K1} + 1.0))
                     / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
                        + {_BM25_B} * dl / avgdl)), 9)), 6) AS score
        FROM parts GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT {_RRF_LEG_K}
      )
    ), leg_b AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rb
      FROM (
        SELECT doc_id, round(SUM(round(idf * tf / dl, 9)), 6) AS score
        FROM parts GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT {_RRF_LEG_K}
      )
    ), fused AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, a.ra, b.rb,
             COALESCE(1.0 / ({_RRF_K} + a.ra), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + b.rb), 0.0) AS rrf
      FROM leg_a a FULL OUTER JOIN leg_b b ON a.doc_id = b.doc_id
    )
    SELECT doc_id, ra AS rank_bm25, rb AS rank_tfidf, rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOPK}
    """,
)
def ext_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 leg and a
    plain TF-IDF-dot leg each retrieve their top-100 for the fixed
    query, and the lists are fused by rrf(d) = Σ 1/(60 + rank) — the
    calibration-free combiner hybrid search (lexical + semantic) uses
    in production RAG stacks; here both legs are lexical faces of the
    same postings so the whole operator stays oracle-exact (an
    embedding leg would join a vec_id space the fixture does not map
    to doc_ids).

    Spark-first shape: ONE corpus tokenize feeds both legs (shared
    ``parts`` frame — a broadcast semi-probe of the query tokens, so
    work is Σ df(q_t), never corpus-wide); each leg closes with
    TakeOrdered(100) — distributed top-k, no global sort — and the
    rank window then runs over a FIXED 100-row frame (constant at any
    corpus size, the standard fuse-the-top-K' contract).  The fusion
    join is 100×100 rows.  At 100 TB nothing here grows except the
    semi-probed postings stream.

    Float parity: per-part ROUND(…,9), per-doc sums ROUND(…,6),
    unique (score, doc_id) ordering everywhere, and the rrf itself is
    a fixed-order two-term sum of exact-int reciprocals — bit-identical
    across engines."""
    from gordo_components_spark.caches import persist_tracked

    docs = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame([(t,) for t in _BM25_QUERY], "token string")
    # r14 (guide §2.3/§2.4): same dl-carry as ext_bm25_search — the
    # corpus-wide dl frame and its doc_id shuffle join are gone; dl
    # rides the tokenize projection into the (doc, token) aggregate.
    toks = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    qtoks = toks.join(F.broadcast(q), "token", "left_semi")
    tf = qtoks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.size(F.split("text", " "))) / F.count(F.lit(1))).alias("avgdl"),
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    idf = df_t.crossJoin(F.broadcast(stats)).select(
        "token",
        F.round(
            F.log(
                (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0
            ),
            9,
        ).alias("idf"),
        "avgdl",
    )
    parts = persist_tracked(tf.join(F.broadcast(idf), "token"))
    part_a = F.round(
        F.col("idf")
        * (F.col("tf") * (_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        ),
        9,
    )
    part_b = F.round(F.col("idf") * F.col("tf") / F.col("dl"), 9)

    def leg(part_col, rank_name):
        top = (
            parts.select("doc_id", part_col.alias("part"))
            .groupBy("doc_id")
            .agg(F.round(F.sum("part"), 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(_RRF_LEG_K)
        )
        return top.select(
            "doc_id",
            F.expr(
                "CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)"
            ).alias(rank_name),
        )

    a = leg(part_a, "ra")
    b = leg(part_b, "rb")
    fused = (
        a.join(b, "doc_id", "full_outer")
        .select(
            "doc_id",
            "ra",
            "rb",
            (
                F.coalesce(1.0 / (_RRF_K + F.col("ra")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("rb")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return (
        fused.select(
            "doc_id",
            F.col("ra").alias("rank_bm25"),
            F.col("rb").alias("rank_tfidf"),
            "rrf",
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(_RRF_TOPK)
    )


# Jensen–Shannon divergence between the v1 and v2 snapshot token
# distributions, per source — dataset-version drift monitoring (the
# governance sibling of pipe_snapshot_diff: diff says WHICH docs
# changed, this says whether the LANGUAGE of the corpus moved).  The
# v2 corpus is the snapshot family's deterministic fixture IN TEXT
# FORM: doc_id%13==0 deleted, %11==0 revised (text + ' rev2'),
# %17==0 re-added as new docs (text + ' new').  Float discipline =
# the entropy face's: p, q, m are exact-int ratios; each token's JS
# contribution is one fixed-order ln chain floor-shifted to 9 dp,
# then the ≤|vocab| terms per source are DECIMAL(20,9)-summed.
_JS_TERM = """
    floor((
      CASE WHEN c1 > 0 THEN (CAST(c1 AS DOUBLE) / t1)
        * ln((CAST(c1 AS DOUBLE) / t1)
             / ((CAST(c1 AS DOUBLE) / t1 + CAST(c2 AS DOUBLE) / t2) / 2.0))
        / ln(2.0) ELSE 0.0 END
      + CASE WHEN c2 > 0 THEN (CAST(c2 AS DOUBLE) / t2)
        * ln((CAST(c2 AS DOUBLE) / t2)
             / ((CAST(c1 AS DOUBLE) / t1 + CAST(c2 AS DOUBLE) / t2) / 2.0))
        / ln(2.0) ELSE 0.0 END
    ) / 2.0 * 1000000000 + 0.5) / 1000000000
"""


@register(
    "pipe_snapshot_drift",
    oracle=f"""
    WITH v1 AS (
      SELECT source, text FROM documents
    ), v2 AS (
      SELECT source,
             CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text
      FROM documents WHERE doc_id % 13 <> 0
      UNION ALL
      SELECT source, text || ' new' AS text
      FROM documents WHERE doc_id % 17 = 0
    ), c AS (
      SELECT source, t.token,
             CAST(count(*) FILTER (ver = 1) AS BIGINT) AS c1,
             CAST(count(*) FILTER (ver = 2) AS BIGINT) AS c2
      FROM (
        SELECT 1 AS ver, source, text FROM v1
        UNION ALL
        SELECT 2 AS ver, source, text FROM v2
      ), UNNEST(string_split(text, ' ')) AS t(token)
      GROUP BY 1, 2
    ), w AS (
      SELECT source, c1, c2,
             CAST(SUM(c1) OVER (PARTITION BY source) AS BIGINT) AS t1,
             CAST(SUM(c2) OVER (PARTITION BY source) AS BIGINT) AS t2
      FROM c
    )
    SELECT source, MIN(t1) AS n_tok_v1, MIN(t2) AS n_tok_v2,
           CAST(SUM(CAST({_JS_TERM} AS DECIMAL(20,9))) AS DOUBLE) AS js_bits
    FROM w GROUP BY source
    """,
)
def pipe_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version drift per source: Jensen–Shannon divergence
    (bits, 0 = identical language, 1 = disjoint) between the v1 and v2
    snapshot token distributions — the release gate a training-data
    registry runs before swapping corpus versions (a revision wave that
    shifts a source's token mix shows up here even when the doc COUNT
    barely moves; pairs with ``pipe_snapshot_diff``'s row-level
    added/changed/deleted census).

    Spark-first shape: the v1 ∪ v2 tokenize is the only corpus-scale
    work (two pushed-down scans of the same table, combinable counts on
    (source, token, version)); the JS algebra rides the ≤ sources ×
    |vocab| count frame.  Float discipline per the block comment —
    floor-shifted per-token terms, decimal-summed, engine-identical at
    9 dp."""
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.select(F.lit(1).alias("ver"), "source", "text")
    v2 = (
        docs.where(F.col("doc_id") % 13 != 0)
        .select(
            F.lit(2).alias("ver"),
            "source",
            F.when(
                F.col("doc_id") % 11 == 0, F.concat("text", F.lit(" rev2"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionAll(
            docs.where(F.col("doc_id") % 17 == 0).select(
                F.lit(2).alias("ver"),
                "source",
                F.concat("text", F.lit(" new")).alias("text"),
            )
        )
    )
    c = (
        v1.unionAll(v2)
        .select("ver", "source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(
            F.expr("CAST(count(CASE WHEN ver = 1 THEN 1 END) AS BIGINT)").alias("c1"),
            F.expr("CAST(count(CASE WHEN ver = 2 THEN 1 END) AS BIGINT)").alias("c2"),
        )
    )
    w = c.select(
        "source",
        "c1",
        "c2",
        F.expr("CAST(SUM(c1) OVER (PARTITION BY source) AS BIGINT)").alias("t1"),
        F.expr("CAST(SUM(c2) OVER (PARTITION BY source) AS BIGINT)").alias("t2"),
    )
    return w.groupBy("source").agg(
        F.min("t1").alias("n_tok_v1"),
        F.min("t2").alias("n_tok_v2"),
        F.expr(
            f"CAST(SUM(CAST({_JS_TERM} AS DECIMAL(20,9))) AS DOUBLE)"
        ).alias("js_bits"),
    )


# Edit-distance fuzzy join (round 10) — the INDEL-tolerant sibling of
# join_fuzzy_hamming: one character substituted, INSERTED, or DELETED.
# Blocking is the k=1 two-half pigeonhole: a single edit lives in one
# half of the record, so every true match shares either the exact
# 6-char PREFIX (edit in the right half) or the exact 6-char SUFFIX
# aligned from the END (edit in the left half — end-alignment is what
# makes the filter complete under indels, where left-aligned positions
# shift).  Verification is exact levenshtein(), which both engines
# implement as the classic integer DP — bit-identical.
_LEV_FP = "substr(md5(CAST(c_custkey AS {str_t})), 1, 12)"
_LEV_DIRTY = """
    CASE WHEN c_custkey % 30 = 0
         THEN concat(substr({fp}, 1, 5), substr({fp}, 7))
         WHEN c_custkey % 20 = 0
         THEN concat(substr({fp}, 1, 6), 'z', substr({fp}, 7))
         ELSE concat(substr({fp}, 1, 5), 'z', substr({fp}, 7))
    END
"""


# Two bodies: the Spark body is a blocked pair join.
@register(
    "join_fuzzy_levenshtein",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey, {_LEV_FP.format(str_t="VARCHAR")} AS fp FROM customer
    ), dirty AS (
      SELECT c_custkey AS dirty_key,
             {_LEV_DIRTY.format(fp=_LEV_FP.format(str_t="VARCHAR"))} AS dirty_fp
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT d.dirty_key, b.c_custkey AS match_key,
           CAST(levenshtein(d.dirty_fp, b.fp) AS BIGINT) AS distance
    FROM dirty d JOIN base b ON levenshtein(d.dirty_fp, b.fp) <= 1
    """,
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join under EDIT distance ≤ 1 — the
    typo/truncation matcher ``join_fuzzy_hamming`` (substitutions only,
    fixed length) cannot express: a dropped or doubled character shifts
    every later position, so Hamming blocking misses it.  Every 10th
    entity re-enters dirty — one char deleted (key%30), inserted
    (key%20), or substituted — and must match its clean master record.

    Spark shape: both sides explode to TWO block keys — (0, 6-char
    prefix) and (1, 6-char END-aligned suffix); the k=1 pigeonhole
    (block comment) makes the candidate equi-join provably complete
    under indels.  Candidates dedupe then pay one exact ``levenshtein``
    verify.  The oracle is the naive cross join with the same verify,
    so completeness is hash-checked.  100 TB shape: linear explode,
    shuffle join on the block key, no broadcast of either entity side
    (SHUFFLE_HASH pinned — the master table scales with the corpus)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    base = cust.select(
        "c_custkey", F.expr(_LEV_FP.format(str_t="STRING")).alias("fp")
    )
    dirty = cust.where(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("dirty_key"),
        F.expr(
            _LEV_DIRTY.format(fp=_LEV_FP.format(str_t="STRING"))
        ).alias("dirty_fp"),
    )

    def blocks(df: DataFrame, col: str) -> DataFrame:
        return df.select(
            "*",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("blk_id"),
                        F.expr(f"substr({col}, 1, 6)").alias("blk"),
                    ),
                    F.struct(
                        F.lit(1).alias("blk_id"),
                        F.expr(
                            f"substr({col}, length({col}) - 5, 6)"
                        ).alias("blk"),
                    ),
                )
            ).alias("s"),
        ).select(*df.columns, "s.blk_id", "s.blk")

    candidates = (
        blocks(dirty, "dirty_fp")
        .join(blocks(base, "fp").hint("SHUFFLE_HASH"), ["blk_id", "blk"])
        .select("dirty_key", "dirty_fp", "c_custkey", "fp")
        .distinct()
    )
    return candidates.select(
        "dirty_key",
        F.col("c_custkey").alias("match_key"),
        F.expr("levenshtein(dirty_fp, fp)").cast("long").alias("distance"),
    ).where(F.col("distance") <= 1)


# ---------------------------------------------------------------------------
# round 11: duplication-graph triangle census (global clustering structure)
# ---------------------------------------------------------------------------

_TRI_MAX_BLOCK = 8  # ignore blocks shared by > 8 docs (boilerplate, not dup signal)


@register(
    "ext_graph_triangles",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), blocks AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(tk, t.k * 8 + 1, t.k * 8 + 8), ' ') AS btxt
      FROM toks, LATERAL (
        SELECT unnest(generate_series(0,
                 CAST(floor((len(tk) - 1) / 8) AS BIGINT))) AS k
      ) t
      WHERE len(list_slice(tk, t.k * 8 + 1, t.k * 8 + 8)) = 8
    ), keep AS (
      SELECT btxt FROM blocks GROUP BY btxt
      HAVING count(*) BETWEEN 2 AND {_TRI_MAX_BLOCK}
    ), e AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM blocks a JOIN keep USING (btxt) JOIN blocks b USING (btxt)
      WHERE a.doc_id < b.doc_id
    ), deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
      GROUP BY n
    ), o AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS su,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS sv
      FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
    ), w AS (
      SELECT least(o1.sv, o2.sv) AS a, greatest(o1.sv, o2.sv) AS b
      FROM o o1 JOIN o o2 ON o1.su = o2.su AND o1.sv < o2.sv
    ), tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM w JOIN e ON w.a = e.u AND w.b = e.v
    ), g AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e
    )
    SELECT g.n_nodes, m.n_edges, g.n_wedges, tri.n_triangles,
           CASE WHEN g.n_wedges = 0 THEN 0.0
                ELSE floor(3.0 * tri.n_triangles / g.n_wedges * 1e6 + 0.5) / 1e6
           END AS global_clustering
    FROM g, m, tri
    """,
)
def ext_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 extension (round 11) — triangle census of the block-duplication
    graph: nodes are documents, an edge joins two docs sharing at least
    one exact 8-word block (the ``ext_dedup_paragraph`` blocking, capped
    at {_TRI_MAX_BLOCK} docs/block so mega-shared boilerplate neither
    creates quadratic pairs nor counts as dup signal).  Triangle density
    tells a curator whether near-dup clusters are tight cliques (crawl
    mirrors — safe to keep one canonical doc) or loose chains (template
    families — transitive dedup would over-delete); the global clustering
    coefficient 3·triangles/wedges is that ratio in one number.

    Algorithm (the public degree-orientation bound, Schank/Wagner): each
    undirected edge is oriented from its (degree, id)-smaller endpoint,
    every triangle then has exactly one apex with two out-edges, so the
    wedge self-join on the apex plus one closure semi-join counts each
    triangle once — join fanout is bounded by the max OUT-degree
    (≤ √m after orientation), never the raw degree.  Wedge count comes
    from the degree table (Σ d(d−1)/2), no join.

    Scale shape: edges derive from a digest-keyed (xxhash64) block
    shuffle exactly like exact dedup (the oracle groups by block STRING —
    parity re-verifies collision-freedom); the per-block ≤ {_TRI_MAX_BLOCK}
    cap bounds pair fanout per key, and every join key is an id/digest —
    no text shuffles.  Counts are exact ints; the one ratio is a single
    floor-shifted division on identical operands.

    Collision budget (the dedup-family convention): a 64-bit block hash
    over B distinct blocks expects ~B²/2⁶⁵ spurious block collisions —
    at sf10 (~10⁷ docs · ~60 blocks ≈ 6e8 distinct blocks) that is
    ~0.01 expected collisions corpus-wide, and one collision perturbs at
    most {_TRI_MAX_BLOCK}·({_TRI_MAX_BLOCK}−1)/2 edges out of millions.
    Parity at the checked SFs verifies zero collisions there; beyond
    ~2³² blocks (birthday bound) switch the key to sha2-truncated-128
    like ``ext_dedup_exact``'s digest index."""
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
        .distinct()
    )
    keep = (
        blocks.groupBy("bh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd").between(2, _TRI_MAX_BLOCK))
        .select("bh")
    )
    kb = blocks.join(keep, "bh", "left_semi")
    e = (
        kb.alias("a")
        .join(kb.alias("b"), "bh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v"))
        .distinct()
    )
    from gordo_components_spark.caches import persist_tracked

    e = persist_tracked(e)
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    deg = persist_tracked(deg)
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lt = (F.col("du") < F.col("dv")) | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    o = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lt, F.col("u")).otherwise(F.col("v")).alias("su"),
            F.when(lt, F.col("v")).otherwise(F.col("u")).alias("sv"),
        )
    )
    w = (
        o.alias("o1")
        .join(o.alias("o2"), "su")
        .where(F.col("o1.sv") < F.col("o2.sv"))
        .select(
            F.least("o1.sv", "o2.sv").alias("u"),
            F.greatest("o1.sv", "o2.sv").alias("v"),
        )
    )
    tri = w.join(e, ["u", "v"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    g = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) / 2")).cast("bigint").alias("n_wedges"),
    )
    m = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        g.crossJoin(m)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") == 0, F.lit(0.0))
            .otherwise(
                F.expr("floor(3.0 * n_triangles / n_wedges * 1e6 + 0.5) / 1e6")
            )
            .alias("global_clustering"),
        )
    )

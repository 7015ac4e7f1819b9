"""Structured Streaming micro-batch scoring path (SURVEY §2.9, §3.2).

Reference restatement: the Flask ``/anomaly/prediction`` serving loop and
the client's chunked predict (``client/client.py``) become a
``readStream → window/score → sink`` pipeline.  Real-time serving does
not fit Spark (BASELINE.json); micro-batch is the stated approach.

These helpers run a *real* streaming query (file source, event-time
watermark, availableNow trigger, memory sink) over the events fixture,
replayed as a multi-file directory so several micro-batches occur.
``stream_watermark_latedrop`` in the registry wraps them rows-only; the
batch-parity assertion (FIXTURES B5: streaming result == batch window())
lives in tests/test_streaming.py.
"""

from __future__ import annotations

import contextlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from gordo_components_spark.caches import _pid_alive, footer_rows
from gordo_components_spark.session import prepare
from gordo_components_spark.sources.tables import load_table

_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _pid_scoped_dirs(sf_dir: str, prefix: str) -> tuple[str, str]:
    """This process's (sink, checkpoint) dir pair for a foreachBatch face
    whose leaves are ``<prefix><sf_tag>-p<pid>``: deterministic per SF
    per PROCESS, so reruns in one process do not accrete /tmp litter
    while two concurrent sessions on the same SF (e.g. pytest and
    bench.py) never rmtree each other's in-flight sink mid-query.
    Siblings left by dead processes are swept; this process's own leaf
    is cleared up front (the checkpoint must go with the sink or a rerun
    would replay nothing)."""
    import shutil

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    bases = ("/tmp/gordo_spark_stream/sink", "/tmp/gordo_spark_stream/chk")
    for base in bases:
        try:
            for leaf in os.listdir(base):
                if leaf.startswith(f"{prefix}{sf_tag}-p"):
                    pid = leaf.rsplit("-p", 1)[-1]
                    if pid.isdigit() and not _pid_alive(int(pid)):
                        shutil.rmtree(os.path.join(base, leaf), ignore_errors=True)
        except OSError:
            pass
    leaf = f"{prefix}{sf_tag}-p{os.getpid()}"
    sink_dir, chk_dir = (os.path.join(base, leaf) for base in bases)
    for d in (sink_dir, chk_dir):
        shutil.rmtree(d, ignore_errors=True)
    return sink_dir, chk_dir


#: rows of stream input one state-store task should own before another
#: task pays off.  A state task's FIXED cost per micro-batch (store
#: init, checkpoint delta write + fsync, maintenance) is ~100-300 ms
#: locally while per-row state upkeep is ~1-5 µs, so tasks below ~50k
#: rows are overhead-bound — the streaming analog of AQE's
#: advisoryPartitionSizeInBytes, which never applies to streams.
_STREAM_ROWS_PER_TASK = 50_000


@contextlib.contextmanager
def _stream_shuffle_partitions(spark: SparkSession, est_rows: int | None = None):
    """Pin ``spark.sql.shuffle.partitions`` for the lifetime of ONE
    streaming run to a scale-derived value (guide §2: partitioning must
    be scale-adaptive, not a constant tuned for local mode or one
    cluster).  Unlike batch, streaming gets NO AQE coalescing, and the
    conf at first-micro-batch planning time fixes the state-store task
    count for the checkpoint's lifetime — on a session left at the
    200-partition default, every stateful face runs 200 state-store
    tasks (and writes 200 checkpoint delta files) per micro-batch over
    fixture-sized data: measured 168-215 s for stream_stateful_ewma on a
    vanilla local[32] session vs ~9 s at 32 partitions.  The
    ``_fold_stream`` faces keep no state store, but every fold batch
    still shuffles at this width.

    ``est_rows`` (parquet-footer row count of the replay source — the
    same zero-cost exact statistic the footer-adaptive joins use) sizes
    DOWN from cluster parallelism when the whole run carries little
    data: partitions = clamp(est_rows / _STREAM_ROWS_PER_TASK, 8,
    defaultParallelism).  Large inputs therefore keep today's
    defaultParallelism; fixture-sized runs stop paying ~cores× state
    fixed costs (measured on stream_stream_join at 32 cores: 17.9-20.1 s
    at 32 partitions vs 7.5-11.9 s at 8, same session, interleaved).
    GORDO_STREAM_SHUFFLE_PARTITIONS overrides both for deployments
    whose state-key cardinality wants a specific width.  Checkpoints
    here are run-scoped (uuid / pid-token dirs), so no prior checkpoint
    can disagree with the pin.  Restore in finally: the conf is
    session-global and batch queries must keep seeing the session's own
    setting."""
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    env = os.environ.get("GORDO_STREAM_SHUFFLE_PARTITIONS")
    if env:
        target = int(env)
    else:
        target = max(8, spark.sparkContext.defaultParallelism)
        if est_rows is not None:
            sized = max(8, -(-est_rows // _STREAM_ROWS_PER_TASK))
            target = min(target, sized)
    spark.conf.set(key, str(target))
    try:
        yield
    finally:
        spark.conf.set(key, prior)


def _replay_dir(spark: SparkSession, sf_dir: str, n_files: int = 3) -> str:
    """Materialize events as an n-file parquet directory (micro-batch
    replay source, FIXTURES B5).  Timestamps land as µs TimestampType so
    the streaming source needs no ns workaround."""
    from gordo_components_spark.caches import materialized_cache

    def build(tmp: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "ts", "user_id", "event_type", "value")
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(tmp)
        )

    return materialized_cache(sf_dir, "/tmp/gordo_spark_stream", "events_replay", "events", build)


def _run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    est_rows: int | None = None,
) -> DataFrame:
    """Execute an availableNow streaming query into a memory sink and
    return the MATERIALIZED result (eager localCheckpoint), then drop
    the sink table — uuid-named memory sinks otherwise accrete full
    result sets in driver memory for the session lifetime.  Both the
    checkpoint dir AND the temp view are released in the finally so a
    raising query can't leak either (the uuid leaves don't match the
    PID sweeper's prefixes)."""
    import shutil

    spark = stream_df.sparkSession
    chk = f"/tmp/gordo_spark_stream/chk/{query_name}-{uuid.uuid4().hex}"
    try:
        with _stream_shuffle_partitions(spark, est_rows=est_rows):
            q = (
                stream_df.writeStream.format("memory")
                .queryName(query_name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .option("checkpointLocation", chk)
                .start()
            )
            q.awaitTermination()
        return spark.table(query_name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(chk, ignore_errors=True)  # run-scoped checkpoint
        try:
            spark.catalog.dropTempView(query_name)
        except Exception:
            pass


def _replay_stream(spark: SparkSession, sf_dir: str, max_files: int | None = None) -> DataFrame:
    """The events replay as a file stream; ``max_files`` per trigger
    (``maxFilesPerTrigger``) splits it into several micro-batches."""
    reader = spark.readStream.schema(_RAW_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(_replay_dir(spark, sf_dir))


def _empty_state(spark: SparkSession, state_ddl: str) -> DataFrame:
    """A 0-row frame of the state schema planned on ``spark.range(0)`` —
    a driver-list ``createDataFrame`` is a Python-RDD scan that starts
    Python workers on every micro-batch."""
    fields = T.DataType.fromDDL(state_ddl).fields
    return spark.range(0).select(*(F.lit(None).cast(f.dataType).alias(f.name) for f in fields))


def _fold_stream(
    stream: DataFrame,
    name: str,
    fold,
    state_ddl: str,
    emit,
    est_rows: int | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """The stateful-fold skeleton, ``readStream → foreachBatch``: each
    micro-batch folds its rows into a compact per-key state frame with
    JVM algebra, ``fold(batch_df, prior_state) -> state`` — no Python
    workers, no state store.  Batch N reads ``<checkpoint>/fold/<N-1>``
    (batch 0 an empty state) and overwrites ``<checkpoint>/fold/<N>``,
    so a batch replayed after a restart (offsets logged, no commit)
    refolds the same input over the same prior state: each batch counts
    exactly once.  Returns ``emit(final_state)`` materialized (eager
    localCheckpoint); a run-scoped checkpoint goes in the finally, a
    caller-supplied ``checkpoint`` stays so the query can restart on it."""
    import shutil

    spark = stream.sparkSession
    chk = checkpoint or f"/tmp/gordo_spark_stream/chk/{name}-{uuid.uuid4().hex}"
    root = os.path.join(chk, "fold")

    def state(session: SparkSession, batch_id: int) -> DataFrame:
        if batch_id < 0:
            return _empty_state(session, state_ddl)
        return session.read.schema(state_ddl).parquet(os.path.join(root, str(batch_id)))

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        prior = state(batch_df.sparkSession, batch_id - 1)
        fold(batch_df, prior).write.mode("overwrite").parquet(os.path.join(root, str(batch_id)))

    try:
        with _stream_shuffle_partitions(spark, est_rows=est_rows):
            q = (
                stream.writeStream.foreachBatch(fold_batch)
                .queryName(name)
                .trigger(availableNow=True)
                .option("checkpointLocation", chk)
                .start()
            )
            q.awaitTermination()
        done = [int(b) for b in os.listdir(root)] if os.path.isdir(root) else []
        return emit(state(spark, max(done, default=-1))).localCheckpoint(eager=True)
    finally:
        if checkpoint is None:
            shutil.rmtree(chk, ignore_errors=True)  # run-scoped checkpoint + state


def run_streaming_tumbling_agg(
    spark: SparkSession,
    sf_dir: str,
    duration: str = "10 minutes",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """O33/O36: event-time tumbling aggregation with a late-data watermark,
    executed as a genuine streaming query over the replayed file source.

    With ``max_files_per_trigger=1`` the three replay files (each a random
    slice of the whole month) arrive as separate micro-batches: batch 1
    advances the watermark to ~month-end, so most rows of batches 2–3 are
    LATE and get dropped — the O36 semantic, observable (see
    tests/test_streaming.py::test_watermark_drops_late_batches)."""
    prepare(spark)
    stream = _replay_stream(spark, sf_dir, max_files_per_trigger)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", duration).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 9).alias("avg_value"))
        .select("event_type", F.col("w.start").alias("window_start"), "n", "avg_value")
    )
    name = f"stream_agg_{uuid.uuid4().hex[:8]}"
    return _run_to_memory(agg, name, est_rows=footer_rows(sf_dir, "events"))


def run_streaming_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 restated: the reference's ``POST /anomaly/prediction`` serving
    loop as micro-batch scoring — ``readStream → foreachBatch(score)``.

    Models train once in batch (the builder path) and ship as the
    machine→blob map; each micro-batch resamples its stream slice with the
    batch feature aggregate and scores it with the SAME code as batch
    (``ml/islands.py::score_models``) — that reuse is the point."""
    from gordo_components_spark.functions.timeseries import sql_over
    from gordo_components_spark.ml.islands import _features_sql, score_models, trained_blob_map

    prepare(spark)
    models = trained_blob_map(spark, sf_dir)  # broadcast into every micro-batch

    stream = _replay_stream(spark, sf_dir)
    # deploy-shaped sink: each micro-batch APPENDS its scored frame to a
    # parquet directory executor-side (the O7 sink), never collecting to
    # the driver — the demonstrated pattern is the deployable one.
    sink_dir, chk_dir = _pid_scoped_dirs(sf_dir, "score-")

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the per-batch window aggregate is only correct when availableNow
        # delivers the replay as ONE batch (no maxFilesPerTrigger set): a
        # window spanning two batches would emit conflicting partial
        # feature rows.  Fail loudly instead of silently mis-scoring.
        if batch_id > 0:
            raise RuntimeError(
                "run_streaming_scoring requires single-batch delivery; "
                f"got micro-batch {batch_id} — windowed features would be partial"
            )
        feats = sql_over(batch_df, _features_sql)
        score_models(feats, models).write.mode("append").parquet(sink_dir)

    # seed the sink with a 0-row frame carrying the score schema: a replay
    # source that yields zero micro-batches otherwise never creates the
    # directory and the read below would raise PATH_NOT_FOUND.  Seed from
    # the static SCORE_SCHEMA — scoring an empty frame would broadcast
    # every model blob just to materialize a schema.
    from gordo_components_spark.ml.islands import SCORE_SCHEMA

    spark.createDataFrame([], SCORE_SCHEMA).write.mode("append").parquet(sink_dir)

    with _stream_shuffle_partitions(spark, est_rows=footer_rows(sf_dir, "events")):
        q = (
            stream.writeStream.foreachBatch(score_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", chk_dir)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(sink_dir)


_EWMA_STATE = "user_id bigint, ewma double, n bigint, total double"


def _ewma_fold(alpha: float):
    """One micro-batch of the per-machine EWMA: each key's batch readings
    in (ts, event_id) order folded by ``aggregate`` over the carried
    ewma (NULL for a new key), n and total added to the carried sums.
    The weights are DOUBLE literals (``…D``): a DECIMAL literal would not
    be bit-identical to the sequential alpha * v + (1 - alpha) * ewma."""

    def fold(batch: DataFrame, prior: DataFrame) -> DataFrame:
        per_key = batch.groupBy("user_id").agg(
            F.expr("array_sort(collect_list(struct(ts, event_id, value)))").alias("xs"),
            F.count(F.lit(1)).alias("bn"),
            F.sum("value").alias("bt"),
        )
        return per_key.join(prior, "user_id", "full_outer").selectExpr(
            "user_id",
            f"aggregate(coalesce(xs, array()), ewma, (acc, x) -> IF(acc IS NULL, x.value,"
            f" {alpha!r}D * x.value + {1 - alpha!r}D * acc)) AS ewma",
            "coalesce(n, 0) + coalesce(bn, 0) AS n",
            "coalesce(total, 0.0D) + coalesce(bt, 0.0D) AS total",
        )

    return fold


def run_streaming_stateful_ewma(
    spark: SparkSession, sf_dir: str, alpha: float = 0.2
) -> DataFrame:
    """Per-machine EWMA + running count carried across micro-batches on
    the stateful-fold skeleton (``_fold_stream``, folded per batch by
    ``_ewma_fold`` on the JVM).  ``maxFilesPerTrigger=1`` forces 3
    micro-batches over the replay files, so state carry is actually
    exercised — each machine's final row aggregates all three.

    State is (ewma, n, total); n/total are order-independent and testable
    against batch; the EWMA is the serving-side smoothing (O25) face.
    Order contract as the CUSUM face: exact (ts, event_id) within a
    micro-batch, arrival order across batches."""
    prepare(spark)
    return _fold_stream(
        _replay_stream(spark, sf_dir, 1),
        f"stream_ewma_{uuid.uuid4().hex[:8]}",
        _ewma_fold(alpha),
        _EWMA_STATE,
        lambda state: state,
        est_rows=footer_rows(sf_dir, "events"),
    )


def run_streaming_watermark_dedup(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """O37 streaming dedup keyed on event_id within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — state is bounded by the watermark,
    which is what makes this viable on an unbounded 100 TB/day stream)."""
    prepare(spark)
    stream = _replay_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "ts", "event_type", "value")
    )
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    return _run_to_memory(deduped, name, est_rows=footer_rows(sf_dir, "events"))


def run_streaming_stream_join(
    spark: SparkSession, sf_dir: str, horizon: str = "30 minutes"
) -> DataFrame:
    """Stream-stream interval join (SURVEY §2.9 breadth): purchases
    joined to the same machine's clicks at most ``horizon`` earlier —
    the attribution-window shape.  Both sides are watermarked so the
    join's state store evicts rows older than the horizon (what makes a
    stream-stream join viable on an unbounded feed: state is bounded by
    watermark + interval, not by stream length).

    availableNow replays the whole fixture in one batch, so no row is
    late and the result equals the equivalent batch interval join —
    asserted in tests/test_streaming.py::test_stream_stream_join_batch_parity."""
    prepare(spark)
    clicks = (
        _replay_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        _replay_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id", "p_ts", "c_ts"
    )
    name = f"stream_join_{uuid.uuid4().hex[:8]}"
    return _run_to_memory(joined, name, est_rows=footer_rows(sf_dir, "events"))


def run_streaming_enrich_dim(
    spark: SparkSession, sf_dir: str, duration: str = "1 day"
) -> DataFrame:
    """Stream-static enrichment (SURVEY §2.9 breadth): the event stream
    joined to the slowly-changing customer dimension, then windowed per
    market segment.  The static side is re-planned per micro-batch (so a
    dim refresh between batches is picked up) and broadcast — the
    canonical shape for enriching an unbounded 100 TB/day feed with a
    dimension that fits an executor: NO stream state is created by the
    join at all; only the downstream window agg keeps state, bounded by
    its watermark.

    availableNow replays the fixture in one batch, so the result equals
    the equivalent batch join+window — asserted in
    tests/test_streaming.py::test_enrich_dim_batch_parity."""
    prepare(spark)
    stream = _replay_stream(spark, sf_dir)
    # no FORCED broadcast: the customer dim GROWS with the scale factor
    # (r7 mirror rule — explicit hints only for fixed-cardinality sides).
    # The static side is re-planned per micro-batch, and the planner
    # broadcasts it by size estimate at bench SF; a 100 TB deployment
    # whose dim outgrows an executor degrades to a shuffle join instead
    # of OOMing — either way the join stays stateless.
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        stream.withWatermark("ts", "1 hour")
        .join(dim, "user_id")  # stream-static: stateless, broadcast
        .groupBy("c_mktsegment", F.window("ts", duration).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE)").alias("total_value"),
        )
        .select("c_mktsegment", F.col("w.start").alias("window_start"), "n", "total_value")
    )
    name = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    return _run_to_memory(enriched, name, est_rows=footer_rows(sf_dir, "events"))


def run_streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of the incremental-dedup nightly cycle
    (``extensions_corpus.pipe_dedup_incremental`` is the batch face):
    crawl-batch documents arrive as a replayed file stream; duplicates
    WITHIN the stream are dropped by ``dropDuplicatesWithinWatermark``
    on the content digest (state bounded by the crawl-time watermark —
    viable on an unbounded feed), and each micro-batch anti-joins the
    persisted historical digest index before appending survivors to the
    sink.  The history probe is stream-static: re-planned per batch, no
    stream state, so index compactions land between batches.

    Batch parity (the surviving digest SET equals the batch face's —
    keep_id depends on arrival order, so the set is the contract) is
    asserted in tests/test_streaming.py."""
    from gordo_components_spark.operators.extensions_corpus import build_dedup_index

    prepare(spark)
    root = build_dedup_index(spark, sf_dir)

    # replay source: the SHARED crawl-batch fixture (_delta_batch — one
    # definition with the batch faces, so parity can't silently drift)
    # as a 3-file parquet dir with a synthetic crawl timestamp for the
    # watermark, installed through the fingerprinted atomic cache
    from gordo_components_spark.caches import materialized_cache
    from gordo_components_spark.operators.extensions_corpus import _delta_batch

    def build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        batch = _delta_batch(docs).select("doc_id", "text_hash", "source").withColumn(
            "crawl_ts",
            F.expr(
                "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, doc_id % 86400)"
            ),
        )
        batch.repartition(3).write.mode("overwrite").parquet(tmp)

    src = materialized_cache(
        sf_dir, "/tmp/gordo_spark_stream", "docs_delta_replay", "documents", build
    )

    schema = "doc_id bigint, text_hash string, source string, crawl_ts timestamp"
    stream = spark.readStream.schema(schema).parquet(src)
    deduped = stream.withWatermark("crawl_ts", "1 hour").dropDuplicatesWithinWatermark(
        ["text_hash"]
    )

    sink_dir, chk_dir = _pid_scoped_dirs(sf_dir, "incdedup-")

    hist_path = os.path.join(root, "hist")

    def probe_history(batch_df: DataFrame, batch_id: int) -> None:
        # LOUD single-batch contract (advisory r5): the stream/batch
        # digest-set parity relies on availableNow delivering all DATA
        # in one micro-batch — crawl_ts spans 24h but the watermark is
        # 1h, so if data delivery ever splits (e.g. a maxFilesPerTrigger
        # conf), duplicates landing in batches >1h apart would BOTH
        # survive dropDuplicatesWithinWatermark and silently break
        # parity.  The stateful operator legitimately schedules a
        # trailing NO-DATA batch to advance the watermark and evict
        # state — only a late batch CARRYING ROWS violates the contract.
        if batch_id > 0:
            if batch_df.isEmpty():
                return  # watermark-advance batch: nothing to append
            raise RuntimeError(
                "streaming incremental dedup expects all data in a single "
                f"availableNow micro-batch (batch_id={batch_id} carried rows); "
                "multi-batch delivery breaks the 1h-watermark dedup parity "
                "contract"
            )
        hist = batch_df.sparkSession.read.parquet(hist_path).select("text_hash")
        batch_df.join(hist.hint("SHUFFLE_HASH"), "text_hash", "left_anti").write.mode(
            "append"
        ).parquet(sink_dir)

    spark.createDataFrame([], schema).write.mode("append").parquet(sink_dir)
    with _stream_shuffle_partitions(spark, est_rows=footer_rows(sf_dir, "documents")):
        q = (
            deduped.writeStream.foreachBatch(probe_history)
            .trigger(availableNow=True)
            .option("checkpointLocation", chk_dir)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(sink_dir)


def run_streaming_session_agg(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """O35 as a GENUINE streaming query: ``session_window`` under an
    event-time watermark — the one windowing mode whose window bounds are
    data-dependent, so the state store must merge adjacent windows as
    rows arrive and can only finalize a session once the watermark
    passes its close (start/end cannot be known at assignment time, the
    way tumbling/sliding bounds are).  State per machine is bounded by
    the watermark horizon — what makes sessionization viable on an
    unbounded feed.

    availableNow replays the fixture, then a final no-data batch
    advances the watermark to (max event time − delay): sessions closing
    before that horizon are emitted (append mode), later ones are
    legitimately still in state — the parity test
    (tests/test_streaming.py::test_session_window_stream_batch_parity)
    asserts emitted ⊆ batch sessions with bit-equal aggregates AND that
    every watermark-finalized batch session was emitted."""
    prepare(spark)
    stream = _replay_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE)").alias(
                "session_value"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    name = f"stream_sess_{uuid.uuid4().hex[:8]}"
    return _run_to_memory(agg, name, est_rows=footer_rows(sf_dir, "events"))


def _v100(v: float) -> int:
    """Integer-cents scaling that EXACTLY mirrors Spark SQL's
    ``CAST(round(value * 100) AS BIGINT)`` on doubles: Spark rounds the
    double's SHORTEST decimal repr (BigDecimal.valueOf ⇒ Double.toString)
    with HALF_UP — Python's builtin ``round`` is half-EVEN and would
    diverge from the batch face on exact half-ties (r8 review).
    ``repr(float)`` is the same shortest repr, so Decimal(repr)·HALF_UP
    is bit-identical."""
    import decimal

    return int(
        decimal.Decimal(repr(v * 100)).to_integral_value(
            rounding=decimal.ROUND_HALF_UP
        )
    )


#: the CUSUM/TWA faces' state key and carried per-key state frames
_FOLD_KEYS = ("user_id", "event_type")
_CUSUM_STATE = "user_id bigint, event_type string, s bigint, n_seen bigint, n_alerts bigint"
_TWA_STATE = (
    "user_id bigint, event_type string, last_us bigint, last_v bigint, num bigint, span_us bigint"
)


def _cusum_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(machine, tag) train-window baseline: bn readings, bs1 = Σv100.
    The range loader filters the raw ts column, so the scan prunes row
    groups on both timestamp branches, and the bound is the drift
    family's shared _DRIFT_SPLIT_TS.  Materialized once per run
    (localCheckpoint, bounded by machines × tags) for every micro-batch
    to join on the JVM."""
    from gordo_components_spark.operators.model_sql import _DRIFT_SPLIT_TS
    from gordo_components_spark.sources.tables import load_events_in_range

    return (
        load_events_in_range(spark, sf_dir, to_ts=_DRIFT_SPLIT_TS)
        .groupBy(*_FOLD_KEYS)
        .agg(
            F.count(F.lit(1)).alias("bn"),
            F.expr("CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS bs1"),
        )
        .localCheckpoint()
    )


def _cusum_fold(baseline: DataFrame):
    """One micro-batch of Page's CUSUM as a prefix scan.  Each carried
    key enters as a SEED row ordered before its events (ORDER BY seed,
    ts, event_id), contributing d = s0; an event contributes
    d = bn·(v100 − k) − bs1.  The recurrence s = max(0, s + d) unrolls
    to cum − least(0, running-min(cum)) (cum = Σd, the seed's cum
    s0 ≥ 0 never lowers the min), so one exchange, one sort, two
    windows over the same spec and one aggregate fold the batch; keys
    without new events pass through on their seed row."""
    from pyspark.sql import Window

    from gordo_components_spark.operators.windows import _CUSUM_H100, _CUSUM_K100

    w = (
        Window.partitionBy(*_FOLD_KEYS)
        .orderBy("seed", "ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def fold(batch: DataFrame, prior: DataFrame) -> DataFrame:
        seeds = prior.selectExpr(
            "user_id", "event_type", "0 AS seed", "CAST(NULL AS TIMESTAMP) AS ts",
            "CAST(NULL AS BIGINT) AS event_id", "s AS d",
            "CAST(NULL AS BIGINT) AS thr", "n_seen", "n_alerts",
        )
        # cold keys (no baseline) get bn = bs1 = 0: d = 0, s stays 0 and
        # never alarms — they only count
        events = batch.join(baseline, list(_FOLD_KEYS), "left").selectExpr(
            "user_id", "event_type", "1 AS seed", "ts", "event_id",
            f"coalesce(bn, 0) * (CAST(round(value * 100) AS BIGINT) - {_CUSUM_K100})"
            " - coalesce(bs1, 0) AS d",
            f"coalesce(bn, 0) * {_CUSUM_H100} AS thr",
            "CAST(1 AS BIGINT) AS n_seen", "CAST(0 AS BIGINT) AS n_alerts",
        )
        rows = seeds.unionByName(events).withColumn("cum", F.sum("d").over(w))
        rows = rows.withColumn("s", F.col("cum") - F.least(F.lit(0), F.min("cum").over(w)))
        return rows.groupBy(*_FOLD_KEYS).agg(
            F.expr("max_by(s, struct(seed, ts, event_id))").alias("s"),
            F.sum("n_seen").alias("n_seen"),
            # a seed's thr is NULL: it adds its carried count, no alarm
            F.expr("sum(n_alerts + IF(s > thr, 1, 0))").alias("n_alerts"),
        )

    return fold


def run_streaming_cusum(
    spark: SparkSession,
    sf_dir: str,
    single_batch: bool = False,
    checkpoint: str | None = None,
) -> DataFrame:
    """Streaming CUSUM change-point detector on the stateful-fold
    skeleton (``_fold_stream``) — the serving-side face of
    ``window_cusum_alerts``: a per-(machine, tag) accumulated excess
    over a TRAIN-window baseline (the trained-detector + live-stream
    split a real deployment has), carried across micro-batches as the
    integer state (s, n_seen, n_alerts) and folded per batch by the
    prefix scan ``_cusum_fold`` on the JVM; no Python worker runs.

    Exact (ts, event_id) order within a micro-batch, arrival order
    across batches (any real stream's contract).  ``single_batch=True``
    delivers the replay as one batch, byte-for-byte reproducible against
    a sequential reference (tests/test_streaming.py).  Bigint state:
    under ANSI mode (the Spark 4 default) a sum past 2⁶³ raises
    ARITHMETIC_OVERFLOW instead of wrapping.  ``checkpoint`` keeps the
    query's checkpoint and fold state at a caller-owned path so a
    stopped run can be restarted on it."""
    prepare(spark)
    baseline = _cusum_baseline(spark, sf_dir)
    return _fold_stream(
        _replay_stream(spark, sf_dir, None if single_batch else 1),
        f"stream_cusum_{uuid.uuid4().hex[:8]}",
        _cusum_fold(baseline),
        _CUSUM_STATE,
        # 100.0D: a DECIMAL literal would not be bit-identical to the
        # sequential s / (bn * 100.0)
        lambda state: state.join(baseline, list(_FOLD_KEYS), "left").selectExpr(
            "user_id", "event_type", "CASE WHEN bn > 0 THEN s / (bn * 100.0D) END AS cusum",
            "n_seen", "n_alerts",
        ),
        est_rows=footer_rows(sf_dir, "events"),
        checkpoint=checkpoint,
    )


def _doubled_median(sorted_arr: str) -> str:
    """SQL doubled median of a sorted non-empty int array — ALWAYS an
    exact int: a[(m-1) DIV 2] + a[m DIV 2] is 2·a[mid] for odd m and the
    midpoint sum for even m, matching 2 x percentile(..., 0.5) on the
    batch face; property-ringed in tests/test_streaming.py."""
    a = sorted_arr
    return f"({a}[(size({a}) - 1) DIV 2] + {a}[size({a}) DIV 2])"


#: carried trailing window (last ≤ 20 readings as v100 and dev200, oldest
#: first) plus the per-machine counters and the last reading's med200
_HAMPEL_STATE = (
    "user_id bigint, hv array<bigint>, hd array<bigint>, n_seen bigint,"
    " n_flagged bigint, med200_last bigint"
)


def _hampel_fold(batch: DataFrame, prior: DataFrame) -> DataFrame:
    """One micro-batch of the trailing Hampel filter.  The carried window
    enters as ≤ 20 SEED rows (pos, v100, dev200) ordered before the
    batch's events; over the 21-row frame ``ROWS BETWEEN 20 PRECEDING AND
    CURRENT ROW`` one sliding window yields each event's med200, its
    dev200 = |2·v100 − med200|, and a second one over dev200 yields
    mad400.  An event flags only with ≥ 20 readings before it (a full
    frame).  The last 20 rows become the next window; a key without
    events passes through on its seeds."""
    from pyspark.sql import Window

    order = ("seed", "pos", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy(*order)
    frame = w.rowsBetween(-20, Window.currentRow)
    seeds = prior.selectExpr(
        "user_id", "n_seen", "n_flagged", "med200_last",
        "posexplode(arrays_zip(hv, hd)) AS (pos, x)",
    ).selectExpr(
        "user_id", "0 AS seed", "pos", "CAST(NULL AS TIMESTAMP) AS ts",
        "CAST(NULL AS BIGINT) AS event_id", "x.hv AS v100", "x.hd AS dev_c",
        # the counters ride on the first seed only
        "IF(pos = 0, n_seen, 0) AS n_seen", "IF(pos = 0, n_flagged, 0) AS n_flagged",
        "med200_last AS med_c",
    )
    events = batch.selectExpr(
        "user_id", "1 AS seed", "CAST(NULL AS INT) AS pos", "ts", "event_id",
        "CAST(round(value * 100) AS BIGINT) AS v100", "CAST(NULL AS BIGINT) AS dev_c",
        "CAST(1 AS BIGINT) AS n_seen", "CAST(0 AS BIGINT) AS n_flagged",
        "CAST(NULL AS BIGINT) AS med_c",
    )
    rows = seeds.unionByName(events)
    rows = rows.withColumn("win", F.array_sort(F.collect_list("v100").over(frame)))
    rows = rows.selectExpr(
        "*", f"coalesce(med_c, {_doubled_median('win')}) AS med200"
    ).withColumn("dev200", F.expr("coalesce(dev_c, abs(2 * v100 - med200))"))
    rows = rows.withColumn("dwin", F.array_sort(F.collect_list("dev200").over(frame))).select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("cnt"),
    )
    flag = f"seed = 1 AND size(win) > 20 AND 10000 * dev200 > 22239 * {_doubled_median('dwin')}"
    return rows.groupBy("user_id").agg(
        F.expr("array_sort(collect_list(IF(rn > cnt - 20, struct(rn, v100, dev200), NULL)))")
        .alias("tail"),
        F.sum("n_seen").alias("n_seen"),
        F.expr(f"sum(n_flagged + IF({flag}, 1, 0))").alias("n_flagged"),
        F.expr("max_by(med200, rn)").alias("med200_last"),
    ).selectExpr(
        "user_id",
        "transform(tail, x -> x.v100) AS hv",
        "transform(tail, x -> x.dev200) AS hd",
        "n_seen", "n_flagged", "med200_last",
    )


def run_streaming_hampel(
    spark: SparkSession, sf_dir: str, single_batch: bool = False
) -> DataFrame:
    """Streaming TRAILING-Hampel despiker on the stateful-fold skeleton
    (``_fold_stream``, folded per batch by ``_hampel_fold`` on the JVM)
    — the serving-side sibling of ``window_hampel_outlier``: per machine,
    each reading is tested against the median of its trailing 21-sample
    window with a MAD-robust 3σ fence, state (the last 20 readings and
    their deviations) carried across micro-batches.  Where the batch
    face looks ±10 samples around each point (retrospective cleaning),
    the stream can only look BACK — the standard live-despiking variant.

    Integer-exact: windows hold 2-dp-exact v100 bigints; medians are
    tracked ×2 (med200 = w[k]·2 or w[k−1]+w[k] — always an int), so
    dev200 = |2·v100 − med200| and mad400 reuse the batch face's pure
    bigint fence 10000·dev200 > 22239·mad400 with IDENTICAL constants.
    Flags fire only once the trailing window is full (21 samples), so a
    cold key warms up silently.  State is two ≤20-element bigint arrays
    per machine — bounded regardless of stream length.  Order contract
    as the CUSUM face."""
    prepare(spark)
    return _fold_stream(
        _replay_stream(spark, sf_dir, None if single_batch else 1),
        f"stream_hampel_{uuid.uuid4().hex[:8]}",
        _hampel_fold,
        _HAMPEL_STATE,
        # 200.0D: bit-identical to the sequential med200 / 200.0
        lambda state: state.selectExpr(
            "user_id", "n_seen", "n_flagged", "med200_last / 200.0D AS last_med",
            "element_at(hd, -1) / 200.0D AS last_dev",
        ),
        est_rows=footer_rows(sf_dir, "events"),
    )


def run_streaming_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming M4 downsampling: the serving face of
    ``agg_m4_downsample`` — first/last/min/max reading per (machine,
    tag, 6 h event-time window) maintained as a GENUINE watermarked
    streaming aggregation (single-batch replay so no window is dropped
    late; first/last ride ``min_by``/``max_by`` over the unique
    (ts, event_id) struct order, exactly the batch face's total
    order).  Batch↔stream parity is asserted in
    tests/test_streaming.py."""
    prepare(spark)
    stream = _replay_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", "event_type", F.window("ts", "6 hours").alias("w"))
        .agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("v_first"),
            F.expr("max_by(value, struct(ts, event_id))").alias("v_last"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(
            "user_id",
            "event_type",
            F.col("w.start").alias("bucket"),
            "v_first",
            "v_last",
            "v_min",
            "v_max",
            "n",
        )
    )
    name = f"stream_m4_{uuid.uuid4().hex[:8]}"
    return _run_to_memory(agg, name, est_rows=footer_rows(sf_dir, "events"))


def _twa_fold(batch: DataFrame, prior: DataFrame) -> DataFrame:
    """One micro-batch of the integer trapezoid sum.  Each carried key
    enters as a SEED row (its last reading) ordered before its events,
    so LAG pairs every event with its predecessor — across the batch
    boundary too — and each segment adds (v100_prev + v100)·Δµs to num
    and Δµs to span_us.  Bigint arithmetic: under ANSI mode (the Spark 4
    default) a product or sum past 2⁶³ raises ARITHMETIC_OVERFLOW
    instead of wrapping."""
    from pyspark.sql import Window

    w = Window.partitionBy(*_FOLD_KEYS).orderBy("seed", "us", "event_id")
    seeds = prior.selectExpr(
        "user_id", "event_type", "0 AS seed", "last_us AS us",
        "CAST(NULL AS BIGINT) AS event_id", "last_v AS v", "num", "span_us",
    )
    events = batch.selectExpr(
        "user_id", "event_type", "1 AS seed", "unix_micros(ts) AS us", "event_id",
        "CAST(round(value * 100) AS BIGINT) AS v",
        "CAST(0 AS BIGINT) AS num", "CAST(0 AS BIGINT) AS span_us",
    )
    rows = seeds.unionByName(events).select(
        "*", F.lag("us").over(w).alias("lag_us"), F.lag("v").over(w).alias("lag_v")
    )
    return rows.groupBy(*_FOLD_KEYS).agg(
        F.expr("max_by(us, struct(seed, us, event_id))").alias("last_us"),
        F.expr("max_by(v, struct(seed, us, event_id))").alias("last_v"),
        F.expr("sum(num + coalesce((lag_v + v) * (us - lag_us), 0))").alias("num"),
        F.expr("sum(span_us + coalesce(us - lag_us, 0))").alias("span_us"),
    )


def run_streaming_twa(
    spark: SparkSession,
    sf_dir: str,
    single_batch: bool = False,
    checkpoint: str | None = None,
) -> DataFrame:
    """Streaming time-weighted average on the stateful-fold skeleton
    (``_fold_stream``) — the serving face of ``agg_time_weighted_avg``:
    per (machine, tag), the trapezoid integral accumulates ACROSS
    micro-batches, emitting each key's running TWA — what a live
    dashboard's "average so far" must mean under irregular sampling.

    Integer-exact state: (last_us, last_v, num, span_us), folded per
    batch by ``_twa_fold`` on the JVM; the emitted num/span_us ints make
    the parity checks in tests/test_streaming.py integer-exact (the
    float twa is derived).  Order contract mirrors the CUSUM face: exact
    (ts, event_id) within a batch, arrival order across batches — a
    batch arriving with readings older than the carried one adds a
    negative Δµs segment, exactly as the sequential fold does.
    ``checkpoint`` as in ``run_streaming_cusum``."""
    prepare(spark)
    return _fold_stream(
        _replay_stream(spark, sf_dir, None if single_batch else 1),
        f"stream_twa_{uuid.uuid4().hex[:8]}",
        _twa_fold,
        _TWA_STATE,
        lambda state: state.selectExpr(
            "user_id", "event_type", "num", "span_us",
            # 200.0D: bit-identical to the sequential num / (200.0 * span)
            "CASE WHEN span_us <> 0 THEN num / (200.0D * span_us) END AS twa",
        ),
        est_rows=footer_rows(sf_dir, "events"),
        checkpoint=checkpoint,
    )


def run_streaming_benford(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Streaming Benford first-digit screen — the live data-quality face
    of ``agg_benford_screen``: per-tag first-significant-digit counts
    maintained as a genuine Structured Streaming aggregation (complete
    mode: the memory sink holds only the final per-tag rows; counts are
    ORDER-INDEPENDENT, so the multi-batch final state
    equals the batch face EXACTLY — the strongest batch↔stream parity
    in the repo, asserted in tests/test_streaming.py), with the χ²
    conformance verdict recomputed per emission from the same
    compile-time expression chain the batch face uses."""
    from gordo_components_spark.operators.relational_extra import (
        _BENFORD_CHI2,
        _BENFORD_OBS_PAIRS,
    )

    prepare(spark)
    stream = _replay_stream(spark, sf_dir, max_files_per_trigger)
    v = stream.where(F.expr("round(value * 100) >= 1")).select(
        "event_type",
        F.expr(
            "substr(CAST(CAST(round(value * 100) AS BIGINT) AS STRING), 1, 1)"
        ).alias("d"),
    )
    agg = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[F.expr(e).alias(a) for a, e in _BENFORD_OBS_PAIRS],
    )
    out = agg.select(
        "event_type",
        "n",
        "o1",
        "o9",
        F.expr(_BENFORD_CHI2).alias("chi2"),
        F.expr(f"(({_BENFORD_CHI2}) < 15.507)").alias("conforms"),
    )
    name = f"stream_benford_{uuid.uuid4().hex[:8]}"
    return _run_to_memory(
        out, name, output_mode="complete", est_rows=footer_rows(sf_dir, "events")
    )


#: the carried sketch is the face's output: each tag's k smallest
#: (hid, event_id) ranked by that order
_BOTTOMK_STATE = "event_type string, rk int, event_id bigint, hid string"


def _bottomk_fold(k: int):
    """One micro-batch of the bottom-k sketch: the carried ≤ k rows per
    tag unioned with the batch's (md5(id), id) pairs, re-ranked and
    re-truncated to the k smallest by the unique total order
    (hid, event_id)."""

    def fold(batch: DataFrame, prior: DataFrame) -> DataFrame:
        rows = prior.select("event_type", "event_id", "hid").unionByName(
            batch.select(
                "event_type", "event_id", F.md5(F.col("event_id").cast("string")).alias("hid")
            )
        )
        rk = "CAST(row_number() OVER (PARTITION BY event_type ORDER BY hid, event_id) AS INT)"
        return rows.selectExpr("event_type", f"{rk} AS rk", "event_id", "hid").where(f"rk <= {k}")

    return fold


def run_streaming_bottomk_sample(
    spark: SparkSession, sf_dir: str, k: int = 10, single_batch: bool = False
) -> DataFrame:
    """Streaming uniform sampling via a per-key BOTTOM-K hash sketch on
    the stateful-fold skeleton (``_fold_stream``, folded per batch by
    ``_bottomk_fold`` on the JVM) — the mergeable alternative to
    reservoir sampling: state is each tag's k smallest (md5(id), id)
    pairs, each micro-batch folds its rows in and re-truncates to k, and
    because bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)) the
    final state is INDEPENDENT of replay slicing and arrival order — the
    batch face ``stream_sample_bottomk`` is reproduced bit-exactly
    (tests/test_streaming.py asserts it).  State is k hex digests + k
    ids per key — fixed-size at any corpus scale."""
    prepare(spark)
    return _fold_stream(
        _replay_stream(spark, sf_dir, None if single_batch else 1),
        f"stream_bottomk_{uuid.uuid4().hex[:8]}",
        _bottomk_fold(k),
        _BOTTOMK_STATE,
        lambda state: state,
        est_rows=footer_rows(sf_dir, "events"),
    )


def run_streaming_manifest_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion into the transactional manifest table — the
    Delta-sink shape: ``readStream → foreachBatch(commit_append)`` with
    ``txn_id = batchId`` so a replayed micro-batch (checkpoint restart)
    re-commits as a NO-OP (exactly-once table contents, Delta's
    txnAppId/txnVersion mechanism; plans/manifest_table.py).  One
    manifest version per micro-batch; the final read unions the batch
    data dirs through the version pointer.

    Parity (tests/test_manifest_table.py): final table contents equal
    the batch read of the same fixture BIT-EXACTLY and the version count
    equals the micro-batch count — content is batching-invariant, which
    is the transactional-sink claim."""
    import shutil

    from gordo_components_spark.plans.manifest_table import ManifestTable

    prepare(spark)
    run_id = uuid.uuid4().hex
    root = f"/tmp/gordo_spark_stream/manifest-sink-{run_id}"
    chk = f"/tmp/gordo_spark_stream/chk/manifest-sink-{run_id}"
    t = ManifestTable(root)
    stream = _replay_stream(spark, sf_dir, 1)
    try:
        with _stream_shuffle_partitions(spark, est_rows=footer_rows(sf_dir, "events")):
            q = (
                stream.writeStream.foreachBatch(
                    lambda bdf, bid: t.commit_append(bdf, txn_id=f"replay-{bid}")
                )
                .trigger(availableNow=True)
                .option("checkpointLocation", chk)
                .start()
            )
            q.awaitTermination()
        out = (
            t.read(spark)
            .withColumn("table_version", F.lit(t.current_version()).cast("int"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(chk, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)
    return out


def run_streaming_countmin(
    spark: SparkSession, sf_dir: str, single_batch: bool = False
) -> DataFrame:
    """Genuine-streaming Count-Min sketch: every arriving event adds 1 to
    its key's cell in each of the 4 hash rows, maintained as a streaming
    groupBy((r, cell)).count() in COMPLETE mode — the sketch is LINEAR
    (cell-wise addition), so the final state is independent of
    micro-batch slicing and arrival order, and bit-equal to the batch
    sketch ``agg_countmin_estimate`` builds from per-key exact counts
    (tests/test_streaming.py asserts cell-wise parity).  State is the
    fixed 4x256 counter array — the state-store contract never grows
    with the corpus."""
    from gordo_components_spark.operators.relational_extra import _cm_cell, _CM_D

    prepare(spark)
    stream = _replay_stream(spark, sf_dir, None if single_batch else 1)
    cell = _cm_cell("h", "instr", "r")
    cells = stream.withColumn(
        "h", F.expr("md5(event_type || ':' || CAST(user_id AS STRING))")
    ).select(
        F.explode(
            F.expr(
                "transform(sequence(0, %d), r -> struct(CAST(r AS INT) AS r, %s AS cell))"
                % (_CM_D - 1, cell)
            )
        ).alias("t")
    ).select("t.r", "t.cell")
    sketch = cells.groupBy("r", "cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    name = f"stream_cm_{uuid.uuid4().hex[:8]}"
    return _run_to_memory(
        sketch, name, output_mode="complete", est_rows=footer_rows(sf_dir, "events")
    )


_MG_STATE = (
    "event_type string, users array<bigint>, counts array<bigint>, n_seen bigint, decr bigint"
)


def _mg_fold(k: int):
    """One micro-batch merged into the Misra–Gries summary the mergeable
    way (Agarwal et al., "Mergeable Summaries", PODS 2012): the batch's
    exact (tag, user) counts are added to the carried counters, the
    tag's (k+1)-th largest count c (0 with ≤ k counters) is subtracted
    from every counter, only counters left > 0 stay, and c joins the
    decrement mass.  One state row per tag, so a tag whose counters all
    cancel keeps its n_seen."""

    def fold(batch: DataFrame, prior: DataFrame) -> DataFrame:
        carried = prior.selectExpr(
            "event_type", "explode(arrays_zip(users, counts)) AS x"
        ).selectExpr("event_type", "x.users AS user_id", "x.counts AS c", "0L AS n")
        fresh = batch.groupBy("event_type", "user_id").agg(
            F.count(F.lit(1)).alias("c")
        ).withColumn("n", F.col("c"))
        per_tag = (
            carried.unionByName(fresh)
            .groupBy("event_type", "user_id")
            .agg(F.sum("c").alias("c"), F.sum("n").alias("n"))
            .groupBy("event_type")
            .agg(
                # descending by (c, user_id): a unique, deterministic order
                F.expr("sort_array(collect_list(struct(c, user_id)), false)").alias("cs"),
                F.sum("n").alias("bn"),
            )
            .selectExpr("*", f"IF(size(cs) > {k}, cs[{k}].c, 0L) AS cut")
        )
        return per_tag.join(prior, "event_type", "full_outer").selectExpr(
            "event_type",
            "transform(filter(coalesce(cs, array()), x -> x.c > cut), x -> x.user_id) AS users",
            "transform(filter(coalesce(cs, array()), x -> x.c > cut), x -> x.c - cut) AS counts",
            "coalesce(n_seen, 0L) + coalesce(bn, 0L) AS n_seen",
            "coalesce(decr, 0L) + coalesce(cut, 0L) AS decr",
        )

    return fold


def run_streaming_heavy_hitters(
    spark: SparkSession, sf_dir: str, k: int = 8, single_batch: bool = False
) -> DataFrame:
    """Genuine-streaming Misra–Gries heavy hitters: per event_type, a
    fixed-size k-counter summary of user activity carried across
    micro-batches on the stateful-fold skeleton (``_fold_stream``,
    merged per batch by ``_mg_fold`` on the JVM) — the streaming face
    of the two-pass batch miner (``agg_heavy_hitters``'s sketch pass).
    The MG invariant survives merging/slicing: any user whose true count
    exceeds N/k is guaranteed present in the final candidate set, and
    each kept counter understates the true count by at most the total
    decrement mass D = Σ c (tests/test_streaming.py pins both bounds
    against exact batch counts).  The summary is deterministic for a
    given delivery order.  State is ≤ k (user, count) pairs per tag —
    fixed-size at any corpus scale."""
    prepare(spark)
    return _fold_stream(
        _replay_stream(spark, sf_dir, None if single_batch else 1),
        f"stream_mg_{uuid.uuid4().hex[:8]}",
        _mg_fold(k),
        _MG_STATE,
        lambda state: state.selectExpr(
            "event_type", "inline(arrays_zip(users, counts))", "n_seen", "decr"
        ).selectExpr(
            "event_type", "users AS user_id", "counts AS mg_count", "n_seen",
            "decr AS n_decrements",
        ),
        est_rows=footer_rows(sf_dir, "events"),
    )

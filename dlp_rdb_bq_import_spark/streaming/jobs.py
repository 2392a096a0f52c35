"""Structured Streaming surface.

The reference's only streaming artifact is a processing-time chunking
window before its BigQuery write (DBImportPipeline.java:109-113 —
FixedWindows 30 s + AfterProcessingTime trigger, discarding panes; a
batching idiom, not event-time semantics). Parity: ``chunked_ingest``
reproduces the idiom with ``foreachBatch``. Extension (SURVEY.md §2.10):
real event-time processing over the ``events`` fixture — watermark +
tumbling window, the thing the reference *cannot* do.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import local_rows_df


@contextmanager
def _stream_scratch(name: str):
    """Micro-batch scratch root (staged slices, versioned state, output
    appends, the stream's checkpoint): the fastest writable local dir.

    Defaults to tmpfs (/dev/shm) when present: every micro-batch pays
    offset/commit-log and state-parquet writes here, and on a
    disk-backed /tmp those fsync-bound metadata writes are a measured
    ~10-15% of each streaming twin's wall (r15). The scratch is
    per-call and removed when the block exits, on failure too (staging
    included) — nothing crosses calls. Deployment-parameterised via
    $SPARK_GRAFT_STREAM_SCRATCH (point it at fast local NVMe on a
    cluster; per-key-scalar state here is MB-scale, but a corpus whose
    state exceeds RAM needs a disk-backed path)."""
    base = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if base is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        base = "/dev/shm"
    root = tempfile.mkdtemp(prefix=f"{name}_stream_", dir=base)
    try:
        yield root
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _normalize_ts(df: DataFrame) -> DataFrame:
    """The events fixture's ``ts`` as TIMESTAMP, the conversion the
    batch reader applies: TIMESTAMP(NANOS) stored as long becomes
    micros, and NTZ is cast — watermarks/event-time ops require
    TIMESTAMP, and parquet micros without a zone infer as NTZ. The cast
    is linear under the session's pinned UTC zone, so event-time
    semantics are exact."""
    if dict(df.dtypes).get("ts") in ("bigint", "long"):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """readStream over the events fixture (file or directory), with the
    TIMESTAMP(NANOS)-as-long conversion the batch reader applies."""
    batch_df = spark.read.parquet(source_dir)
    schema = batch_df.schema
    if source_dir.endswith(".parquet"):
        directory, fname = os.path.split(source_dir)
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", fname)
            .parquet(directory)
        )
    else:
        raw = spark.readStream.schema(schema).parquet(source_dir)
    return _normalize_ts(raw)


class _VersionedState:
    """Versioned state-directory handle for ``foreachBatch`` folds.

    The first-cut folds wrote each batch's new state OVER the directory
    they had just read it from, which forced an eager
    ``localCheckpoint`` of both the read and the merged state (two
    extra Spark jobs per micro-batch) purely to defend against
    overwrite-while-reading. Writing every state generation to a FRESH
    ``state_v{n}`` directory removes the hazard outright: the write's
    input path is never its output path, so the merge plan executes
    lazily inside the single write job. Per-key/per-day state stays
    parquet-persisted between batches (the 100 TB posture is
    unchanged — state never lives in driver memory); only the
    job-per-batch count drops. Superseded versions are deleted after
    the next one lands, so disk holds at most two generations."""

    def __init__(self, root: str) -> None:
        self._root, self._v = root, 0

    @property
    def current(self) -> str:
        return os.path.join(self._root, f"state_v{self._v}")

    @property
    def has_state(self) -> bool:
        return self._v > 0

    def read(self, spark: SparkSession, schema: str) -> DataFrame:
        """Current state, or an empty frame of ``schema`` before the
        first write. The schema is SUPPLIED to the reader: state is
        read once per micro-batch, and letting the reader re-infer it
        from parquet footers paid a driver-side metadata pass per
        batch for a schema the fold already declares (r15, guide §5)."""
        if self._v == 0:
            return local_rows_df(spark, [], schema)
        return spark.read.schema(schema).parquet(self.current)

    def write(self, df: DataFrame) -> None:
        """Materialize ``df`` as the next state generation (ONE job),
        then drop the generation before last."""
        nxt = os.path.join(self._root, f"state_v{self._v + 1}")
        df.write.mode("overwrite").parquet(nxt)
        stale = os.path.join(self._root, f"state_v{self._v - 1}")
        self._v += 1
        if os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)


def _stage_ordered_slices(
    src: DataFrame, stage: str, slice_id, n_slices: int
):
    """Stage ``src`` into ``n_slices`` ordered parquet slice files in
    ONE pass (the first cut filtered + wrote per slice — n_slices full
    scans): ``slice_id`` (int Column in [0, n_slices)) routes each row,
    a hash repartition on it lands every slice in exactly one task, and
    ``partitionBy`` writes one file per slice value. Files then move up
    to the flat ``stage`` dir with STRICTLY increasing mod-times per
    slice — the same mtime pinning as before, so the file source +
    ``maxFilesPerTrigger=1`` replays the slices in event-time order.
    Row order WITHIN a slice changes versus the filtered write (hash
    shuffle), which every fold here is insensitive to by contract —
    each sorts per batch or folds order-free (the any-slicing ≡ batch
    guarantee)."""
    tmp = stage + "_tmp"
    (
        src.withColumn("_slice", slice_id.cast("int"))
        .repartition(n_slices, "_slice")
        .write.partitionBy("_slice")
        .mode("overwrite")
        .parquet(tmp)
    )
    os.makedirs(stage, exist_ok=True)
    base_mtime = int(time.time()) - 3600
    for i in range(n_slices):
        part_dir = os.path.join(tmp, f"_slice={i}")
        if not os.path.isdir(part_dir):
            continue
        for j, name in enumerate(sorted(os.listdir(part_dir))):
            if not name.endswith(".parquet"):
                continue
            dst = os.path.join(stage, f"slice{i:05d}_{j}.parquet")
            os.rename(os.path.join(part_dir, name), dst)
            os.utime(dst, (base_mtime + i, base_mtime + i))
    shutil.rmtree(tmp, ignore_errors=True)
    if not any(n.endswith(".parquet") for n in os.listdir(stage)):
        # empty source: the first cut still wrote (empty) slice files,
        # and downstream reads the dir for its schema — keep one
        src.limit(0).coalesce(1).write.mode("append").parquet(stage)
        for name in os.listdir(stage):
            os.utime(os.path.join(stage, name), (base_mtime, base_mtime))
    # The staged files carry exactly src's columns (the _slice routing
    # column lands in directory names and is stripped by the moves), so
    # the caller can hand this schema to readStream instead of paying a
    # footer-inference read of the freshly staged directory (r15). All-
    # nullable to match what parquet inference would have reported.
    return T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in src.schema.fields]
    )


def _range_cuts(src: DataFrame, expr: str, n_slices: int) -> list:
    """Exact percentile cutpoints of the SQL ``expr`` over ``src``: the
    ``n_slices - 1`` values that split it into ``n_slices`` ordered,
    non-overlapping ranges (none for one slice). ONE array-percentile
    aggregate — N separate percentile() exprs would each buffer the
    full column (the calibration_curve fix)."""
    if n_slices <= 1:
        return []
    fracs = ", ".join(repr(i / n_slices) for i in range(1, n_slices))
    return list(
        src.select(F.expr(f"percentile({expr}, array({fracs}))").alias("_bs"))
        .first()["_bs"]
    )


def _fold_stream(
    spark: SparkSession,
    name: str,
    src: DataFrame,
    make_fold,
    slice_on: str | None = None,
    n_slices: int = 1,
    hash_slices: bool = False,
    file_per_batch: bool = False,
) -> DataFrame:
    """The micro-batch driver every ``foreachBatch`` twin shares: stage
    ``src`` as a parquet file stream under a per-call scratch root,
    drive ``fold`` over it to completion, and return the eagerly
    checkpointed ``readout()`` (the scratch is gone after the call).

    ``make_fold(root)`` returns ``(fold, readout)``; both may keep state
    or output under ``root``. With ``slice_on`` (a SQL expression over
    ``src``) the input stages as ``n_slices`` ordered slices
    (``_stage_ordered_slices``) — ranges at the expression's percentile
    cuts, or hash buckets of it with ``hash_slices`` — replayed one file
    per micro-batch, the event-time order a real queue provides per key;
    ``file_per_batch`` asks the same of a plain staging. The scratch
    root is removed on every exit, a failed staging included."""
    sliced = slice_on is not None
    if sliced and n_slices < 1:
        raise ValueError(f"{name}: n_slices must be >= 1, got {n_slices}")
    with _stream_scratch(name.removeprefix("streaming_")) as root:
        stage = os.path.join(root, "staged")
        if not sliced:
            src.write.parquet(stage)
            schema = src.schema
        else:
            by = F.expr(slice_on)
            if hash_slices:
                slice_id = F.pmod(F.xxhash64(by), F.lit(n_slices))
            else:
                # the number of cutpoints strictly below the value —
                # EXACTLY the membership per-slice ``lo < x <= hi``
                # filters assign
                slice_id = F.lit(0)
                for c in _range_cuts(src, slice_on, n_slices):
                    slice_id = slice_id + F.when(by > F.lit(c), 1).otherwise(0)
            schema = _stage_ordered_slices(src, stage, slice_id, n_slices)
        fold, readout = make_fold(root)
        reader = spark.readStream.schema(schema)
        if sliced or file_per_batch:
            reader = reader.option("maxFilesPerTrigger", 1)
        q = (
            reader.parquet(stage)
            .writeStream.option("checkpointLocation", os.path.join(root, "_ckpt"))
            .foreachBatch(fold)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return readout().localCheckpoint(eager=True)


def _merge_fold(spark: SparkSession, build, merge):
    """``make_fold`` for the mergeable-summary twins: the first
    micro-batch's state is ``build(batch)``, every later one
    ``merge(state, batch)`` — one state write per micro-batch, and the
    final state is the result."""

    def make_fold(root):
        sd = _VersionedState(root)

        def fold(batch_df, _epoch_id):
            if sd.has_state:
                sd.write(merge(spark.read.parquet(sd.current), batch_df))
            else:
                sd.write(build(batch_df))

        return fold, lambda: spark.read.parquet(sd.current)

    return make_fold


def _append_fold(spark: SparkSession, step):
    """``make_fold`` for the stateless twins: each micro-batch appends
    ``step(batch)`` to one output directory, which is the result."""

    def make_fold(root):
        out_dir = os.path.join(root, "out")

        def fold(batch_df, _epoch_id):
            step(batch_df).write.mode("append").parquet(out_dir)

        return fold, lambda: spark.read.parquet(out_dir)

    return make_fold


def _day_totals_fold(
    spark: SparkSession, name: str, events: DataFrame, ts_col: str, value_col: str,
    unit_scale: int, n_slices: int, readout,
) -> DataFrame:
    """The fold the day-grain twins (``streaming_ols_trend``,
    ``streaming_max_drawdown``, ``streaming_mase``) share: the input
    stages as ``n_slices`` day-range slices, and the carried state is
    the DAY-GRAIN total table — one ``(day, Σ value)`` row per present
    day, merged with each micro-batch's day totals by one full-outer
    decimal join. Daily totals add, so the merge is exactly associative
    for any slicing. ``readout(daily)`` runs once on the final state,
    ``daily`` being ``(day, _x)`` with ``_x`` the day's total quantized
    by ``unit_scale``."""
    src = events.select(
        F.date_trunc("day", F.col(ts_col).cast("timestamp"))
        .cast("date")
        .alias("day"),
        F.col(value_col).cast("decimal(30,6)").alias("v"),
    ).where(F.col("day").isNotNull() & F.col("v").isNotNull())
    state_schema = "day date, sv decimal(38,6)"

    def make_fold(root):
        sd = _VersionedState(root)

        def fold(batch_df, _epoch_id):
            state = sd.read(spark, state_schema)
            part = batch_df.groupBy("day").agg(
                F.sum("v").cast("decimal(38,6)").alias("_bv")
            )
            merged = state.join(part, "day", "full").select(
                "day",
                (
                    F.coalesce(F.col("sv"), F.lit(0).cast("decimal(38,6)"))
                    + F.coalesce(F.col("_bv"), F.lit(0).cast("decimal(38,6)"))
                )
                .cast("decimal(38,6)")
                .alias("sv"),
            )
            sd.write(merged)

        def finish():
            daily = sd.read(spark, state_schema).select(
                "day",
                F.round(F.col("sv").cast("double") * F.lit(unit_scale))
                .cast("long")
                .alias("_x"),
            )
            return readout(daily)

        return fold, finish

    return _fold_stream(
        spark, name, src, make_fold, slice_on="unix_date(day)", n_slices=n_slices
    )


def _interval_join(
    raw: DataFrame, left_type: str, right_type: str, within: str, watermark: str, how: str
) -> DataFrame:
    """Watermarked stream-stream interval join of the events stream:
    each *left_type* event with the same user's *right_type* events
    within ``within`` after it, as ``(user_id, left_event, right_event,
    right_value)``. Columns are projected/renamed BEFORE the join
    (stream-stream joins reject ambiguous attribute references after
    the fact)."""
    left = (
        raw.where(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("left_event"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        raw.where(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("right_event"),
            F.col("ts").alias("r_ts"),
            F.col("value").alias("right_value"),
        )
        .withWatermark("r_ts", watermark)
    )
    return left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        how,
    ).select(
        F.coalesce(F.col("l_user"), F.col("r_user")).alias("user_id"),
        "left_event",
        "right_event",
        "right_value",
    )


def _run_to_memory(stream: DataFrame, output_mode: str) -> DataFrame:
    """Drive a finite file stream to completion into a memory sink and
    return the result table."""
    name = f"st_{uuid.uuid4().hex[:12]}"
    q = stream.writeStream.outputMode(output_mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        return stream.sparkSession.table(name)
    finally:
        q.stop()


def windowed_event_counts(
    spark: SparkSession,
    source_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window aggregation over the events table,
    executed as a real Structured Streaming query (parquet stream source
    → watermark → window agg → memory sink, driven to completion).

    Returns the finished result as a DataFrame with columns
    (window_start string, event_type, n, total_value) — deterministic,
    so it oracle-checks against a plain GROUP BY date_trunc.
    """
    raw = _event_stream(spark, source_dir)
    stream = (
        raw.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).alias("_tv"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            F.col("_tv").cast("double").alias("total_value"),
        )
    )
    return _run_to_memory(stream, "complete")


def chunked_ingest(
    df_stream: DataFrame,
    write_fn,
    trigger_seconds: int = 30,
):
    """The reference's 30 s chunked-write idiom (DBImportPipeline.java:
    109-113), Spark-natively: micro-batch trigger + foreachBatch, each
    batch an atomic write with task-retry semantics."""
    return (
        df_stream.writeStream.trigger(processingTime=f"{trigger_seconds} seconds")
        .foreachBatch(lambda batch_df, epoch_id: write_fn(batch_df, epoch_id))
        .start()
    )


def streaming_upsert(
    df_stream: DataFrame,
    table_path: str,
    key_cols: list[str],
    seq_col: str,
    checkpoint_dir: str,
):
    """Streaming materialized upsert view — the production
    stream→warehouse pattern: ``foreachBatch`` applies each micro-batch
    to a keyed latest-state parquet table with an atomic staged swap.

    Effectively-exactly-once without a transactional table format: the
    merge keeps the max-``seq_col`` row per key, so a replayed batch
    (foreachBatch is at-least-once across restarts) re-applies to the
    same result — idempotence by content, with the checkpoint only
    bounding how much is replayed.

    Precondition (same contract as ``scd2_build``): ``(key, seq)`` is
    unique across the stream — ``seq_col`` is a version/sequence
    number, so two DIFFERENT payloads must never share a key and
    sequence. The tie-break window orders by ``seq`` alone; under a
    violated precondition the winner would be partition-order-dependent
    and replay idempotence would not hold. Readers see the old or new table,
    never a partial write (directory-rename publish, same discipline as
    sinks/warehouse.py).

    At 100 TB the per-batch cost is one shuffle of (batch ∪ current
    state) on the key; for narrow keyed state this is the right shape,
    and a partitioned variant would swap only touched partitions.
    Blocks until the available data is processed (availableNow trigger).
    """
    from ..sinks.warehouse import replace_dir

    def apply_batch(batch_df, epoch_id):
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        if os.path.isdir(table_path):
            base = spark.read.parquet(table_path)
            merged = (
                base.unionByName(latest)
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            merged = latest
        staged = f"{table_path}._staged_{epoch_id}"
        merged.write.mode("overwrite").parquet(staged)  # reads old table
        replace_dir(staged, table_path)

    q = (
        df_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_static_segment_rollup(
    spark: SparkSession,
    source_dir: str,
    dim: DataFrame,
    key: str = "user_id",
    dim_key: str = "c_custkey",
    segment_col: str = "c_mktsegment",
) -> DataFrame:
    """Stream-static join: every micro-batch of the event stream joins
    against a static dimension table — the streaming spelling of the
    reference's config-lookup join (`ServerUtil.java:274-286`), and the
    third Structured Streaming join flavor next to the batch and
    stream-stream paths. The static side needs no watermark or state:
    Spark re-plans it per micro-batch, broadcasting when small. Output
    is a complete-mode rollup per segment (unmatched users roll up as
    'UNKNOWN'), so the finished table oracle-checks against the plain
    batch LEFT JOIN + GROUP BY."""
    raw = _event_stream(spark, source_dir)
    joined = raw.join(
        F.broadcast(dim.select(F.col(dim_key).alias(key), segment_col)),
        key,
        "left",
    )
    stream = (
        joined.groupBy(
            F.coalesce(F.col(segment_col), F.lit("UNKNOWN")).alias("segment")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).alias("_tv"),
        )
        .select("segment", "n", F.col("_tv").cast("double").alias("total_value"))
    )
    return _run_to_memory(stream, "complete")


def stream_stream_interval_join(
    spark: SparkSession,
    source_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: for every *left_type* event,
    the *right_type* events by the same user within ``within`` after it.

    Both sides carry a watermark and the join condition bounds
    right.ts in [left.ts, left.ts + within], so the state store can
    evict rows once the watermark passes — the property that makes the
    join runnable forever on an unbounded stream. Columns are
    projected/renamed BEFORE the join (stream-stream joins reject
    ambiguous attribute references after the fact).
    """
    raw = _event_stream(spark, source_dir)
    joined = _interval_join(raw, left_type, right_type, within, watermark, "inner")
    return _run_to_memory(joined, "append")


def stream_stream_left_join(
    spark: SparkSession,
    source_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "leftOuter",
) -> DataFrame:
    """Watermarked stream-stream LEFT (or FULL) OUTER interval join:
    every *left_type* event with its *right_type* matches within
    ``within`` after it, null-extended when none arrive — the streaming
    semantics the inner join can't express (an unmatched row can only
    be emitted once the watermark PROVES no match can still arrive, so
    the state store both evicts and drives null emission).
    ``how='fullOuter'`` additionally null-extends unmatched RIGHT rows
    (purchases no click preceded).

    A finite file stream never advances the final watermark past the
    last event, so tail-end unmatched rows would sit in state forever;
    the input is staged with one far-future sentinel event per side
    (user −1, filtered from the output) whose arrival flushes every
    pending null-extension in the engine's no-data batch — the same
    discipline as stateful_sessionize. The emitted set then equals the
    batch LEFT JOIN exactly, which is the oracle.
    """
    import pandas as pd

    batch = _normalize_ts(spark.read.parquet(source_dir))
    max_ts = batch.agg(F.max("ts")).first()[0]
    if max_ts is None:
        return local_rows_df(
            spark, [], "user_id long, left_event long, right_event long, right_value double"
        )

    far = max_ts + pd.Timedelta(days=3650)
    sentinels = spark.createDataFrame(
        [(-1, far, -1, left_type, 0.0), (-2, far, -1, right_type, 0.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    # the memory sink holds the materialized result; the staged scratch
    # (tmpfs) is dead weight once the stream drains
    with _stream_scratch("left_join") as root:
        stage = os.path.join(root, "staged")
        batch.select("event_id", "ts", "user_id", "event_type", "value").unionByName(
            sentinels
        ).write.parquet(stage)
        raw = spark.readStream.schema(spark.read.parquet(stage).schema).parquet(stage)
        joined = _interval_join(raw, left_type, right_type, within, watermark, how)
        out = _run_to_memory(joined, "append")
    return out.where(F.col("user_id") >= 0)


def stream_stream_full_join(
    spark: SparkSession,
    source_dir: str,
    **kwargs,
) -> DataFrame:
    """FULL OUTER variant of :func:`stream_stream_left_join`: unmatched
    rows on BOTH sides are null-extended once the watermark proves no
    partner can arrive (the sentinel staging already flushes both
    sides)."""
    return stream_stream_left_join(spark, source_dir, how="fullOuter", **kwargs)


def session_window_counts(
    spark: SparkSession,
    source_dir: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Session windows via the built-in ``session_window`` streaming
    aggregation: per (user, session) event count and first event id.

    Boundary semantics: an event extends the session while
    ts < last_ts + gap (the batch sessionize query uses gap <= 1800 s —
    the two differ only for gaps of exactly ``gap``, which the
    microsecond-resolution fixture never produces).
    """
    raw = _event_stream(spark, source_dir)
    stream = (
        raw.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.min("event_id").alias("first_event"))
        .select("user_id", "n_events", "first_event")
    )
    return _run_to_memory(stream, "complete")


def stateful_sessionize(
    spark: SparkSession,
    source_dir: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` (the extension hook for operators the
    built-ins can't express — this one also tracks the session's first
    event id, which session_window aggregation can do but, e.g.,
    per-session event-sequence features cannot).

    Per user the state holds the open session (start/last micros,
    count, first event id). Each micro-batch merges its rows in
    (ts, event_id) order, emitting sessions closed by a gap >
    ``gap_seconds`` and keeping the open one in state with an
    event-time timeout at last_ts + gap; when the watermark passes
    that, the timeout path emits the final session. Matches the batch
    ``sessionize`` query's boundary exactly (new session iff gap >
    gap_seconds).

    A finite file stream never advances the watermark past the last
    event, so open sessions would sit in state forever; the input is
    staged to a temp dir with one far-future sentinel event (user -1,
    filtered from the output) whose arrival flushes every timeout.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    batch = _normalize_ts(spark.read.parquet(source_dir))
    max_ts = batch.agg(F.max("ts")).first()[0]
    if max_ts is None:
        # Empty input: no sentinel timestamp to derive, and nothing to
        # sessionize — return an empty frame with the output schema.
        return local_rows_df(
            spark,
            [],
            "user_id long, session_start timestamp, session_end timestamp, "
            "n_events long, first_event long",
        )

    sentinel = spark.createDataFrame(
        [(-1, max_ts + pd.Timedelta(days=3650), -1)], "event_id long, ts timestamp, user_id long"
    )
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, first_event long"
    )
    state_schema = "start long, last long, n long, first_ev long"
    gap_us = gap_seconds * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        user_id = key[0]

        def emit(start_us, last_us, n, first_ev):
            return pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                    "first_event": [first_ev],
                }
            )

        if state.hasTimedOut:
            start, last, n, first_ev = state.get
            state.remove()
            yield emit(start, last, n, first_ev)
            return

        pdf = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
        # normalize to µs regardless of the Arrow batch's time unit
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        ev_ids = pdf["event_id"].to_numpy()
        if state.exists:
            cur = list(state.get)
        else:
            cur = None
        for t_us, ev in zip(ts_us.tolist(), ev_ids.tolist()):
            if cur is None:
                cur = [t_us, t_us, 1, int(ev)]
            elif t_us - cur[1] > gap_us:
                yield emit(*cur)
                cur = [t_us, t_us, 1, int(ev)]
            else:
                cur[1] = t_us
                cur[2] += 1
        # state values must be plain Python ints (JSON-serialized)
        state.update(tuple(int(v) for v in cur))
        state.setTimeoutTimestamp(cur[1] // 1000 + gap_seconds * 1000)

    with _stream_scratch("sessionize") as root:
        stage = os.path.join(root, "staged")
        # One flat parquet dir (file stream sources don't recurse); the
        # sentinel lands in the same single micro-batch as the data, and
        # the watermark jump after that batch fires every session's
        # timeout in the engine's no-data batch.
        staged = batch.select("event_id", "ts", "user_id").unionByName(sentinel)
        staged.write.parquet(stage)
        raw = _event_stream(spark, stage).select("event_id", "ts", "user_id")
        stream = (
            raw.withWatermark("ts", "0 seconds")
            .groupBy("user_id")
            .applyInPandasWithState(
                fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
            )
        )
        result = _run_to_memory(stream, "append")
    return result.where(F.col("user_id") >= 0).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
        "first_event",
    )


def streaming_incremental_neardup(
    spark: SparkSession,
    new_docs: DataFrame,
    corpus_signatures: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.35,
    bands: int = 16,
    shingle_n: int = 3,
    shingle_unit: str = "word",
) -> DataFrame:
    """Streaming near-dup detection against a PERSISTED MinHash index —
    the streaming spelling of ``dedup.incremental_minhash_pairs``: new
    documents arrive as a file stream, and each micro-batch runs the
    BATCH operator unchanged via ``foreachBatch`` — signed by its
    explode+groupBy MinHash stage, banded, equi-joined against the
    static band index, pair-key deduped, and filtered to component-
    agreement >= ``threshold``. (A stateless in-row signing via
    ``dedup.row_minhash_signatures`` was the rejected alternative —
    see below for why.)

    Output: (new_id, corpus_id, est_jaccard), equal to the batch path
    on the same data by CONSTRUCTION: each micro-batch runs the exact
    batch operator via ``foreachBatch`` — the Structured Streaming
    idiom for reusing a batch pipeline stage unchanged (the same
    pattern as ``streaming_upsert``), and the fast path here, since
    the batch operator's explode+groupBy signing is whole-stage
    codegen'd while a row-wise signing via nested higher-order
    functions evaluates interpreted (~8x slower at 10x scale when this
    job was first written that way). Documents don't span micro-
    batches (file-stream batches are whole files), so per-batch
    results union to the batch answer with no cross-batch state; the
    static index is materialized once up front rather than re-signed
    per micro-batch."""
    from ..operators import dedup as dedup_ops

    k = len([c for c in corpus_signatures.columns if c.startswith("mh_")])
    if k == 0 or k % bands != 0:
        raise ValueError(
            f"corpus_signatures must carry mh_* columns with k a multiple of "
            f"bands; got k={k}, bands={bands}"
        )
    src = new_docs.select(F.col(id_col).cast("long").alias(id_col), text_col)
    corpus_signatures = corpus_signatures.localCheckpoint(eager=True)

    def flag_batch(batch_df):
        return dedup_ops.incremental_minhash_pairs(
            batch_df, corpus_signatures, text_col, id_col,
            threshold=threshold, bands=bands,
            shingle_n=shingle_n, shingle_unit=shingle_unit,
        )

    return _fold_stream(
        spark, "streaming_incremental_neardup", src, _append_fold(spark, flag_batch)
    )


def streaming_decontam(
    spark: SparkSession,
    new_docs: DataFrame,
    bench_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 3,
    unit: str = "word",
) -> DataFrame:
    """Streaming benchmark decontamination against a PERSISTED
    bench-gram index — the decontamination twin of
    :func:`streaming_incremental_neardup`, same design: new documents
    arrive as a file stream and each micro-batch runs the BATCH
    operator (``decontam.incremental_contamination_pairs``) unchanged
    via ``foreachBatch``. The benchmark corpus is grammed once at
    freeze time into ``bench_index`` (``decontam.bench_gram_index``)
    and checkpointed here, never re-built per micro-batch; documents
    don't span micro-batches (file-stream batches are whole files) and
    the per-pair overlap count is within-document, so per-batch
    results union to the batch answer with no cross-batch state
    (pytest-pinned ≡ the batch operator on the same data).

    Returns (train_id, bench_id, overlap_ngrams) for flagged pairs
    across all micro-batches.
    """
    from ..operators import decontam as decontam_ops

    if "_h" not in bench_index.columns:
        raise ValueError(
            f"bench_index must be a bench_gram_index result; got "
            f"{bench_index.columns}"
        )
    src = new_docs.select(F.col(id_col).cast("long").alias(id_col), text_col)
    bench_index = bench_index.localCheckpoint(eager=True)
    # Bloom sizing paid ONCE for the static index, not per micro-batch
    index_rows = bench_index.count()

    def flag_batch(batch_df):
        return decontam_ops.incremental_contamination_pairs(
            batch_df, bench_index, text_col, id_col, n=n, min_hits=min_hits,
            unit=unit, index_size_hint=index_rows,
        )

    return _fold_stream(spark, "streaming_decontam", src, _append_fold(spark, flag_batch))


def streaming_curation(
    spark: SparkSession,
    new_docs: DataFrame,
    corpus_fingerprints: DataFrame,
    corpus_signatures: DataFrame,
    bench_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.35,
    bands: int = 16,
    shingle_n: int = 3,
    shingle_unit: str = "word",
    min_hits: int = 3,
    gram_n: int = 3,
    gram_unit: str = "word",
) -> DataFrame:
    """The FULL curation screen in streaming form — exact-fingerprint
    dedup → near-dup vs the persisted MinHash index → decontamination
    vs the persisted bench-gram index — each micro-batch running the
    same batch operators ``incremental_curation`` composes, unchanged,
    via ``foreachBatch``. All three standing artifacts (corpus
    fingerprint set, signature index, bench-gram index) are
    checkpointed ONCE up front; micro-batches pay only their own side.
    ``(gram_n, gram_unit)`` parameterize the decontamination PROBE and
    must match how ``bench_index`` was built (``bench_gram_index``'s
    contract) — an index built at a different gram size would produce
    zero hash hits and silently pass contamination; ``(shingle_n,
    shingle_unit)`` independently parameterize the MinHash near-dup
    probe against ``corpus_signatures``.
    Packing is deliberately NOT in the stream: sequence ids are a
    corpus-level layout decision, assigned when the accumulated
    survivors are packed in batch.

    Cross-batch semantics: near-dup and decontamination screen against
    STATIC artifacts (exactly the batch pipeline's contract — the
    batch operator doesn't near-dup a batch against itself either),
    but exact-fingerprint dedup ACCUMULATES: each micro-batch's
    admitted fingerprints append to a running set the next batch
    anti-joins, so a duplicate arriving in a later micro-batch is
    dropped — first arrival wins, the streaming analogue of the batch
    path's lowest-id-wins (identical when the stream delivers in id
    order, which file-stream batches of one file trivially satisfy;
    pytest-pinned ≡ batch on the same data, duplicate-across-batches
    case covered by the two-batch test). Returns the surviving rows of
    ``new_docs``.
    """
    from ..operators import decontam as decontam_ops
    from ..operators import dedup as dedup_ops

    for need, d, cols in (
        ("corpus_fingerprints", corpus_fingerprints, {"fingerprint"}),
        ("bench_index", bench_index, {"bench_id", "_h"}),
    ):
        if not cols <= set(d.columns):
            raise ValueError(f"{need} must carry {sorted(cols)}; got {d.columns}")
    src = new_docs.select(
        F.col(id_col).cast("long").alias(id_col),
        *[c for c in new_docs.columns if c != id_col],
    )
    seen = corpus_fingerprints.select("fingerprint").distinct().localCheckpoint(
        eager=True
    )
    corpus_signatures = corpus_signatures.localCheckpoint(eager=True)
    bench_index = bench_index.localCheckpoint(eager=True)
    # Bloom sizing paid ONCE for the static index, not per micro-batch
    index_rows = bench_index.count()

    def make_fold(root):
        out_dir = os.path.join(root, "survivors")
        fp_dir = os.path.join(root, "admitted_fingerprints")

        def curate_batch(batch_df, _epoch_id):
            fresh = dedup_ops.content_fingerprint(batch_df, [text_col])
            keep = fresh.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
            blocked = seen
            if os.path.isdir(fp_dir):  # earlier micro-batches' admissions
                blocked = blocked.unionByName(spark.read.parquet(fp_dir))
            # checkpoint the exact-stage output once: it feeds the
            # fingerprint append AND the three later consumers
            admitted = (
                fresh.join(keep, ["fingerprint", id_col], "left_semi")
                .join(blocked, "fingerprint", "left_anti")
                .localCheckpoint(eager=True)
            )
            # record at the EXACT stage, not post-screen: a doc dropped by
            # a later stage must still block future identical arrivals
            # (matching the batch path, where within-batch dedup runs
            # before any screening)
            admitted.select("fingerprint").write.mode("append").parquet(fp_dir)
            survivors = admitted.drop("fingerprint")
            near = (
                dedup_ops.incremental_minhash_pairs(
                    survivors, corpus_signatures, text_col, id_col,
                    threshold=threshold, bands=bands,
                    shingle_n=shingle_n, shingle_unit=shingle_unit,
                )
                .select(F.col("new_id").alias(id_col))
                .distinct()
            )
            survivors = survivors.join(near, id_col, "left_anti")
            survivors = decontam_ops.decontaminate_incremental(
                survivors, bench_index, text_col, id_col,
                n=gram_n, unit=gram_unit, min_hits=min_hits,
                index_size_hint=index_rows,
            )
            survivors.write.mode("append").parquet(out_dir)

        return curate_batch, lambda: spark.read.parquet(out_dir)

    # one file per trigger: the staged parquet's partition files become
    # real successive micro-batches, so the cross-batch fingerprint
    # accumulation is genuinely exercised, not a single-batch
    # degenerate case
    return _fold_stream(
        spark, "streaming_curation", src, make_fold, file_per_batch=True
    )


def streaming_dedup_events(
    spark: SparkSession,
    source_dir: str,
    key: str = "event_id",
    replays: int = 2,
) -> DataFrame:
    """Exactly-once semantics over an at-least-once stream: the events
    file is staged ``replays`` times (simulating redelivery), streamed,
    and deduplicated on ``key`` with streaming dropDuplicates — state
    keyed by event id, the idiom a replayed ingest pipeline runs.

    Returns (event_id, user_id, event_type) — one row per original
    event regardless of delivery count.
    """
    batch = spark.read.parquet(source_dir).select(key, "user_id", "event_type")
    with _stream_scratch("dedup") as root:
        stage = os.path.join(root, "staged")
        for _ in range(replays):
            batch.write.parquet(stage, mode="append")
        raw = spark.readStream.schema(batch.schema).parquet(stage)
        return _run_to_memory(raw.dropDuplicates([key]), "append")


def streaming_url_frontier(
    spark: SparkSession,
    discovered: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    id_col: str = "id",
    per_host_cap: int = 10,
) -> DataFrame:
    """The crawl frontier in STREAMING form: discovered URLs arrive as
    a file stream (one staged file per trigger = one discovery batch),
    and each micro-batch runs the BATCH operator
    (``urls.frontier_next_batch``) unchanged via ``foreachBatch``
    against the persisted seen set — with the two scheduling decisions
    a real crawler needs:

    1. canonical forms EMITTED by earlier micro-batches count as seen
       (they are queued for fetch), so a page re-discovered later is
       never scheduled twice — the same accumulation discipline as
       ``streaming_curation``'s admitted fingerprints;
    2. fresh candidates OVER a host's per-round cap are NOT dropped —
       they re-queue into a pending set that joins the next round's
       candidates (politeness means a host serves at most
       ``per_host_cap`` fetches per round, not that its backlog is
       discarded). Pending rows carry the canonical form, which is
       safe because canonicalization is idempotent (pytest-pinned).

    The initial seen set is checkpointed once. Candidates still
    pending when the stream drains are simply the remaining backlog —
    a real frontier would schedule them next round; the single-pass
    form returns only what was scheduled.

    Returns all scheduled fetches: (id_col, canon, host, rk, batch).
    """
    from ..operators import urls as url_ops

    if "canon" not in seen.columns:
        raise ValueError(f"seen must carry a 'canon' column; got {seen.columns}")
    src = discovered.select(
        F.col(id_col).cast("long").alias(id_col), F.col(url_col).alias(url_col)
    )
    seen0 = seen.select("canon").distinct().localCheckpoint(eager=True)

    def make_fold(root):
        out_dir = os.path.join(root, "scheduled")
        emitted_dir = os.path.join(root, "emitted_canon")
        pending_dir = os.path.join(root, "pending")

        def schedule_batch(batch_df, epoch_id):
            cand = batch_df
            if os.path.isdir(pending_dir):
                cand = cand.unionByName(spark.read.parquet(pending_dir))
            blocked = seen0
            if os.path.isdir(emitted_dir):
                blocked = blocked.unionByName(spark.read.parquet(emitted_dir))
            fresh = url_ops.frontier_next_batch(
                cand, blocked, url_col, id_col,
                per_host_cap=per_host_cap, keep_overflow=True,
            ).localCheckpoint(eager=True)  # eager: pending is overwritten below
            sched = fresh.where(F.col("rk") <= per_host_cap)
            sched.select("canon").write.mode("append").parquet(emitted_dir)
            sched.withColumn("batch", F.lit(int(epoch_id)).cast("long")).write.mode(
                "append"
            ).parquet(out_dir)
            # over-cap backlog re-queues: canon doubles as the next round's
            # url (canonicalization is idempotent)
            fresh.where(F.col("rk") > per_host_cap).select(
                F.col(id_col), F.col("canon").alias(url_col)
            ).write.mode("overwrite").parquet(pending_dir)

        return schedule_batch, lambda: spark.read.parquet(out_dir)

    return _fold_stream(
        spark, "streaming_url_frontier", src, make_fold, file_per_batch=True
    )


def streaming_cms(
    spark: SparkSession,
    values: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Streaming count-min sketch: fold each micro-batch's sketch into
    the accumulated counter table via ``foreachBatch`` — the sketch's
    defining property (sketch-of-union = elementwise counter sum,
    ``profiling.merge_cms``) makes the stream fold EXACT: after any
    number of micro-batches the accumulated table is bit-identical to
    one batch ``cms_build`` over everything seen (pytest-pinned).
    This is the constant-state streaming frequency summary: state is
    ≤ depth·width counters forever, where the exact streaming
    alternatives grow with the key space.

    Returns the accumulated ``(row, bucket, c)`` sketch.
    """
    from ..operators import profiling as prof

    src = values.select(F.col(col).cast("string").alias(col))

    def build(batch_df):
        return prof.cms_build(batch_df, col, depth=depth, width=width)

    def merge(prev, batch_df):
        return prof.merge_cms(prev, build(batch_df))

    return _fold_stream(spark, "streaming_cms", src, _merge_fold(spark, build, merge))


def streaming_anchor_index(
    spark: SparkSession,
    pages: DataFrame,
    html_col: str,
    id_col: str,
) -> DataFrame:
    """Streaming anchor-text index maintenance — the streaming twin of
    the batch fold (``urls.merge_anchor_index``), same design as
    :func:`streaming_cms`: crawled pages arrive as a file stream, each
    micro-batch extracts its outlinks + visible anchor text
    (``html_extract.extract_links_with_text``), aggregates them
    (``urls.anchor_text_index``) and folds the batch aggregate into
    the accumulated standing index via ``foreachBatch``. A page's
    links live in exactly one micro-batch (a crawl emits a page once),
    so per-(canon, token) ``tf`` AND ``n_docs`` are disjoint-partition
    sums and the accumulated index is EXACTLY the batch rebuild over
    everything seen (pytest-pinned; the registered query hash-matches
    the full-rebuild SQL oracle). State is index-sized — (canon,
    token) counters — never the crawl.

    Returns the accumulated ``(canon, token, tf, n_docs)`` index.
    """
    from ..operators.html_extract import extract_links_with_text
    from ..operators.urls import anchor_text_index, merge_anchor_index

    src = pages.select(F.col(id_col), F.col(html_col))

    def build(batch_df):
        return anchor_text_index(
            extract_links_with_text(batch_df, html_col, id_col), id_col
        )

    def merge(prev, batch_df):
        return merge_anchor_index(prev, build(batch_df))

    fold = _merge_fold(spark, build, merge)
    return _fold_stream(spark, "streaming_anchor_index", src, fold)


def streaming_bottomk(
    spark: SparkSession,
    values: DataFrame,
    key_col: str,
    k: int,
) -> DataFrame:
    """Streaming bottom-k (KMV) uniform sample: fold each
    micro-batch's bottom-k into the standing sample via
    ``foreachBatch`` — the KMV merge property
    (``bottomk(A ∪ B) = bottomk(bottomk(A) ∪ bottomk(B))``,
    ``sampling.merge_bottomk``) makes the stream fold EXACT: after any
    number of micro-batches the standing sample is the batch
    ``bottomk_sample`` over everything seen (pytest-pinned; the
    registered query hash-matches the batch oracle). This is the
    bounded-state streaming uniform sample — k rows forever — where a
    naive reservoir needs per-row RNG state that no SQL engine can
    restate; the same k rows also carry the KMV distinct-count
    estimator."""
    from ..operators import sampling as samp

    def build(batch_df):
        return samp.bottomk_sample(batch_df, key_col, k)

    def merge(prev, batch_df):
        return samp.merge_bottomk(prev, build(batch_df), key_col, k)

    return _fold_stream(spark, "streaming_bottomk", values, _merge_fold(spark, build, merge))


def streaming_linkage_probe(
    spark: SparkSession,
    new_records: DataFrame,
    corpus: DataFrame,
    variant_index: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Streaming record-linkage candidates against a PERSISTED FastSS
    variant index — the linkage twin of :func:`streaming_decontam`,
    same design: new records arrive as a file stream and each
    micro-batch runs the BATCH probe unchanged via ``foreachBatch``
    (``dedup.probe_variant_index`` → ``verify_edit_distance``). The
    standing corpus is variant-expanded once at freeze time into
    ``variant_index`` and checkpointed here, never re-expanded per
    micro-batch; the verify joins names from the static corpus plus
    the micro-batch itself (id-disjoint by contract), and batch↔batch
    pairs are deliberately NOT emitted (same contract as the batch
    probe — run the cheap self-join path over the accumulated batch
    set for those). Per-pair verification is independent, so per-batch
    results union to the all-at-once probe answer with no cross-batch
    state (pytest-pinned).

    Returns ``(id_a, id_b, dist)`` — id_a the new record, id_b the
    corpus record — across all micro-batches. Scoring (e.g.
    Fellegi-Sunter) composes downstream; it is a pure projection.
    """
    from ..operators import dedup as dedup_ops

    needed = {"id", "pos", "vh"}
    if not needed <= set(variant_index.columns):
        raise ValueError(
            f"variant_index must be a fastss_variant_index result; got "
            f"{variant_index.columns}"
        )
    src = new_records.select(
        F.col(id_col).cast("long").alias(id_col), text_col
    )
    variant_index = variant_index.localCheckpoint(eager=True)
    corpus_names = corpus.select(
        F.col(id_col).cast("long").alias(id_col), text_col
    ).localCheckpoint(eager=True)

    def probe_batch(batch_df):
        cand = dedup_ops.probe_variant_index(
            batch_df, variant_index, text_col, id_col
        )
        names = corpus_names.unionByName(batch_df.select(id_col, text_col))
        return dedup_ops.verify_edit_distance(
            cand, names, text_col, id_col, max_dist=max_dist
        )

    return _fold_stream(
        spark, "streaming_linkage_probe", src, _append_fold(spark, probe_batch)
    )


def streaming_ewma(
    spark: SparkSession,
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.3,
    n_slices: int = 4,
) -> DataFrame:
    """Streaming RECURSIVE EWMA — the infinite-history fold
    ``e_t = α·x_t + (1−α)·e_{t−1}`` (e_0 = x_0) carried across
    micro-batches: the true sequential control-chart statistic whose
    batch counterpart (timeseries.ewma_outliers) deliberately
    truncates the window to stay a closed-form SQL expression. In a
    stream the recursion is natural — per key the state is ONE number
    (the running EWMA), folded forward each micro-batch.

    Mechanics: the input stages as time-range slices written in
    order + maxFilesPerTrigger=1, so micro-batches arrive in event-
    time order (the file-source guarantee a real queue provides via
    per-key ordering); ``foreachBatch`` left-joins the standing
    per-key state onto the batch, an ``applyInPandas`` per key folds
    the batch's rows in (ts, id) order seeded from the state, the
    rows append to the output, and the new state (each key's last
    EWMA) overwrites the state table — per-key-scalar state forever,
    the same fenced fold discipline as streaming_cms. The result is
    EXACTLY the single-pass recursion over the whole ordered input
    regardless of slice boundaries (pytest-pinned against a pandas
    reference), because EWMA folding is associative over ordered
    segments given the carried seed.

    Returns every row with its EWMA: ``(key, ts, id, value, ewma)``,
    ewma rounded to 9."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"streaming_ewma: alpha must be in (0,1), got {alpha}")
    import pandas as pd

    src = events.select(
        F.col(key_col).alias("k"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).cast("long").alias("eid"),
        F.col(value_col).cast("double").alias("x"),
    ).where(F.col("x").isNotNull() & F.col("ts").isNotNull())

    state_schema = "k string, ewma double"
    out_schema = "k string, ts timestamp, eid long, x double, ewma double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "eid"])
        seed = pdf["_seed"].iloc[0]
        e = None if pd.isna(seed) else float(seed)
        out = []
        for x in pdf["x"].tolist():
            e = float(x) if e is None else alpha * float(x) + (1.0 - alpha) * e
            out.append(e)
        pdf = pdf.drop(columns=["_seed"]).copy()
        pdf["ewma"] = out
        return pdf

    def make_fold(root):
        out_dir = os.path.join(root, "out")
        sd = _VersionedState(root)

        def fold_batch(batch_df, _epoch_id):
            state = sd.read(spark, state_schema)
            seeded = batch_df.join(
                state.withColumnRenamed("ewma", "_seed"), "k", "left"
            )
            # folded is consumed twice (output append + last-EWMA state).
            # The fold runs ONCE inside the append-write job; the state
            # job then derives from the parquet bytes that write just
            # produced (the batch's new files, isolated by a directory
            # diff) — no eager checkpoint job, no second applyInPandas
            # execution. (A persist() variant measured 6.2s -> 10.9s in
            # the r14 profiler — building the columnar InMemoryRelation
            # per batch costs more than the job it saves; reading back
            # the just-written files costs only a footer read.)
            folded = seeded.groupBy("k").applyInPandas(fn, out_schema)
            before = (
                set(os.listdir(out_dir)) if os.path.isdir(out_dir) else set()
            )
            folded.write.mode("append").parquet(out_dir)
            new_files = [
                os.path.join(out_dir, f)
                for f in sorted(set(os.listdir(out_dir)) - before)
                if f.endswith(".parquet")
            ]
            batch_out = (
                spark.read.schema(out_schema).parquet(*new_files)
                if new_files
                else local_rows_df(spark, [], out_schema)
            )
            last = batch_out.groupBy("k").agg(
                F.max_by("ewma", F.struct("ts", "eid")).alias("ewma")
            )
            new_state = state.join(last.select("k"), "k", "left_anti").unionByName(
                last
            )
            sd.write(new_state)

        def readout():
            return spark.read.parquet(out_dir).select(
                F.col("k").alias(key_col),
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias(ts_col),
                F.col("eid").alias(id_col),
                F.col("x").alias(value_col),
                F.round("ewma", 9).alias("ewma"),
            )

        return fold_batch, readout

    # slice by ntile-free ts range cutpoints: exact percentiles of the
    # epoch seconds give n_slices non-overlapping, ordered segments. The
    # seconds are NTZ-safe: NTZ has no direct BIGINT cast, and the
    # TIMESTAMP hop only shifts by a constant tz offset, which cannot
    # reorder anything
    tsl = "CAST(CAST(ts AS TIMESTAMP) AS BIGINT)"
    return _fold_stream(
        spark, "streaming_ewma", src, make_fold, slice_on=tsl, n_slices=n_slices
    )


def streaming_quantile_digest(
    spark: SparkSession,
    values: DataFrame,
    value_col: str,
    k: int = 32,
    group_cols: list[str] | None = None,
    n_slices: int = 4,
) -> DataFrame:
    """Streaming quantile summary: build a k-point equi-depth digest
    per micro-batch and FOLD it into the standing digest via
    ``foreachBatch`` + ``rollup.digest_merge`` — the quantile sibling
    of :func:`streaming_bottomk` (bottom-k folds exactly by the KMV
    merge property; digests fold within the pytest-pinned ≤2/k rank
    bound, the price a bounded-state quantile pays — an exact
    streaming quantile needs every value forever). State is the
    (k+1)-row digest per group regardless of stream length — the
    bounded-state monitor a 100 TB ingest keeps per partition/day.

    Staging mirrors streaming_ewma: the input splits into
    ``n_slices`` ordered file slices (mod-time pinned) so the file
    source replays a multi-micro-batch history deterministically.
    Returns the standing digest in :func:`rollup.quantile_digest`'s
    schema after the stream drains."""
    from ..operators.rollup import digest_merge, quantile_digest

    keys = group_cols or []
    src = values.select(
        *keys, F.col(value_col).cast("double").alias("_v")
    ).where(F.col("_v").isNotNull())

    def build(batch_df):
        return quantile_digest(batch_df, "_v", k=k, group_cols=keys or None)

    def merge(prev, batch_df):
        return digest_merge(prev, build(batch_df), group_cols=keys or None, k=k)

    fold = _merge_fold(spark, build, merge)
    return _fold_stream(
        spark, "streaming_quantile_digest", src, fold,
        slice_on="_v", n_slices=n_slices, hash_slices=True,
    )


def streaming_skyline(
    spark: SparkSession,
    rows: DataFrame,
    minimize: list[str] | None = None,
    maximize: list[str] | None = None,
) -> DataFrame:
    """Streaming skyline (Pareto-optimal set) maintenance: fold each
    micro-batch's local skyline into the standing skyline via
    ``foreachBatch`` — the same merge identity the batch operator's
    partition phase uses (``skyline(A ∪ B) = skyline(skyline(A) ∪
    skyline(B))``, dominance being transitive) makes the stream fold
    EXACT for inserts: after any number of micro-batches the standing
    set is the batch ``sampling.skyline`` over everything seen
    (pytest-pinned; the registered query hash-matches the same
    NOT-EXISTS oracle). State is the skyline itself — bounded by the
    answer's size, not the stream's. Insert-only by construction
    (deletions would need dominated candidates retained; out of
    contract, like every fold in this module)."""
    from ..operators.sampling import skyline

    def build(batch_df):
        return skyline(batch_df, minimize=minimize, maximize=maximize)

    def merge(prev, batch_df):
        return skyline(
            prev.unionByName(build(batch_df)), minimize=minimize, maximize=maximize
        )

    return _fold_stream(spark, "streaming_skyline", rows, _merge_fold(spark, build, merge))


def streaming_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Streaming connected-components maintenance: edges arrive in
    micro-batches and each batch folds into a standing ``(node,
    component)`` labeling via ``foreachBatch`` — exact by the
    contraction identity ``CC(E₁ ∪ E₂) = CC(star(E₁) ∪ E₂)``: a
    component's star edges (every node → its label) are connectivity-
    equivalent to the original edges, so re-running the batch operator
    (``graph.connected_components``, the Kiveris et al. star
    contraction) on standing-star-edges ∪ new-batch-edges yields the
    labeling of everything seen (pytest-pinned; the registered query
    hash-matches the batch recursive-CTE oracle). State is one row per
    node — the answer itself — and each fold's input is |V| + |batch|
    edges, never the full history."""
    from ..operators.graph import connected_components

    src = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )

    def build(batch_df):
        return connected_components(batch_df.select("src", "dst"))

    def merge(prev, batch_df):
        star = prev.where(F.col("node") != F.col("component")).select(
            F.col("component").alias("src"), F.col("node").alias("dst")
        )
        return connected_components(star.unionByName(batch_df.select("src", "dst")))

    fold = _merge_fold(spark, build, merge)
    return _fold_stream(spark, "streaming_connected_components", src, fold)


def streaming_twap(
    spark: SparkSession,
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    unit_scale: int = 100,
    n_slices: int = 4,
) -> DataFrame:
    """Streaming time-weighted average — the incremental twin of
    ``timeseries.time_weighted_avg`` (same TWAP convention: each
    observation holds until the next, weighted by exact holding
    MICROSECONDS; the per-key tail observation is pending until a
    successor arrives). Per key the carried state is FOUR scalars —
    last timestamp, last value, the exact Σ v·Δt accumulator and the
    Σ Δt span — folded forward each micro-batch in event-time order
    (the staged-slice + maxFilesPerTrigger=1 ordering discipline of
    ``streaming_ewma``), so the final fold is EXACTLY the batch
    operator's answer regardless of slice boundaries: this query
    hash-matches the SAME DuckDB oracle as the batch form.

    Exactness AND speed: the TWAP fold is ASSOCIATIVE over ordered
    segments, so each batch reduces JVM-side to per-key partials
    (first/last observation, within-batch Σ v·Δt in DECIMAL(38,0),
    span) via one key-partitioned lead window + one groupBy, and the
    state merge is a single full-outer join with pure decimal
    expressions — no Python touches the running sums (the first cut
    folded row-at-a-time in ``applyInPandas`` and spent 46s at sf0.1
    on per-key pandas dispatch; this shape is ~5×). Output one row
    per key: ``(key, n_events (long), span_seconds (long), twap
    (double))`` — the batch operator's exact schema."""
    src = events.select(
        F.col(key_col).cast("string").alias("k"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t"),
        F.round(F.col(value_col).cast("double") * F.lit(unit_scale))
        .cast("long")
        .alias("v"),
    ).where(
        F.col("k").isNotNull() & F.col("t").isNotNull() & F.col("v").isNotNull()
    )
    state_schema = (
        "k string, n long, last_t long, last_v long, "
        "acc_vt decimal(38,0), acc_dt long"
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731

    def make_fold(root):
        sd = _VersionedState(root)

        def fold_batch(batch_df, _epoch_id):
            state = sd.read(spark, state_schema)
            # per-key batch partials, all JVM-side: one lead window + one
            # groupBy (the batch operator's own shape, scoped to the batch)
            # tie-breaker MUST be (t, v) — the batch operator and the shared
            # _TWAP_SQL oracle both order the lead window by (t, v); on
            # same-microsecond events the LAST in that order carries the
            # bridging duration, so any other tie order silently diverges
            w = Window.partitionBy("k").orderBy(F.col("t").asc(), F.col("v").asc())
            order = F.struct(F.col("t"), F.col("v"))
            stepped = batch_df.withColumn("_nt", F.lead("t").over(w))
            part = stepped.groupBy("k").agg(
                F.count(F.lit(1)).cast("long").alias("_bn"),
                F.min_by(F.col("t"), order).alias("_bft"),
                F.max_by(F.col("t"), order).alias("_blt"),
                F.max_by(F.col("v"), order).alias("_blv"),
                F.coalesce(
                    F.sum(dec("v") * (F.col("_nt") - F.col("t")).cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias("_bvt"),
                F.coalesce(F.sum(F.col("_nt") - F.col("t")), F.lit(0))
                .cast("long")
                .alias("_bdt"),
            )
            # merge: the carried last observation bridges to the batch's
            # first (state precedes the batch — event-time-ordered slices)
            joined = state.join(part, "k", "full")
            bridge = F.when(
                F.col("last_t").isNotNull() & F.col("_bft").isNotNull(),
                F.col("_bft") - F.col("last_t"),
            ).otherwise(F.lit(0)).cast("long")
            new_state = joined.select(
                "k",
                (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("_bn"), F.lit(0)))
                .cast("long")
                .alias("n"),
                F.coalesce(F.col("_blt"), F.col("last_t")).alias("last_t"),
                F.coalesce(F.col("_blv"), F.col("last_v")).alias("last_v"),
                (
                    F.coalesce(dec("acc_vt"), F.lit(0).cast("decimal(38,0)"))
                    + F.coalesce(dec("_bvt"), F.lit(0).cast("decimal(38,0)"))
                    + F.coalesce(dec("last_v"), F.lit(0).cast("decimal(38,0)"))
                    * bridge.cast("decimal(38,0)")
                )
                .cast("decimal(38,0)")
                .alias("acc_vt"),
                (
                    F.coalesce(F.col("acc_dt"), F.lit(0))
                    + F.coalesce(F.col("_bdt"), F.lit(0))
                    + bridge
                )
                .cast("long")
                .alias("acc_dt"),
            )
            sd.write(new_state)

        def readout():
            return sd.read(spark, state_schema).select(
                F.col("k").alias("key"),
                F.col("n").alias("n_events"),
                F.floor(F.col("acc_dt") / F.lit(1_000_000))
                .cast("long")
                .alias("span_seconds"),
                F.when(
                    F.col("acc_dt") > 0,
                    F.round(
                        F.col("acc_vt").cast("decimal(38,0)").cast("double")
                        / (
                            F.col("acc_dt").cast("double")
                            * F.lit(float(unit_scale))
                        ),
                        9,
                    ),
                ).alias("twap"),
            )

        return fold_batch, readout

    return _fold_stream(
        spark, "streaming_twap", src, make_fold, slice_on="t", n_slices=n_slices
    )


def streaming_ols_trend(
    spark: SparkSession,
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    unit_scale: int = 100,
    n_slices: int = 4,
) -> DataFrame:
    """Streaming OLS daily trend — the incremental twin of
    ``timeseries.ols_trend``: the carried state is the DAY-GRAIN total
    table (one ``(day, Σ quantized value)`` row per present day —
    CALENDAR-bounded, the period_over_period contract: decades of
    state fit in kilobytes), folded forward each micro-batch with one
    day-grain aggregation and one full-outer decimal merge, and the
    regression readout (slope/SE/t/R²) runs once on the final state.

    Why the state is the day table and not the five moment sums: a
    calendar day may SPAN two micro-batches, and Σy² over day totals
    is not additive across partial days ((y₁+y₂)² ≠ y₁²+y₂²) — the
    moment-sum fold would silently depend on slice boundaries. The
    day-grain merge is exactly associative (daily totals add), so
    this query hash-matches the SAME DuckDB oracle as the batch form
    for ANY slicing — the streaming_twap contract. Output: the batch
    operator's exact one-row schema ``(n_days, slope, intercept,
    se_slope, t_stat, r2)``."""

    def readout(daily: DataFrame) -> DataFrame:
        daily = daily.withColumnRenamed("_x", "_y")
        # the batch operator's exact finishing readout over the state
        first = daily.agg(F.min("day").alias("_d0"))
        dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        staged_m = daily.crossJoin(F.broadcast(first)).select(
            F.datediff(F.col("day"), F.col("_d0")).cast("long").alias("_x"),
            "_y",
        )
        m = staged_m.agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.coalesce(F.sum(dec(F.col("_x"))), F.lit(0).cast("decimal(38,0)")).alias("_sx"),
            F.coalesce(F.sum(dec(F.col("_y"))), F.lit(0).cast("decimal(38,0)")).alias("_sy"),
            F.coalesce(F.sum((dec(F.col("_x")) * dec(F.col("_y"))).cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")).alias("_sxy"),
            F.coalesce(F.sum((dec(F.col("_x")) * dec(F.col("_x"))).cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")).alias("_sxx"),
            F.coalesce(F.sum((dec(F.col("_y")) * dec(F.col("_y"))).cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")).alias("_syy"),
        )
        n = F.col("n_days").cast("double")
        sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
        sxy, sxx, syy = (
            F.col("_sxy").cast("double"),
            F.col("_sxx").cast("double"),
            F.col("_syy").cast("double"),
        )
        s = F.lit(float(unit_scale))
        cxx = sxx - sx * sx / n
        cyy = syy - sy * sy / n
        cxy = sxy - sx * sy / n
        b = cxy / cxx
        sse = cyy - b * cxy
        se_b = F.sqrt(sse / (n - F.lit(2.0)) / cxx)
        ok = (F.col("n_days") >= 3) & (cxx > 0)
        return m.select(
            "n_days",
            F.when(ok, F.round(b / s, 9)).alias("slope"),
            F.when(ok, F.round((sy / n - b * sx / n) / s, 9)).alias("intercept"),
            F.when(ok & (sse > 0), F.round(se_b / s, 9)).alias("se_slope"),
            F.when(ok & (sse > 0), F.round(b / se_b, 9)).alias("t_stat"),
            F.when(ok & (cyy > 0), F.round(b * cxy / cyy, 9)).alias("r2"),
        )

    return _day_totals_fold(
        spark, "streaming_ols_trend", events, ts_col, value_col, unit_scale, n_slices, readout
    )


def streaming_max_drawdown(
    spark: SparkSession,
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    unit_scale: int = 100,
    n_slices: int = 4,
) -> DataFrame:
    """Streaming maximum drawdown — the incremental twin of
    ``timeseries.max_drawdown`` with the same state discipline as
    ``streaming_ols_trend``: the carried state is the DAY-GRAIN total
    table (calendar-bounded; demeaning needs the FINAL global mean, so
    no scalar fold can be exact mid-stream — the day merge is the
    associative unit), and the batch finishing readout (n-scaled
    deviations, exact running sum/max windows, first trough day) runs
    once on the final state. Hash-matches the SAME DuckDB oracle as
    the batch form for ANY slicing. Output: the batch operator's
    one-row schema ``(n_days, max_drawdown, trough_day)``."""

    def readout(daily: DataFrame) -> DataFrame:
        # batch finishing readout over the state (timeseries.max_drawdown
        # from the day table onward — restated on the quantized totals)
        dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
        tot = daily.agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.coalesce(F.sum(dec("_x")), F.lit(0).cast("decimal(38,0)")).alias("_t"),
        )
        staged_d = daily.crossJoin(F.broadcast(tot))
        w = Window.orderBy(F.col("day").asc()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        dev = (dec("_n") * dec("_x") - F.col("_t")).cast("decimal(38,0)")
        cum = staged_d.select(
            "day", "_n", F.sum(dev).over(w).cast("decimal(38,0)").alias("_c")
        ).select(
            "day", "_n", "_c",
            F.max("_c").over(w).cast("decimal(38,0)").alias("_p"),
        )
        dd = cum.select(
            "day", "_n",
            (F.col("_p") - F.col("_c")).cast("decimal(38,0)").alias("_dd"),
        )
        top = dd.agg(F.max("_dd").alias("_mx"))
        out = dd.crossJoin(F.broadcast(top)).where(F.col("_dd") == F.col("_mx"))
        return out.groupBy().agg(
            F.max("_n").cast("long").alias("n_days"),
            (
                F.max("_mx").cast("double")
                / (F.max("_n").cast("double") * F.lit(float(unit_scale)))
            ).alias("max_drawdown"),
            F.when(F.max("_mx") > 0, F.min("day")).alias("trough_day"),
        )

    return _day_totals_fold(
        spark, "streaming_max_drawdown", events, ts_col, value_col, unit_scale, n_slices, readout
    )


def streaming_mase(
    spark: SparkSession,
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    season: int = 7,
    unit_scale: int = 100,
    n_slices: int = 4,
) -> DataFrame:
    """Streaming MASE — the incremental twin of
    ``timeseries.mase_seasonal_naive`` with the streaming_ols/
    streaming_max_drawdown state discipline: the carried state is the
    DAY-GRAIN total table (calendar-bounded — a |Δ| against a
    neighbor day is NOT additive when either day spans two batches,
    so the day merge is the associative unit), and the batch
    finishing readout (quantize, date-shift equi-joins, two exact
    |Δ| folds, one IEEE ratio) runs once on the final state.
    Hash-matches the SAME DuckDB oracle as the batch form for ANY
    slicing. Output: the batch operator's one-row schema
    ``(n_seasonal_pairs, n_naive_pairs, mae_seasonal, mae_naive,
    mase)``."""
    if season < 2:
        raise ValueError(f"streaming_mase: season must be >= 2, got {season}")

    def readout(daily: DataFrame) -> DataFrame:
        # batch finishing readout: mase_seasonal_naive from the day
        # table onward, restated on the quantized totals
        dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731

        def _mae(shift: int, tag: str) -> DataFrame:
            prev = daily.select(
                F.date_add("day", shift).alias("day"), F.col("_x").alias("_p")
            )
            return (
                daily.join(prev, "day")
                .select(F.abs(dec(F.col("_x")) - dec(F.col("_p"))).alias("_a"))
                .agg(
                    F.count(F.lit(1)).cast("long").alias(f"n_{tag}_pairs"),
                    F.coalesce(F.sum("_a"), F.lit(0).cast("decimal(38,0)")).alias(
                        f"_s_{tag}"
                    ),
                )
            )

        tot = _mae(season, "seasonal").crossJoin(F.broadcast(_mae(1, "naive")))
        s = F.lit(float(unit_scale))
        mae_s = (
            F.col("_s_seasonal").cast("double")
            / F.col("n_seasonal_pairs").cast("double")
        )
        mae_n = (
            F.col("_s_naive").cast("double")
            / F.col("n_naive_pairs").cast("double")
        )
        ok = (
            (F.col("n_seasonal_pairs") > 0)
            & (F.col("n_naive_pairs") > 0)
            & (F.col("_s_naive") > 0)
        )
        return tot.select(
            "n_seasonal_pairs",
            "n_naive_pairs",
            F.when(F.col("n_seasonal_pairs") > 0, F.round(mae_s / s, 9)).alias(
                "mae_seasonal"
            ),
            F.when(F.col("n_naive_pairs") > 0, F.round(mae_n / s, 9)).alias(
                "mae_naive"
            ),
            F.when(ok, F.round(mae_s / mae_n, 9)).alias("mase"),
        )

    return _day_totals_fold(
        spark, "streaming_mase", events, ts_col, value_col, unit_scale, n_slices, readout
    )

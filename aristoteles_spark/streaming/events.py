"""Streaming over the events table: incremental file-source ingest,
event-time windowed rollups, and custom stateful per-key aggregation.

Scale notes:
- ``Trigger.AvailableNow`` is the idiomatic Spark form of the
  reference's catch-up loop (process everything pending, then stop;
  checkpoint = watermark file). File listing is incremental via the
  checkpoint's file index, so a 100 TB directory is not re-listed.
- the windowed rollup is a streaming state-store aggregation: partial
  aggregation happens map-side per microbatch, state is partitioned by
  (window, group) — the same shuffle shape as the batch groupBy.
- ``applyInPandasWithState`` keys state by user_id: state shuffles once
  per microbatch on the group key, Arrow-batched into Python. The
  kernel holds O(1) state per key (count + sum), not the event list.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)


def _ckpt_tmpdir(prefix: str) -> tempfile.TemporaryDirectory:
    """Checkpoint scratch dir, on tmpfs when available.

    These AvailableNow runs are run-to-completion jobs whose checkpoint
    is discarded afterward, so durability buys nothing — but state-store
    commits are checkpoint fsync-bound, and /tmp here is disk-backed
    (measured: the same streaming query 4x faster with the checkpoint on
    /dev/shm). A RESUMABLE production stream must keep its checkpoint on
    durable shared storage instead; only this throwaway path uses shm."""
    base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None
    return tempfile.TemporaryDirectory(prefix=prefix, dir=base)


def scratch_dir(prefix: str) -> str:
    """A fresh private scratch directory on tmpfs when available
    (caller removes it). mkdtemp-unique so concurrent runs — pytest
    alongside a bench sweep — never share stream input/sink paths."""
    base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir()
    return tempfile.mkdtemp(prefix=f"aristoteles_spark_{prefix}", dir=base)


# Stream-input staging cache: the split/flush sources below stage a
# deterministic, mtime-pinned copy of a source table into a scratch
# directory. The staged bytes are a pure function of (table file,
# split parameters) — and a bench pass re-runs each streaming query
# three times (warmup + 2 timed), rebuilding identical inputs each
# time. Cache the directory per process, keyed by the parameters; the
# directory is never mutated after creation (each run gets a FRESH
# checkpoint, so the file source re-lists the same pinned files and
# the microbatch split replays identically). mkdtemp-private dirs
# also remove the last fixed-shared-path hazard: two concurrent
# processes (pytest + bench) each stage their own copy.
_STAGED_INPUTS: dict[tuple, str] = {}


def _staged_input_dir(key: tuple, prefix: str, build) -> str:
    d = _STAGED_INPUTS.get(key)
    if d is not None and os.path.isdir(d):
        return d
    import atexit
    import shutil

    d = scratch_dir(prefix)
    build(d)
    _STAGED_INPUTS[key] = d
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d

# physical schema: ts is parquet timestamp[us] without a timezone ->
# TIMESTAMP_NTZ (event-time windows/watermarks support NTZ since Spark 3.4)
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# sum held as integer micro-units, not a double: state updates then
# commute exactly, so the emitted total is independent of microbatch
# and row order (a float accumulator differed from the oracle in the
# last bit — round-2 strict gate).
STATE_SCHEMA = StructType(
    [StructField("n_events", LongType()), StructField("sum_micro", LongType())]
)
USER_AGG_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as an incremental file-source stream.

    The stored NTZ wall clock (UTC by convention) is converted to a zoned
    TIMESTAMP instant because event-time watermarks require the zoned
    type; outputs convert window bounds back via ``instant_as_utc_ntz``.
    """
    from aristoteles_spark.functions.time import ntz_as_utc_instant

    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .option("recursiveFileLookup", "false")
        .load(sf_dir)
    )
    return raw.withColumn("ts", ntz_as_utc_instant("ts"))


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Event-time tumbling 1-hour window: count + decimal-exact sum(value)
    per (window, event_type). Late data beyond the watermark is dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # decimal sum -> order-independent, exact: hash-matches any oracle
            F.sum(F.col("value").cast("decimal(30,10)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value")
    )


def user_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum) kept in the
    state store via applyInPandasWithState; emits the updated totals for
    every user seen in the microbatch."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, micro = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            vals = pdf["value"].dropna()
            # micro-unit integers: exact, order-independent accumulation
            micro += int(vals.mul(1_000_000).round().astype("int64").sum())
        state.update((n, micro))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [micro / 1_000_000.0],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_AGG_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWMA_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("ewma", DoubleType()),
        StructField("last_us", LongType()),
        StructField("last_id", LongType()),
    ]
)
EWMA_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("ewma", DoubleType()),
    ]
)


def user_ewma_stateful(events: DataFrame) -> DataFrame:
    """Streaming per-user EWMA: the applyInPandasWithState form of the
    batch ew1 fold. State = (count, current ewma, last event key); each
    microbatch sorts its rows by (ts, event_id) and continues the fold
    from state, so across any microbatch split the emitted value equals
    the batch fold over the full ordered history — PROVIDED event time
    does not regress across batches (file-source appends here; a
    late-data stream would need the fold keyed into a timer/watermark
    pattern instead, and the kernel checks monotonicity rather than
    silently folding out of order; a regression raises ValueError)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, ewma, last_us, last_id = (
            state.get if state.exists else (0, None, -(2**62), -1)
        )
        for pdf in pdfs:
            pdf = pdf.dropna(subset=["value"])
            if pdf.empty:
                continue
            pdf = pdf.assign(_us=pdf["ts"].astype("int64"))
            pdf = pdf.sort_values(["_us", "event_id"])
            first = pdf.iloc[0]
            if (int(first["_us"]), int(first["event_id"])) <= (last_us, last_id):
                raise ValueError("event time regressed across microbatches")
            for v in pdf["value"]:
                ewma = v if ewma is None else ewma * 0.875 + v * 0.125
            n += len(pdf)
            tail = pdf.iloc[-1]
            last_us, last_id = int(tail["_us"]), int(tail["event_id"])
        state.update((n, ewma, last_us, last_id))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "ewma": [ewma]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_rollup(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming gap-based sessionization: ``session_window`` keeps one
    MERGING state entry per (user, open session); the watermark closes and
    evicts sessions whose gap has passed, bounding state. Matches the
    batch wb3 semantics (30-minute inactivity gap)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("session_start"), "n")
    )


def dedup_counts(events: DataFrame) -> DataFrame:
    """Streaming exactly-once ingest dedup: dropDuplicates on the event
    key (state-store backed — replayed/duplicate inputs collapse), then a
    per-type count. Without a watermark the dedup state is unbounded; a
    production stream would add withWatermark(ts, ...) to age it out."""
    return events.dropDuplicates(["event_id"]).groupBy("event_type").agg(
        F.count("*").alias("n_events")
    )


def dedup_within_watermark_counts(
    events: DataFrame, delay: str = "30 days"
) -> DataFrame:
    """Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    keys state by (user_id, event_type) and evicts entries once the
    event-time watermark passes them + delay — the production answer to
    st3's unbounded dropDuplicates state. On the bounded AvailableNow
    input everything lands in one microbatch before the watermark first
    advances, so the result is exact global first-seen counts — which is
    what makes the oracle compare deterministic."""
    return (
        events.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_first_seen"))
    )


def stream_stream_purchase_attribution(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the same
    user's clicks in the preceding 10 minutes. Both sides carry
    watermarks so the join state is bounded — Spark evicts click state
    once the purchase-side watermark passes click.ts + 10 min."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES")),
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"), "amount")


def static_enrichment(events: DataFrame, customer: DataFrame, n_cust: int) -> DataFrame:
    """Stream-static join: each streaming event is enriched with a static
    dimension row (customer segment; the synthetic key is user_id mod the
    customer count). The static side is broadcast per microbatch — no
    stream-side shuffle for the join, and the dimension can be updated
    between microbatches (re-read each trigger). The grouped rollup after
    it is a normal streaming state-store aggregation."""
    joined = events.withColumn(
        "custkey", F.col("user_id") % F.lit(n_cust)
    ).join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        F.col("custkey") == F.col("c_custkey"),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,10)")).cast("double").alias("sum_value"),
    )


def run_foreach_batch_parquet(
    result: DataFrame, out_dir: str, partition_col: str
) -> None:
    """Streaming -> partitioned parquet via foreachBatch with DYNAMIC
    partition overwrite: re-processing a microbatch rewrites exactly the
    partitions it touches, so the sink is idempotent under replay — the
    exactly-once recipe for object-store tables (no transactional format
    needed). Update-mode rows for a window land in that window's partition
    and overwrite the previous emission."""
    spark = result.sparkSession

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (
            # cluster by the partition value before the partitioned write
            # (round 10; the round-9 sinks/merge discipline, guide §6):
            # without it every (shuffle task x partition value) pair
            # fans out its own small file and the read-back pays one
            # footer per file. At 100 TB add a salt toward the 128 MB-
            # 1 GB file target; locally one file per partition IS it.
            df.repartition(F.col(partition_col))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(out_dir)
        )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with _ckpt_tmpdir("ckpt_fb_") as ckpt:
            q = (
                result.writeStream.foreachBatch(write_batch)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_available_now(
    result: DataFrame,
    name: str,
    output_mode: str,
    skip_nodata: bool = False,
) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into a
    memory sink; return the materialized result as a batch DataFrame.

    ``skip_nodata``: the caller asserts the query's emitted rows cannot
    depend on the trailing no-data finalization batch, so it is skipped
    (round 10, guide §1.2 "don't compute things you throw away"). True
    for: stateful ops WITHOUT a watermark (st2/st9 — no event-time state
    to finalize) and watermarked INNER stream-stream joins (st4 — the
    final watermark round only evicts state, inner rows were all emitted
    by data batches). NOT for outer joins (st10 — eviction IS emission)."""
    spark = result.sparkSession
    # state-store instances scale with shuffle partitions; for the test
    # scale a handful is plenty and cuts per-batch store-commit overhead.
    # (On a cluster this is sized to executors x cores instead.)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # complete mode re-emits the full result on every data batch, so the
    # trailing no-data finalization batch (whose only purpose is flushing
    # watermark-gated APPEND output) adds a state-store round for nothing.
    # Append-mode runs keep it unless the caller opts out — their final
    # emissions may depend on it.
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nodata = spark.conf.get(nodata_key)
    if output_mode == "complete" or skip_nodata:
        spark.conf.set(nodata_key, "false")
    try:
        with _ckpt_tmpdir(f"ckpt_{name}_") as ckpt:
            q = (
                result.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(nodata_key, prev_nodata)
    return spark.table(name)


# --------------------------------------------------- outer-join flush source

SENTINEL_USER = -999  # flush rows; never joins real keys, filtered from output


def stream_events_with_flush(spark: SparkSession, sf_dir: str, tag: str) -> DataFrame:
    """events as a 2-microbatch stream that FLUSHES outer-join state.

    Outer stream-stream join rows (the unmatched-side nulls) are emitted
    only when the watermark passes the end of a row's join window — and
    the watermark used in batch N is computed from data seen through
    batch N-1. A single AvailableNow batch over a bounded file therefore
    terminates with every unmatched row still buffered (Spark's
    documented outer-join delay). The standard fix is to append a
    sentinel future event pair: batch 1 = all real data (watermark 0:
    nothing dropped, all inner matches found), batch 2 = one far-future
    click+purchase pair (user_id = SENTINEL_USER) that lifts the
    watermark past every real row's window; the TRAILING NO-DATA batch
    (noDataMicroBatches, on for append runs) then applies that watermark
    and flushes every remaining outer row. Round 10: this replaces the
    earlier second sentinel batch — the no-data finalization round does
    the same watermark application without a third source file, saving a
    full microbatch (plan + two state-store commit rounds) per run;
    oracle-checked equal to the batch left join. maxFilesPerTrigger=1 +
    explicit mtimes make the batch split deterministic — and with it the
    emitted set.

    A production continuous stream needs no sentinels (real traffic
    advances the watermark); this shim exists to run the same operator
    to completion on bounded input.
    """
    def build(d: str) -> None:
        import datetime as dt
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        shutil.copy(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(d, "part-0.parquet"),
        )
        os.utime(os.path.join(d, "part-0.parquet"), (1000, 1000))

        schema = pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
        t0 = dt.datetime(2030, 1, 1)
        tbl = pa.Table.from_pylist(
            [
                {"event_id": -2, "ts": t0, "user_id": SENTINEL_USER,
                 "event_type": "click", "value": None, "props": None},
                {"event_id": -3, "ts": t0, "user_id": SENTINEL_USER,
                 "event_type": "purchase", "value": None, "props": None},
            ],
            schema=schema,
        )
        p = os.path.join(d, "part-1.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (1001, 1001))

    d = _staged_input_dir(
        ("flush", os.path.realpath(sf_dir)), f"{tag}_in_", build
    )

    from aristoteles_spark.functions.time import ntz_as_utc_instant

    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(d)
    )
    return raw.withColumn("ts", ntz_as_utc_instant("ts"))


def stream_stream_left_outer_conversion(events: DataFrame) -> DataFrame:
    """Watermarked LEFT OUTER stream-stream join: every click, matched
    to same-user purchases in the following 10 minutes — unmatched
    clicks ("didn't convert") emit with nulls once the watermark passes
    click_ts + 10 min. Dual watermarks bound both state stores exactly
    as in the inner-join form (st4); the outer semantics additionally
    exercise state EVICTION-triggered emission, which is where the
    flush-source batching matters."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select(
        "click_id",
        F.col("c_user").alias("user_id"),
        F.col("purchase_id").cast("double").alias("purchase_id"),
        "amount",
    )


def stream_events_split(spark: SparkSession, sf_dir: str, tag: str, n_files: int = 3) -> DataFrame:
    """events re-sharded into ``n_files`` time-ordered files read one per
    trigger — the deterministic multi-microbatch harness (mtime-pinned so
    the batch split, and with it every incremental result, replays
    identically)."""

    def build(d: str) -> None:
        import pyarrow.parquet as pq

        src = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by(
            [("ts", "ascending"), ("event_id", "ascending")]
        )
        n = src.num_rows
        for i in range(n_files):
            lo = i * n // n_files
            hi = (i + 1) * n // n_files
            p = os.path.join(d, f"part-{i}.parquet")
            pq.write_table(src.slice(lo, hi - lo), p)
            os.utime(p, (1000 + i, 1000 + i))

    d = _staged_input_dir(
        ("split", os.path.realpath(sf_dir), n_files), f"{tag}_in_", build
    )

    from aristoteles_spark.functions.time import ntz_as_utc_instant

    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(d)
    )
    return raw.withColumn("ts", ntz_as_utc_instant("ts"))


def run_cdc_upsert(
    events: DataFrame, table_dir: str, n_buckets: int = 16
) -> None:
    """Streaming CDC apply: per-key LAST-WRITE-WINS state maintained by
    a partition-scoped MERGE per microbatch — the canonical "apply a
    change stream to a keyed table" pattern (Debezium->lakehouse).

    Each microbatch reduces to its per-key winner (max by the unique
    (ts, event_id) version vector — deterministic under any batch
    split), reads back ONLY the current rows of the touched buckets
    for the incoming keys (partition filter + broadcast semi join),
    re-reduces so an out-of-order batch can never regress a key, and
    merges through ``sinks/merge.upsert_by_key`` — so per-batch write
    cost is O(touched buckets), never a full-state rewrite, and the
    final table is independent of how the stream was microbatched.
    Idempotent under batch replay: re-applying a batch reduces to the
    same winners."""
    from aristoteles_spark.sinks.merge import upsert_by_key

    spark = events.sparkSession

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col("user_id").isNotNull())
            .groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "value")).alias("w"))
            .select(
                "user_id",
                F.col("w.ts").alias("ts"),
                F.col("w.event_id").alias("event_id"),
                F.col("w.value").alias("value"),
                (F.col("user_id") % n_buckets).cast("int").alias("bucket"),
            )
        )

    def apply_batch(df: DataFrame, batch_id: int) -> None:
        w = latest(df.select("user_id", "ts", "event_id", "value"))
        if w.isEmpty():
            return
        if os.path.exists(os.path.join(table_dir, "_SUCCESS")):
            touched = [
                r[0] for r in w.select("bucket").distinct().collect()
            ]
            existing = (
                spark.read.parquet(table_dir)
                .filter(F.col("bucket").isin(touched))
                .join(
                    F.broadcast(w.select("user_id")), "user_id", "left_semi"
                )
            )
            cols = ["user_id", "ts", "event_id", "value"]
            w = latest(
                w.select(*cols).unionByName(existing.select(*cols))
            )
            upsert_by_key(spark, table_dir, w, ["user_id"], "bucket")
        else:
            (
                # cluster by bucket before the seed write — one file per
                # bucket dir instead of one per (task x bucket); see
                # sinks/merge.py on the small-file cascade
                w.repartition(F.col("bucket"))
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(table_dir)
            )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with _ckpt_tmpdir("ckpt_cdc_") as ckpt:
            q = (
                events.writeStream.foreachBatch(apply_batch)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_partial_mv(events: DataFrame, out_dir: str) -> None:
    """Streaming materialized view via PARTIAL-AGGREGATE STAGING: each
    microbatch writes only its own partial rollup (count + cents sum per
    (event_type, day)) under a batch-keyed directory. Idempotent under
    batch replay BY CONSTRUCTION — re-running batch N overwrites
    batch N's directory, never double-counts — which is the property a
    merge-into-the-MV design loses the moment a batch retries. The
    published view is the re-aggregation of all staged partials (counts
    and sums merge associatively), computed at read or by a periodic
    compaction; per-batch work is O(batch), never a base re-scan."""
    from aristoteles_spark.functions.time import instant_as_utc_ntz

    spark = events.sparkSession

    def write_batch(df: DataFrame, batch_id: int) -> None:
        cents = (
            F.when(F.col("value").isNull(), F.lit(0))
            .otherwise(F.round(F.col("value") * 100))
            .cast("long")
        )
        partial = df.groupBy(
            "event_type", F.to_date(instant_as_utc_ntz("ts")).alias("d")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).cast("long").alias("cents"),
        )
        partial.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with _ckpt_tmpdir("ckpt_mv_") as ckpt:
            q = (
                events.writeStream.foreachBatch(write_batch)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


DOCS_RAW_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def stream_documents_split(
    spark: SparkSession, sf_dir: str, tag: str, keep_mod: int, n_files: int = 3
) -> tuple[DataFrame, str]:
    """The new-ingest document stream: the content-hash batch slice
    (h32(doc_id) % keep_mod == 0 — nd1's split) re-sharded into
    ``n_files`` id-ordered files read one per trigger, mtime-pinned so
    the microbatch split replays identically (stream_events_split's
    harness applied to the documents table). Returns (stream, input_dir);
    input_dir is OWNED BY the process-level staging cache (removed at
    exit) — callers must not delete or mutate it."""

    def build(d: str) -> None:
        import duckdb
        import pyarrow.parquet as pq

        src = duckdb.connect().execute(
            "SELECT * FROM read_parquet(?) WHERE "
            "CAST(concat('0x', substr(md5(concat('0:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)"
            " % ? = 0 ORDER BY doc_id",
            [os.path.join(sf_dir, "documents.parquet"), keep_mod],
        ).arrow()
        n = src.num_rows
        for i in range(n_files):
            lo = i * n // n_files
            hi = (i + 1) * n // n_files
            p = os.path.join(d, f"part-{i}.parquet")
            pq.write_table(src.slice(lo, hi - lo), p)
            os.utime(p, (1000 + i, 1000 + i))

    d = _staged_input_dir(
        ("docsplit", os.path.realpath(sf_dir), keep_mod, n_files),
        f"{tag}_",
        build,
    )

    stream = (
        spark.readStream.schema(DOCS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(d)
    )
    return stream, d


def stream_corpus_split(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    corpus_sql: str,
    keep_mod: int,
    n_files: int = 2,
) -> tuple[DataFrame, str]:
    """stream_documents_split generalized to a DERIVED corpus: the
    batch slice (h32(doc_id) % keep_mod == 0) of ``corpus_sql`` — any
    duckdb SELECT producing (doc_id, text) over a `documents` view —
    re-sharded into ``n_files`` id-ordered, mtime-pinned files read one
    per trigger. Used by st14, whose corpus is ln2's seeded one."""

    def build(d: str) -> None:
        import duckdb
        import pyarrow.parquet as pq

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('"
            + os.path.join(sf_dir, "documents.parquet").replace("'", "''")
            + "')"
        )
        src = con.execute(
            f"SELECT doc_id, text FROM ({corpus_sql}) WHERE "
            "CAST(concat('0x', substr(md5(concat('0:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)"
            f" % {int(keep_mod)} = 0 ORDER BY doc_id"
        ).arrow()
        n = src.num_rows
        for i in range(n_files):
            lo = i * n // n_files
            hi = (i + 1) * n // n_files
            p = os.path.join(d, f"part-{i}.parquet")
            pq.write_table(src.slice(lo, hi - lo), p)
            os.utime(p, (1000 + i, 1000 + i))

    d = _staged_input_dir(
        ("corpussplit", os.path.realpath(sf_dir), corpus_sql, keep_mod,
         n_files),
        f"{tag}_",
        build,
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(d)
    )
    return stream, d


def run_substr_probe(
    docs_stream: DataFrame,
    index_df: DataFrame,
    out_dir: str,
    min_len: int,
) -> None:
    """Streaming incremental exact-substring probe: each microbatch of
    newly ingested documents probes the PERSISTED window-digest index of
    the historical corpus (operators/dedup.py:exact_substring_index —
    materialized once, reused by every trigger). Per-doc results are
    pure functions of (doc, index) — batch_internal=False drops
    cross-doc batch state by construction (see exact_substring_probe's
    docstring), so the job is state-free and the microbatch split
    cannot change the answer; the sink is batch-id-partitioned dynamic
    overwrite (st11's replay-safe discipline)."""
    from aristoteles_spark.operators.dedup import exact_substring_probe

    spark = docs_stream.sparkSession

    def process(df: DataFrame, batch_id: int) -> None:
        out = exact_substring_probe(
            index_df, df, min_len=min_len, batch_internal=False
        )
        (
            out.select(
                F.col("doc").alias("doc_id"),
                "n_tokens",
                "n_spans",
                "removed_tokens",
                "span_digest",
            )
            .withColumn("bpart", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bpart")
            .parquet(out_dir)
        )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with _ckpt_tmpdir("ckpt_ln_") as ckpt:
            q = (
                docs_stream.writeStream.foreachBatch(process)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_neardup_probe(
    docs_stream: DataFrame,
    index_grouped: DataFrame,
    out_dir: str,
    num_hashes: int,
    bands: int,
    threshold: float,
) -> None:
    """Streaming incremental near-dup probe: each microbatch of newly
    ingested documents is MinHash-signed in-row and hash-joined against
    the PERSISTED signature-grouped LSH index of the historical corpus
    (``index_grouped`` = the stored banded index collapsed to
    (sig_i, band, digest, cnt_i) — materialized once, reused by every
    trigger, exactly what production stores). Per-doc results are
    complete within the doc's own microbatch (a document is one row),
    so the job is STATE-FREE: no watermark, no state store — the sink
    is batch-id-partitioned dynamic overwrite, so replaying a trigger
    rewrites only its own partition (st11's replay-safe discipline).

    The probe runs at DISTINCT-SIGNATURE granularity (round 7):
    est_sim is a pure function of the signature pair, so identical-
    signature docs — the common case in a dup-heavy ingest, and ~2.6x
    of this corpus — collapse on both sides before the band join;
    n_matches recovers exact doc counts via sum(cnt_i) and batch docs
    re-expand through a signature join. Measured at sf0.1: candidate
    rows 1.82M -> ~0.4M per trigger, the dominant per-trigger cost on
    the degenerate 31-word corpus (round-7 profile). The batch
    signatures are eagerly persisted (persist + count) once per trigger
    so the interpreted signature fold runs once, not once per consumer
    (previously ~1.9s of a 2.4s trigger) — and EXPLICITLY unpersisted
    after the batch write: the earlier eager-localCheckpoint form had no
    release path from PySpark, so on a long-running stream per-trigger
    checkpoint blocks accumulated in the block manager until a JVM GC
    noticed the dropped references. No small-vocab probe either:
    that is a blocking driver-side collect JOB per microbatch for an
    equivalent-value hash — a per-trigger latency tax a streaming
    probe must not pay."""
    from aristoteles_spark.operators.dedup import (
        minhash_probe_census,
        minhash_signatures,
    )

    spark = docs_stream.sparkSession

    def process(df: DataFrame, batch_id: int) -> None:
        sb = minhash_signatures(
            df, num_hashes=num_hashes, use_small_vocab=False
        ).persist()
        sb.count()  # eager: materialize BEFORE the multi-consumer write
        try:
            (
                minhash_probe_census(
                    index_grouped, sb, num_hashes, bands, threshold
                )
                .withColumn("bpart", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bpart")
                .parquet(out_dir)
            )
        finally:
            sb.unpersist()

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with _ckpt_tmpdir("ckpt_nd_") as ckpt:
            q = (
                docs_stream.writeStream.foreachBatch(process)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

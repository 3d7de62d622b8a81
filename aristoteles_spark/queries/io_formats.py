"""IO-surface queries: source/sink format roundtrips + bucketed layout,
each driver-checkable against a duckdb oracle that reads the original
parquet directly — so a format that drops precision, mangles quoting, or
breaks bucketing turns a CORRECTNESS row red.

The reference ingests only SQLite (aristoteles/aristoteles.py:318-343);
these cover the landing-zone formats and the co-located-join layout a
complete engine needs (SURVEY.md §7.4). The roundtrip pattern: read the
canonical events parquet, write it through the format under test
(sources/files.py readers, sinks/bucketed.py layout), read it back, and
aggregate — identical output to aggregating the parquet proves lossless
transport of longs, doubles (shortest-repr text roundtrip for CSV/JSON),
NTZ microsecond timestamps, and quotable JSON-bearing strings.

Scale notes: CSV/JSON are INGEST formats (no row-group skipping — the
module docstring of sources/files.py); the aggregates here follow the
same decimal-exact rules as every other query. The bucketed-join query
writes both sides bucketed+sorted by the join key so the join itself
plans exchange-free (tests/test_formats.py pins no Exchange below the
join).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aristoteles_spark.sources.parquet_source import load_table

# per-format scratch roots; fixed (not mkdtemp) so repeated invocations
# overwrite instead of accumulating copies across bench warmup+passes.
# tmpfs when present: these queries verify format ROUND-TRIP correctness
# (encode->decode fidelity), not disk throughput, so removing fsync
# noise from the measurement is strictly better.
_IO_ROOT = (
    "/dev/shm/aristoteles_spark_io"
    if os.access("/dev/shm", os.W_OK)
    else "/tmp/aristoteles_spark_io"
)

_EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def _scratch(fmt: str, sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(_IO_ROOT, f"{fmt}_{tag}")


def _daily_agg(df):
    """The roundtrip discriminator: touches every column type — a lossy
    transport of ts (max_ts catches sub-second truncation), value, props,
    or user_id changes some output cell."""
    return (
        df.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(F.length("props")).alias("props_chars"),
            F.max("ts").alias("max_ts"),
        )
        .orderBy("d")
    )


_DAILY_AGG_SQL = (
    "SELECT CAST(ts AS DATE) AS d, count(*) AS n, "
    "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value, "
    "count(DISTINCT user_id) AS n_users, "
    "CAST(sum(length(props)) AS BIGINT) AS props_chars, "
    "max(ts) AS max_ts "
    "FROM events GROUP BY d ORDER BY d"
)

# text formats default to millisecond NTZ rendering — micros are data
# (the max_ts discriminator fails without this)
_NTZ_US = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def q_orc_roundtrip(spark, sf_dir):
    path = _scratch("orc", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").orc(path)
    return _daily_agg(spark.read.schema(_EVENTS_DDL).orc(path))


def q_csv_roundtrip(spark, sf_dir):
    from aristoteles_spark.sources.files import load_csv

    path = _scratch("csv", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    (
        ev.write.mode("overwrite")
        .option("header", "true")
        .option("timestampNTZFormat", _NTZ_US)
        .csv(path)
    )
    return _daily_agg(
        load_csv(spark, path, _EVENTS_DDL, timestampNTZFormat=_NTZ_US)
    )


def q_jsonl_roundtrip(spark, sf_dir):
    from aristoteles_spark.sources.files import load_jsonl

    path = _scratch("jsonl", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").option("timestampNTZFormat", _NTZ_US).json(path)
    return _daily_agg(
        load_jsonl(spark, path, _EVENTS_DDL, timestampNTZFormat=_NTZ_US)
    )


def q_gzip_jsonl_roundtrip(spark, sf_dir):
    """Compressed-corpus ingest: events written as GZIP-compressed JSONL
    (THE interchange format LLM corpora actually arrive in), read back
    through Spark's codec auto-detection, aggregated against the
    original parquet. Compression is requested at write (codec=gzip)
    and inferred at read from the .gz extension — the full landing-zone
    path. Scale note: gzip is NOT splittable — one file = one task — so
    the writer shards first (repartition) and parallelism = #shards;
    that sharding discipline is the real-world contract this query
    pins."""
    from aristoteles_spark.sources.files import load_jsonl

    path = _scratch("jsonlgz", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    (
        ev.repartition(8)
        .write.mode("overwrite")
        .option("timestampNTZFormat", _NTZ_US)
        .option("compression", "gzip")
        .json(path)
    )
    import glob

    if not glob.glob(os.path.join(path, "*.json.gz")):
        raise RuntimeError("gzip output expected")
    return _daily_agg(
        load_jsonl(spark, path, _EVENTS_DDL, timestampNTZFormat=_NTZ_US)
    )


def q_webdataset_tar(spark, sf_dir):
    """WebDataset-style tar-shard ingest: the documents corpus packed
    into N tar shards (one member per doc, named {doc_id}.txt — the
    layout web-scale multimodal/text corpora ship in), shards read as
    whole files via Spark's binaryFile source, members extracted with
    the stdlib tar parser inside an Arrow-batched mapInPandas, and the
    reconstructed corpus aggregated per source against the original
    parquet table. Parallelism = #shards (each task streams one tar
    sequentially — exactly how WebDataset is consumed by training
    loaders); document bytes never shuffle through the driver — the
    writer hash-partitions on the shard key so every shard's members
    colocate in exactly one task, that task builds the tar and writes
    it straight to shared storage (tmpfs here; an object store or
    shared FS on a cluster), and only a (shard, n_members, path)
    manifest returns to the driver. Members are accumulated across the
    WHOLE Arrow-batch iterator before the tar is built, so a shard
    larger than arrow.maxRecordsPerBatch yields one complete tar, not
    a last-batch-wins overwrite."""
    import io as _io
    import tarfile

    from pyspark.sql import types as T

    path = _scratch("wds", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )

    n_shards = 8

    def write_shards(it):
        import pandas as pd

        # shard -> members, accumulated over ALL batches of this task
        # (a shard bigger than arrow.maxRecordsPerBatch spans batches)
        members = {}
        for pdf in it:
            for did, src, text in zip(pdf["doc_id"], pdf["source"], pdf["text"]):
                members.setdefault(int(did) % n_shards, []).append(
                    (int(did), src, text)
                )
        rows = []
        for shard, ms in members.items():
            fpath = os.path.join(path, f"shard-{shard:05d}.tar")
            tmp = fpath + ".inprogress"
            with tarfile.open(tmp, mode="w") as tf:
                for did, src, text in sorted(ms):
                    data = f"{src}\n{text}".encode()
                    info = tarfile.TarInfo(name=f"{did}.txt")
                    info.size = len(data)
                    info.mtime = 0
                    tf.addfile(info, _io.BytesIO(data))
            os.replace(tmp, fpath)  # atomic publish, crash-safe
            rows.append((shard, len(ms), fpath))
        yield pd.DataFrame(rows, columns=["shard", "n_members", "path"])

    os.makedirs(path, exist_ok=True)
    for stale in os.listdir(path):  # tiny listing; clears prior runs
        if stale.endswith((".tar", ".inprogress")):
            os.remove(os.path.join(path, stale))
    # hash-partition on the shard key: every member of a shard lands in
    # exactly one task (a task may own several shards, a shard never
    # splits), each task writes its tars directly — the driver receives
    # only the O(n_shards)-row manifest, never payload bytes.
    manifest = (
        docs.repartition(n_shards, F.col("doc_id") % n_shards)
        .mapInPandas(write_shards, "shard int, n_members long, path string")
        .collect()
    )
    # a 0-member write is fine only when the INPUT was empty (round-6
    # empty-input sweep): a 0-doc day writing a 0-member container is a
    # valid no-op, while a silent 0-member write on a real corpus is the
    # vacuous-oracle bug the check exists for (isEmpty only runs then)
    if sum(r.n_members for r in manifest) == 0 and not docs.isEmpty():
        raise RuntimeError("empty webdataset write")

    raw = spark.read.format("binaryFile").load(path)

    def extract(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for blob in pdf["content"]:
                with tarfile.open(fileobj=_io.BytesIO(bytes(blob))) as tf:
                    for m in tf.getmembers():
                        data = tf.extractfile(m).read().decode()
                        src, text = data.split("\n", 1)
                        rows.append((int(m.name.split(".")[0]), src, len(text)))
            yield pd.DataFrame(rows, columns=["doc_id", "source", "n_chars"])

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.IntegerType()),
        ]
    )
    extracted = raw.select("content").mapInPandas(extract, out_schema)
    return (
        extracted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source")
    )


def q_avro_roundtrip(spark, sf_dir):
    """Avro object-container roundtrip through the pure-Python codec
    (formats/avro.py — the container has no spark-avro module and no
    network, so the public spec is implemented directly, like minihdf5).

    Distributed BOTH ways: the writer runs inside mapInPandas — each of
    8 hash partitions serializes its rows into one container file
    (deflate codec, zigzag varints, block framing, sync markers) written
    straight from the task; only an (n_rows, path) manifest reaches the
    driver. The reader is binaryFile + an Arrow-batched decode, one task
    per container file — Avro's block framing would also support
    sub-file splits at scale. The daily aggregate must match the oracle
    computed on the ORIGINAL parquet, so a codec that mangles varint
    sign extension, union indices, micros timestamps, or UTF-8 turns
    the row red."""
    import pandas as pd

    from aristoteles_spark.formats.avro import (
        EVENTS_AVRO_SCHEMA,
        read_avro,
        write_avro_file,
    )

    path = _scratch("avro", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    n_files = 8

    def write_files(it):
        rows = []
        for pdf in it:
            micros = pdf["ts"].astype("datetime64[us]").astype("int64")
            for eid, us, uid, et, val, pr in zip(
                pdf["event_id"], micros, pdf["user_id"],
                pdf["event_type"], pdf["value"], pdf["props"],
            ):
                rows.append(
                    (int(eid), int(us),
                     None if pd.isna(uid) else int(uid),
                     None if et is None else str(et),
                     None if pd.isna(val) else float(val),
                     None if pr is None else str(pr))
                )
        if not rows:
            yield pd.DataFrame(
                {
                    "n_rows": pd.Series([], dtype="int64"),
                    "path": pd.Series([], dtype="object"),
                }
            )
            return
        rows.sort()  # deterministic file bytes per partition
        fpath = os.path.join(path, f"part-{rows[0][0] % n_files:05d}.avro")
        write_avro_file(fpath, EVENTS_AVRO_SCHEMA, rows, codec="deflate")
        yield pd.DataFrame({"n_rows": [len(rows)], "path": [fpath]})

    os.makedirs(path, exist_ok=True)
    for stale in os.listdir(path):
        if stale.endswith((".avro", ".inprogress")):
            os.remove(os.path.join(path, stale))
    manifest = (
        ev.repartition(n_files, F.col("event_id") % n_files)
        .mapInPandas(write_files, "n_rows long, path string")
        .collect()
    )
    if sum(r.n_rows for r in manifest) == 0 and not ev.isEmpty():
        raise RuntimeError("empty avro write")  # see the webdataset note

    raw = spark.read.format("binaryFile").load(path)

    def decode(it):
        for pdf in it:
            frames = []
            for blob in pdf["content"]:
                _schema, rows = read_avro(bytes(blob))
                df = pd.DataFrame(
                    rows,
                    columns=["event_id", "ts", "user_id", "event_type",
                             "value", "props"],
                )
                df["ts"] = pd.to_datetime(df["ts"], unit="us")
                frames.append(df)
            yield pd.concat(frames) if frames else pd.DataFrame(
                columns=["event_id", "ts", "user_id", "event_type",
                         "value", "props"]
            )

    back = raw.select("content").mapInPandas(decode, _EVENTS_DDL)
    return _daily_agg(back)


def q_warc_roundtrip(spark, sf_dir):
    """WARC/WET ingest — the container web-scale text corpora actually
    arrive in (Common Crawl). The documents corpus is packed into 8
    member-gzip WARC shards of WET-style 'conversion' records
    (formats/warc.py: one gzip member per record, the layout that makes
    a 100 TB crawl splittable at member bounds), each shard written
    straight from its task; the read side is binaryFile + Arrow-batched
    parse, one task per shard. doc_id/source travel through
    WARC-Target-URI, text through the payload; the per-source aggregate
    against the original parquet pins header framing, Content-Length,
    member-gzip reassembly and UTF-8 round-tripping."""
    import pandas as pd

    from aristoteles_spark.formats.warc import (
        conversion_record,
        read_warc,
        write_warc,
    )

    path = _scratch("warc", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # Bounded-SIZE shards, corpus-proportional COUNT — the Common Crawl
    # layout (fixed ~1 GB WARCs, file count grows with the crawl). A
    # fixed shard count pins write/parse parallelism while per-shard
    # member-gzip work grows linearly: the round-5 100x sweep measured
    # 8 fixed shards at 188x wall (144 s — 8 tasks churning 62k Python
    # gzip members each while 24 cores idled). Count is a cheap
    # columnar-metadata job; 5000 docs/shard keeps sf0.01/sf0.1 at the
    # same 8 shards as before (oracle results are shard-invariant).
    n_shards = max(8, -(-docs.count() // 5000))

    def write_shards(it):
        by_shard: dict[int, list] = {}
        for pdf in it:
            for did, src, text in zip(pdf["doc_id"], pdf["source"], pdf["text"]):
                by_shard.setdefault(int(did) % n_shards, []).append(
                    (int(did), src, text)
                )
        rows = []
        for shard, members in by_shard.items():
            records = [
                conversion_record(
                    uri=f"corpus://{src}/{did}",
                    date="2026-01-01T00:00:00Z",
                    text=text,
                    record_id=f"{did:016d}",
                )
                for did, src, text in sorted(members)
            ]
            fpath = os.path.join(path, f"shard-{shard:05d}.warc.gz")
            tmp = fpath + ".inprogress"
            with open(tmp, "wb") as f:
                f.write(write_warc(records, compress=True))
            os.replace(tmp, fpath)
            rows.append((shard, len(members), fpath))
        yield pd.DataFrame(rows, columns=["shard", "n_members", "path"])

    os.makedirs(path, exist_ok=True)
    for stale in os.listdir(path):
        if stale.endswith((".warc.gz", ".inprogress")):
            os.remove(os.path.join(path, stale))
    manifest = (
        docs.repartition(n_shards, F.col("doc_id") % n_shards)
        .mapInPandas(write_shards, "shard int, n_members long, path string")
        .collect()
    )
    if sum(r.n_members for r in manifest) == 0 and not docs.isEmpty():
        raise RuntimeError("empty warc write")  # see the webdataset note

    raw = spark.read.format("binaryFile").load(path)

    def extract(it):
        for pdf in it:
            rows = []
            for blob in pdf["content"]:
                for headers, payload in read_warc(bytes(blob)):
                    uri = headers["WARC-Target-URI"]
                    _scheme, rest = uri.split("://", 1)
                    src, did = rest.rsplit("/", 1)
                    rows.append(
                        (int(did), src, len(payload.decode("utf-8")))
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "source", "n_chars"]
            )

    extracted = raw.select("content").mapInPandas(
        extract, "doc_id long, source string, n_chars int"
    )
    return (
        extracted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source")
    )


def q_zorder_pruning(spark, sf_dir):
    """Z-ordered (Morton) data layout + z-index range pruning
    (functions/layout.py) — the lakehouse answer to two-dimensional
    filters. events is written clustered by the coarse Z-cell of
    (user_id mod 256, day index): each cell is a partition directory
    whose contents are tight in BOTH dimensions. The rectangular query
    box (user slice × day window) is answered by enumerating the cells
    intersecting the box driver-side (O(cells), the z-index range
    decomposition) and pushing the cell list as a partition IN filter —
    directories outside the box are never listed or read (partition
    pruning, visible in the plan as PartitionFilters) — then applying
    the exact residual predicate. The aggregate must match the oracle
    over the ORIGINAL unclustered parquet, so a layout that drops,
    duplicates, or mis-cells rows goes red; an under-enumerated cell
    list loses rows and goes red too."""
    from aristoteles_spark.functions.layout import cells_for_box, zcell

    path = _scratch("zorder", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    origin = F.lit("2024-01-01").cast("date")
    x = F.pmod(F.col("user_id"), F.lit(256)).cast("int")
    y = F.pmod(F.datediff(F.to_date("ts"), origin), F.lit(256)).cast("int")
    laid_out = ev.filter(F.col("user_id").isNotNull()).withColumn(
        "zc", zcell(x, y)
    )
    (
        laid_out
        .repartition("zc")  # one task per cell group: clustered files
        .write.mode("overwrite")
        .partitionBy("zc")
        .parquet(path)
    )

    # query box: users with (user_id % 256) in [4, 95], days 8..23
    # (x_lo=4 keeps the box non-empty at sf0.001's 15 users — a vacuous
    # 0-row oracle match would prove nothing)
    X_LO, X_HI, Y_LO, Y_HI = 4, 95, 8, 23
    cells = cells_for_box(X_LO, X_HI, Y_LO, Y_HI)
    # explicit schema: an empty input writes zero part files and
    # schema inference has nothing to read (round-6 empty-input sweep)
    back = spark.read.schema(laid_out.schema).parquet(path)
    xb = F.pmod(F.col("user_id"), F.lit(256))
    yb = F.pmod(F.datediff(F.to_date("ts"), origin), F.lit(256))
    boxed = back.filter(F.col("zc").isin(cells)).filter(
        xb.between(X_LO, X_HI) & yb.between(Y_LO, Y_HI)
    )
    return (
        boxed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
            F.max("ts").alias("max_ts"),
        )
        .orderBy("event_type")
    )


def q_protobuf_log(spark, sf_dir):
    """Length-delimited protobuf event-log ingest (formats/protowire.py
    — the Kafka/gRPC landing convention, implemented from the public
    wire spec since the container's google.protobuf is broken). Each of
    8 hash partitions serializes its rows as varint-length-prefixed
    wire messages written straight from the task; read back via
    binaryFile + Arrow-batched decode. Nullable fields travel as
    proto3 field-omission; the daily aggregate against the original
    parquet pins varint int64 encoding, double bit-patterns, UTF-8 and
    the framing."""
    import pandas as pd

    from aristoteles_spark.formats.protowire import read_log, write_log

    path = _scratch("pblog", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    n_files = 8

    def write_files(it):
        recs = []
        for pdf in it:
            micros = pdf["ts"].astype("datetime64[us]").astype("int64")
            for eid, us, uid, et, val, pr in zip(
                pdf["event_id"], micros, pdf["user_id"],
                pdf["event_type"], pdf["value"], pdf["props"],
            ):
                recs.append(
                    {
                        "event_id": int(eid),
                        "ts_micros": int(us),
                        "user_id": None if pd.isna(uid) else int(uid),
                        "event_type": None if et is None else str(et),
                        "value": None if pd.isna(val) else float(val),
                        "props": None if pr is None else str(pr),
                    }
                )
        if not recs:
            yield pd.DataFrame(
                {
                    "n_rows": pd.Series([], dtype="int64"),
                    "path": pd.Series([], dtype="object"),
                }
            )
            return
        recs.sort(key=lambda r: r["event_id"])
        fpath = os.path.join(
            path, f"part-{recs[0]['event_id'] % n_files:05d}.pb"
        )
        tmp = fpath + ".inprogress"
        with open(tmp, "wb") as f:
            f.write(write_log(recs))
        os.replace(tmp, fpath)
        yield pd.DataFrame({"n_rows": [len(recs)], "path": [fpath]})

    os.makedirs(path, exist_ok=True)
    for stale in os.listdir(path):
        if stale.endswith((".pb", ".inprogress")):
            os.remove(os.path.join(path, stale))
    manifest = (
        ev.repartition(n_files, F.col("event_id") % n_files)
        .mapInPandas(write_files, "n_rows long, path string")
        .collect()
    )
    if sum(r.n_rows for r in manifest) == 0 and not ev.isEmpty():
        raise RuntimeError("empty protobuf write")  # see the webdataset note

    raw = spark.read.format("binaryFile").load(path)

    def decode(it):
        for pdf in it:
            frames = []
            for blob in pdf["content"]:
                recs = read_log(bytes(blob))
                df = pd.DataFrame.from_records(
                    recs,
                    columns=["event_id", "ts_micros", "user_id",
                             "event_type", "value", "props"],
                )
                df["ts"] = pd.to_datetime(df["ts_micros"], unit="us")
                frames.append(
                    df[["event_id", "ts", "user_id", "event_type",
                        "value", "props"]]
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                columns=["event_id", "ts", "user_id", "event_type",
                         "value", "props"]
            )

    back = raw.select("content").mapInPandas(decode, _EVENTS_DDL)
    return _daily_agg(back)


def q_malformed_csv(spark, sf_dir):
    """Dirty-ingest robustness: a CSV landing file where a
    deterministic subset of rows is CORRUPTED (event_id % 13 == 3 gets
    a non-numeric user_id), read in PERMISSIVE mode with a
    columnNameOfCorruptRecord — the quarantine pattern for real
    landing zones: bad rows surface as (nulls + raw line) instead of
    failing the job or silently vanishing. The query reports, per day,
    clean vs quarantined row counts, surviving user_id values, and the
    clean-row value mass; the oracle states the same from the original
    table (it knows exactly which rows were corrupted). Both
    failure-handling semantics (null-out + capture) are value-pinned.

    Gotcha this query deliberately pins: Spark's CSV parser prunes to
    REQUIRED columns, and a row is only flagged corrupt if a required
    column fails to convert — an aggregate that never touched the dirty
    column would see n_quarantined == 0. The aggregation therefore
    consumes user_id (count of surviving values), which is also the
    operationally honest report."""
    from pyspark.sql import functions as F

    path = _scratch("badcsv", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    dirty = ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.when(F.col("event_id") % 13 == 3, F.lit("not_a_number"))
        .otherwise(F.col("user_id").cast("string"))
        .alias("user_id"),
        "event_type",
        "value",
    )
    dirty.write.mode("overwrite").option("header", "true").csv(path)
    ddl = (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, _corrupt STRING"
    )
    back = (
        spark.read.schema(ddl)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
    )
    return (
        back.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("_corrupt").alias("n_quarantined"),
            F.count("user_id").cast("long").alias("n_user_vals"),
            F.sum(
                F.when(
                    F.col("_corrupt").isNull(),
                    F.round(F.col("value") * 100),
                ).otherwise(0)
            )
            .cast("long")
            .alias("clean_cents"),
        )
        .orderBy("d")
    )


def q_bucketed_join(spark, sf_dir):
    """Fact-fact join through the bucketed layout: both sides written
    bucketed+sorted by the order key once, then joined WITHOUT an
    exchange (write-time shuffle amortized across every later join).
    Result must equal the plain join the oracle runs."""
    from aristoteles_spark.sinks.bucketed import colocated_join, write_bucketed

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    lt, ot = f"io_li_{tag}", f"io_o_{tag}"
    write_bucketed(li, lt, "orderkey", 8, _scratch(f"bkt_li", sf_dir))
    write_bucketed(o, ot, "orderkey", 8, _scratch(f"bkt_o", sf_dir))
    return (
        colocated_join(spark, lt, ot, "orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,4)"
                )
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_orderpriority")
    )


def q_schema_evolution(spark, sf_dir):
    """Schema evolution across parquet batches: an early batch written
    WITHOUT the props column, a later batch WITH it, read back through
    mergeSchema — the widened schema must surface the old batch's
    missing column as NULL (the append-only dataset lifecycle every
    long-lived table goes through). The discriminator aggregates the
    nullable column so a wrong merge (dropped column, wrong nulling)
    changes cells. Deterministic batch split: event_id % 2."""
    path = _scratch("evolve", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 2 == 0).drop("props")
    new = ev.filter(F.col("event_id") % 2 == 1)
    # bounded file count per batch: mergeSchema reconciles every part
    # footer up front, so 32 files per batch (the cached source's
    # partitioning) doubles the read-back cost of a table this size
    # (A/B-measured 1.9x); four ~sensibly-sized files per batch keeps
    # the write parallel without the footer storm
    old.coalesce(4).write.mode("overwrite").parquet(os.path.join(path, "b=0"))
    new.coalesce(4).write.mode("overwrite").parquet(os.path.join(path, "b=1"))
    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(path)
    return (
        merged.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("props").alias("n_with_props"),
            F.sum(F.length("props")).cast("long").alias("props_chars"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("d")
    )


def q_merge_upsert(spark, sf_dir):
    """Key-level MERGE (upsert) through the partition-scoped rewrite
    recipe (sinks/merge.py — the Delta/Iceberg dataflow minus the log):
    seed a partitioned table from events, apply a deterministic
    changeset (value bump for event_id%11==0, new rows for
    event_id%13==0 keyed past max id), and aggregate the merged table.
    The oracle states the merge RESULT relationally (anti-join union),
    so partition pruning, the anti join, and dynamic overwrite are all
    verified by value. Only touched partitions are ever read/written."""
    from aristoteles_spark.sinks.merge import upsert_by_key

    path = _scratch("merge", sf_dir)
    base = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    ).filter(F.col("value").isNotNull())
    # seed write clustered by the partition value (sinks/merge.py note):
    # from the 32-partition cached source an unclustered partitionBy
    # write fans out ~32 files per type dir and every later merge pays
    # the small-file read-back (A/B-measured 2.0x on this query)
    base.repartition(F.col("event_type")).write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(path)
    max_id = base.agg(F.max("event_id")).first()[0]
    updates = base.filter(F.col("event_id") % 11 == 0).select(
        "event_id", "event_type", (F.col("value") + 1.0).alias("value")
    )
    inserts = base.filter(F.col("event_id") % 13 == 0).select(
        (F.col("event_id") + max_id + 1).alias("event_id"),
        "event_type",
        F.lit(0.5).alias("value"),
    )
    upsert_by_key(
        spark, path, updates.unionByName(inserts),
        key_cols=["event_id"], partition_col="event_type",
    )
    merged = spark.read.schema(base.schema).parquet(path)
    return (
        merged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )


def q_compaction_roundtrip(spark, sf_dir):
    """Small-files compaction as a driver-checked operation: fragment a
    partitioned table (16 files per partition), compact it
    (sinks/compact.py: staged write + hidden-backup partition swaps,
    clustering on ts), and aggregate the compacted table. The oracle is
    the same aggregate over the ORIGINAL rows — compaction must be
    content-neutral — and the query also asserts the file count
    actually shrank (a no-op 'compaction' would pass the value check
    but fail the assertion)."""
    import glob

    from aristoteles_spark.sinks.compact import compact_partitions

    path = _scratch("compact", sf_dir)
    base = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    base.repartition(16).write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(path)
    before = len(glob.glob(f"{path}/event_type=*/*.parquet"))
    compact_partitions(spark, path, ["event_type"], cluster_cols=["ts"])
    after = len(glob.glob(f"{path}/event_type=*/*.parquet"))
    if before:  # an empty input writes no partitions: nothing to shrink
        if after >= before:
            raise RuntimeError(
                f"compaction did not shrink: {before} -> {after} files"
            )
    return (
        spark.read.schema(base.schema).parquet(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
            F.count_distinct("event_id").alias("n_ids"),
            F.max("ts").alias("max_ts"),
        )
        .orderBy("event_type")
    )


_MV_SPLIT = "2024-01-21 00:00:00"  # base/delta split inside the data range


def q_incremental_rollup(spark, sf_dir):
    """Incremental materialized-view maintenance: a daily rollup is
    materialized from the base span (ts < split), a later delta span is
    partially aggregated on its own, and the published view is the MERGE
    of the stored partials with the delta partials — never a re-scan of
    base facts. The oracle states the full recompute over all events, so
    the driver check proves the maintenance algebra (count/sum partials
    merge associatively) gives the exact full answer. At 100 TB this is
    THE pattern for keeping rollups fresh: the delta pass touches only
    new partitions, the merge shuffles only (group-key, two longs), and
    the same recipe extends to any algebraic aggregate. Cents-exact."""
    path = _scratch("mv", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    cents = (
        F.when(F.col("value").isNull(), F.lit(0))
        .otherwise(F.round(F.col("value") * 100))
        .cast("long")
    )
    split = F.lit(_MV_SPLIT).cast("timestamp_ntz")

    def partial_rollup(df):
        return df.groupBy("event_type", F.to_date("ts").alias("d")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).cast("long").alias("cents"),
        )

    partial_rollup(ev.filter(F.col("ts") < split)).write.mode(
        "overwrite"
    ).parquet(path)
    mv = spark.read.parquet(path)
    delta = partial_rollup(ev.filter(F.col("ts") >= split))
    return (
        mv.unionByName(delta)
        .groupBy("event_type", "d")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("event_type", "d")
    )


QUERIES = {
    "mg1_merge_upsert": q_merge_upsert,
    "mv1_incremental_rollup": q_incremental_rollup,
    "io7_gzip_jsonl": q_gzip_jsonl_roundtrip,
    "io8_webdataset_tar": q_webdataset_tar,
    "io9_malformed_csv": q_malformed_csv,
    "io6_compaction_roundtrip": q_compaction_roundtrip,
    "io1_orc_roundtrip": q_orc_roundtrip,
    "io2_csv_roundtrip": q_csv_roundtrip,
    "io3_jsonl_roundtrip": q_jsonl_roundtrip,
    "io4_bucketed_join": q_bucketed_join,
    "io5_schema_evolution": q_schema_evolution,
    "io10_avro_roundtrip": q_avro_roundtrip,
    "io11_warc_roundtrip": q_warc_roundtrip,
    "io12_zorder_pruning": q_zorder_pruning,
    "io13_protobuf_log": q_protobuf_log,
}

ORACLE = {
    "mv1_incremental_rollup": """
SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n,
       CAST(sum(CASE WHEN value IS NULL THEN 0
                     ELSE CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
         AS total_cents
FROM events GROUP BY event_type, d ORDER BY event_type, d
""",
    "io6_compaction_roundtrip": """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       count(DISTINCT event_id) AS n_ids,
       max(ts) AS max_ts
FROM events GROUP BY event_type ORDER BY event_type
""",
    "mg1_merge_upsert": """
WITH base AS (
  SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL
), mx AS (
  SELECT max(event_id) AS m FROM base
), updates AS (
  SELECT event_id, event_type, value + 1.0 AS value
  FROM base WHERE event_id % 11 = 0
), inserts AS (
  SELECT event_id + m + 1 AS event_id, event_type, 0.5 AS value
  FROM base CROSS JOIN mx WHERE event_id % 13 = 0
), merged AS (
  SELECT b.event_id, b.event_type, b.value
  FROM base b ANTI JOIN updates u ON b.event_id = u.event_id
  UNION ALL SELECT * FROM updates
  UNION ALL SELECT * FROM inserts
)
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       max(event_id) AS max_id
FROM merged GROUP BY event_type ORDER BY event_type
""",
    "io1_orc_roundtrip": _DAILY_AGG_SQL,
    "io10_avro_roundtrip": _DAILY_AGG_SQL,
    "io13_protobuf_log": _DAILY_AGG_SQL,
    "io2_csv_roundtrip": _DAILY_AGG_SQL,
    "io3_jsonl_roundtrip": _DAILY_AGG_SQL,
    "io7_gzip_jsonl": _DAILY_AGG_SQL,
    "io9_malformed_csv": (
        "SELECT CAST(ts AS DATE) AS d, count(*) AS n_rows, "
        "CAST(sum(CASE WHEN event_id % 13 = 3 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_quarantined, "
        "CAST(sum(CASE WHEN event_id % 13 <> 3 AND user_id IS NOT NULL "
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_user_vals, "
        "CAST(sum(CASE WHEN event_id % 13 <> 3 "
        "THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) "
        "AS clean_cents "
        "FROM events GROUP BY d ORDER BY d"
    ),
    "io8_webdataset_tar": (
        "SELECT source, count(*) AS n_docs, "
        "CAST(sum(length(text)) AS BIGINT) AS total_chars, "
        "min(doc_id) AS min_doc, max(doc_id) AS max_doc "
        "FROM documents GROUP BY source ORDER BY source"
    ),
    "io11_warc_roundtrip": (
        "SELECT source, count(*) AS n_docs, "
        "CAST(sum(length(text)) AS BIGINT) AS total_chars, "
        "min(doc_id) AS min_doc, max(doc_id) AS max_doc "
        "FROM documents GROUP BY source ORDER BY source"
    ),
    "io12_zorder_pruning": (
        "SELECT event_type, count(*) AS n, "
        "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value, "
        "count(DISTINCT user_id) AS n_users, max(ts) AS max_ts "
        "FROM events WHERE user_id IS NOT NULL "
        "AND (user_id % 256) BETWEEN 4 AND 95 "
        "AND (datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 256) "
        "BETWEEN 8 AND 23 "
        "GROUP BY event_type ORDER BY event_type"
    ),
    "io5_schema_evolution": (
        "SELECT CAST(ts AS DATE) AS d, count(*) AS n, "
        "CAST(count(CASE WHEN event_id % 2 = 1 THEN props END) AS BIGINT) "
        "AS n_with_props, "
        "CAST(sum(CASE WHEN event_id % 2 = 1 THEN length(props) END) "
        "AS BIGINT) AS props_chars, "
        "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
        "FROM events GROUP BY d ORDER BY d"
    ),
    "io4_bucketed_join": (
        "SELECT o_orderpriority, "
        "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) "
        "AS DOUBLE) AS revenue, "
        "count(*) AS n_lines "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
}

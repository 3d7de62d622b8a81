"""Structured Streaming multi-microbatch semantics.

The declared st* queries run AvailableNow over ONE input file — a single
microbatch — so they validate plumbing but not state carried ACROSS
batches. These tests split the events table into several files and force
one file per trigger (maxFilesPerTrigger=1): windowed aggregation state
and applyInPandasWithState per-key state must accumulate across batches
to the same result a single batch (or a batch groupBy) produces.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from aristoteles_spark.functions.time import ntz_as_utc_instant
from aristoteles_spark.streaming.events import (
    EVENTS_RAW_SCHEMA,
    hourly_rollup,
    run_available_now,
    user_totals_stateful,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def split_events_dir(spark):
    """events.parquet rewritten as 4 separate files in one directory."""
    d = tempfile.mkdtemp(prefix="split_events_")
    (
        spark.read.parquet(f"{SF}/events.parquet")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


def _stream(spark, d):
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(d)
    )
    return raw.withColumn("ts", ntz_as_utc_instant("ts"))


class TestMultiBatchState:
    def test_windowed_agg_state_accumulates_across_batches(
        self, spark, split_events_dir
    ):
        ev = _stream(spark, split_events_dir)
        # watermark far larger than the data span: late-data dropping is
        # not under test here, cross-batch accumulation is
        out = run_available_now(
            hourly_rollup(ev, watermark="100 days"), "mb_hourly", "complete"
        )
        got = {
            (r.hour_start, r.event_type, r.n_events, round(r.sum_value, 6))
            for r in out.collect()
        }
        batch = (
            spark.read.parquet(split_events_dir)
            .groupBy(
                F.window(ntz_as_utc_instant("ts"), "1 hour").alias("w"),
                "event_type",
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(30,10)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value")
        )
        want = {
            (r.hour_start, r.event_type, r.n_events, round(r.sum_value, 6))
            for r in batch.collect()
        }
        assert got == want and len(want) > 0

    def test_keyed_python_state_carries_across_batches(
        self, spark, split_events_dir
    ):
        ev = _stream(spark, split_events_dir)
        out = run_available_now(
            user_totals_stateful(ev), "mb_user_totals", "append"
        ).collect()
        # append mode emits a row per (user, batch-with-activity); the row
        # with the highest n_events is the final accumulated state
        final = {}
        for r in out:
            cur = final.get(r.user_id)
            if cur is None or r.n_events > cur[0]:
                final[r.user_id] = (r.n_events, r.sum_value)
        batch = (
            spark.read.parquet(split_events_dir)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        )
        want = {r.user_id: (r.n, r.s) for r in batch.collect()}
        assert set(final) == set(want)
        for uid, (n, s) in final.items():
            assert n == want[uid][0]
            assert abs(s - want[uid][1]) < 1e-6
        # at least one user must have been emitted in >1 batch, proving
        # state actually carried across microbatches
        emitted_counts: dict = {}
        for r in out:
            emitted_counts[r.user_id] = emitted_counts.get(r.user_id, 0) + 1
        assert max(emitted_counts.values()) > 1


class TestCheckpointRecovery:
    def test_resume_from_checkpoint_processes_only_new_files(self, spark):
        """The incremental-ingest contract: run to completion, add more
        input files, resume with the SAME checkpoint — the second run
        starts from the recorded file index (no reprocessing) and the
        combined result equals a batch query over everything."""
        import os
        import shutil

        src = tempfile.mkdtemp(prefix="ckpt_src_")
        ckpt = tempfile.mkdtemp(prefix="ckpt_state_")
        full = spark.read.parquet(f"{SF}/events.parquet").repartition(4)
        parts = tempfile.mkdtemp(prefix="ckpt_parts_")
        full.write.mode("overwrite").parquet(parts)
        files = sorted(
            f for f in os.listdir(parts) if f.endswith(".parquet")
        )
        assert len(files) == 4

        def run_once():
            ev = _stream(spark, src)
            q = (
                hourly_rollup(ev, watermark="100 days")
                .writeStream.format("memory")
                .queryName("ckpt_hourly")
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            n_batches = len(q.recentProgress)
            q.stop()
            return n_batches

        # phase 1: two files
        for f in files[:2]:
            shutil.copy(os.path.join(parts, f), os.path.join(src, f))
        run_once()
        partial = {
            (r.hour_start, r.event_type): r.n_events
            for r in spark.table("ckpt_hourly").collect()
        }
        # phase 2: add the remaining files, resume from the same checkpoint
        for f in files[2:]:
            shutil.copy(os.path.join(parts, f), os.path.join(src, f))
        run_once()
        resumed = {
            (r.hour_start, r.event_type): r.n_events
            for r in spark.table("ckpt_hourly").collect()
        }

        batch = (
            spark.read.parquet(parts)
            .groupBy(
                F.window(ntz_as_utc_instant("ts"), "1 hour").alias("w"),
                "event_type",
            )
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("h"), "event_type", "n")
        )
        want = {(r.h, r.event_type): r.n for r in batch.collect()}
        assert resumed == want
        # phase 1 must have been a strict subset (less data processed)
        assert sum(partial.values()) < sum(resumed.values())


class TestStatefulEwmaAcrossBatches:
    def test_ewma_fold_continues_across_microbatches(self, spark):
        """Per-key EWMA state must continue the fold across batch
        boundaries: input split into 3 time-ordered files, one file per
        trigger, final emitted value per user == the single-pass batch
        fold over the full ordered history."""
        import os
        import tempfile

        import pyarrow.parquet as pq

        from aristoteles_spark.streaming.events import user_ewma_stateful

        src = pq.read_table(f"{SF}/events.parquet").sort_by(
            [("ts", "ascending"), ("event_id", "ascending")]
        )
        d = tempfile.mkdtemp(prefix="ewma_split_")
        n = src.num_rows
        for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]):
            pq.write_table(src.slice(lo, hi - lo), os.path.join(d, f"part-{i}.parquet"))
            os.utime(os.path.join(d, f"part-{i}.parquet"), (1000 + i, 1000 + i))

        ev = _stream(spark, d)
        out = run_available_now(
            user_ewma_stateful(ev), "mb_ewma", "append"
        )
        # append mode re-emits a user's row each batch it appears in;
        # the LAST emission carries the final state
        got = {}
        for r in out.collect():
            prev = got.get(r["user_id"])
            if prev is None or r["n"] >= prev[0]:
                got[r["user_id"]] = (r["n"], r["ewma"])

        batch = spark.read.parquet(f"{SF}/events.parquet").where(
            "value IS NOT NULL"
        )
        want = {}
        rows = sorted(
            batch.select("user_id", "ts", "event_id", "value").collect(),
            key=lambda r: (r["ts"], r["event_id"]),
        )
        for r in rows:
            n0, e0 = want.get(r["user_id"], (0, None))
            e1 = r["value"] if e0 is None else e0 * 0.875 + r["value"] * 0.125
            want[r["user_id"]] = (n0 + 1, e1)
        assert set(got) == set(want)
        for u in want:
            assert got[u][0] == want[u][0], u
            assert got[u][1] == want[u][1], u


    def test_regressed_event_time_raises(self, spark):
        """A microbatch whose first event is older than the state's last
        event must fail loudly, not fold out of order: the later half of
        the history is fed first."""
        import os
        import tempfile

        import pyarrow.parquet as pq

        from aristoteles_spark.streaming.events import user_ewma_stateful

        src = pq.read_table(f"{SF}/events.parquet").sort_by(
            [("ts", "ascending"), ("event_id", "ascending")]
        )
        d = tempfile.mkdtemp(prefix="ewma_regressed_")
        n = src.num_rows
        for i, (lo, hi) in enumerate([(n // 2, n), (0, n // 2)]):
            pq.write_table(src.slice(lo, hi - lo), os.path.join(d, f"part-{i}.parquet"))
            os.utime(os.path.join(d, f"part-{i}.parquet"), (1000 + i, 1000 + i))

        with pytest.raises(Exception, match="event time regressed across microbatches"):
            run_available_now(
                user_ewma_stateful(_stream(spark, d)), "mb_ewma_regressed", "append"
            )


class TestLeftOuterFlush:
    def test_unmatched_clicks_emit_nulls_and_cover_all_clicks(self, spark):
        """Every click must appear (matched or null-extended) once the
        flush sentinels advance the watermark past all real windows."""
        from aristoteles_spark.queries.streaming import q_stream_left_outer

        out = q_stream_left_outer(spark, SF).collect()
        clicks = (
            spark.read.parquet(f"{SF}/events.parquet")
            .where("event_type = 'click'")
            .count()
        )
        assert len({r.click_id for r in out}) == clicks
        unmatched = [r for r in out if r.purchase_id is None]
        matched = [r for r in out if r.purchase_id is not None]
        assert unmatched and matched  # outer rows actually flushed
        # a click is either matched or unmatched, never both
        assert {r.click_id for r in unmatched}.isdisjoint(
            {r.click_id for r in matched}
        )


class TestPartialMvReplay:
    def test_full_replay_is_idempotent(self, spark):
        """Re-running the whole stream (fresh checkpoint, same staging
        dir, no cleanup) must overwrite each batch's partials in place —
        the merged view stays identical, proving batch replay can never
        double-count."""
        import os
        import shutil

        from pyspark.sql import functions as F

        from aristoteles_spark.streaming.events import (
            run_partial_mv,
            stream_events_split,
        )

        out_dir = "/tmp/test_mv_replay"
        shutil.rmtree(out_dir, ignore_errors=True)

        def run_once():
            ev = stream_events_split(spark, SF, "mvtest")
            run_partial_mv(ev, out_dir)
            return (
                spark.read.option("recursiveFileLookup", "true")
                .parquet(out_dir)
                .groupBy("event_type", "d")
                .agg(
                    F.sum("n").cast("long").alias("n"),
                    F.sum("cents").cast("long").alias("cents"),
                )
                .orderBy("event_type", "d")
                .collect()
            )

        first = run_once()
        again = run_once()  # replay into the SAME staging dir
        assert first == again
        batch_dirs = [p for p in os.listdir(out_dir) if p.startswith("batch=")]
        assert len(batch_dirs) == 3  # one dir per microbatch, not six


class TestCdcUpsert:
    def test_final_table_independent_of_batch_split(self, spark, tmp_path):
        """The CDC-merged keyed table must equal the batch last-write-
        wins answer regardless of how the stream was microbatched (1
        file vs 4 files per trigger exercise different merge paths:
        create-only vs create+3 merges)."""
        from aristoteles_spark.streaming.events import (
            run_cdc_upsert,
            stream_events_split,
        )

        expected = (
            spark.read.parquet(f"{SF}/events.parquet")
            .filter(F.col("user_id").isNotNull())
            .groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "value")).alias("w"))
            .select(
                "user_id", F.col("w.ts").alias("ts"),
                F.col("w.value").alias("value"),
            )
        )
        exp_rows = sorted(
            (r.user_id, r.ts, r.value) for r in expected.collect()
        )
        for tag, n_files in (("cdc_t1", 1), ("cdc_t4", 4)):
            table = str(tmp_path / tag)
            ev = stream_events_split(spark, SF, tag, n_files=n_files)
            run_cdc_upsert(ev, table, n_buckets=4)
            got = spark.read.parquet(table).select(
                "user_id",
                F.col("ts").cast("timestamp_ntz").alias("ts"),
                "value",
            )
            rows = sorted((r.user_id, r.ts, r.value) for r in got.collect())
            assert rows == exp_rows, f"{tag}: CDC table != batch answer"

    def test_merge_rewrites_only_touched_buckets(self, spark, tmp_path):
        """Partition-scoped merge contract: a second batch touching one
        key leaves every other bucket's files untouched."""
        import os as _os

        from aristoteles_spark.sinks.merge import upsert_by_key

        table = str(tmp_path / "bucketed")
        base = spark.createDataFrame(
            [(i, float(i), i % 4) for i in range(40)],
            "user_id long, value double, bucket int",
        )
        base.write.mode("overwrite").partitionBy("bucket").parquet(table)

        def bucket_mtimes():
            out = {}
            for b in range(4):
                d = _os.path.join(table, f"bucket={b}")
                out[b] = max(
                    _os.path.getmtime(_os.path.join(d, f))
                    for f in _os.listdir(d)
                    if f.endswith(".parquet")
                )
            return out

        before = bucket_mtimes()
        upd = spark.createDataFrame(
            [(1, 99.0, 1)], "user_id long, value double, bucket int"
        )
        n = upsert_by_key(spark, table, upd, ["user_id"], "bucket")
        assert n == 1
        after = bucket_mtimes()
        assert after[1] > before[1]
        for b in (0, 2, 3):
            assert after[b] == before[b], f"bucket {b} was rewritten"
        got = (
            spark.read.parquet(table)
            .filter(F.col("user_id") == 1)
            .collect()
        )
        assert len(got) == 1 and got[0].value == 99.0


class TestStreamNeardup:
    def test_stream_probe_equals_batch_probe_across_microbatches(self, spark):
        """st13's core claim: the multi-microbatch streaming probe
        against the persisted banded index produces exactly the batch
        minhash_index_probe result, and genuinely ran >1 trigger."""
        from aristoteles_spark.functions.text import h32
        from aristoteles_spark.operators.dedup import minhash_index_probe
        from aristoteles_spark.queries.dedup import NDSPLIT_MOD
        from aristoteles_spark.queries.streaming import _stream_neardup_run
        from aristoteles_spark.sources.parquet_source import load_table

        result, n_bparts = _stream_neardup_run(spark, SF)
        got = {
            r.batch_doc: (r.n_matches, r.max_est_sim, r.is_novel)
            for r in result.collect()
        }
        # >1: the probe genuinely crossed trigger boundaries (2 since
        # round 5 — the per-doc result is split-independent, and each
        # extra trigger only adds fixed foreachBatch/commit overhead)
        assert n_bparts > 1, n_bparts

        d = load_table(spark, SF, "documents")
        is_batch = h32(F.col("doc_id").cast("string")) % NDSPLIT_MOD == 0
        m = minhash_index_probe(
            d.filter(~is_batch), d.filter(is_batch), threshold=0.5
        )
        per = {
            r.batch_doc: (r.n_matches, round(r.max_est_sim, 9))
            for r in m.groupBy("batch_doc")
            .agg(
                F.count("*").alias("n_matches"),
                F.max("est_sim").alias("max_est_sim"),
            )
            .collect()
        }
        batch_ids = {
            r.doc_id for r in d.filter(is_batch).select("doc_id").collect()
        }
        assert set(got) == batch_ids
        for doc, (n, mx, novel) in got.items():
            if doc in per:
                assert (n, round(mx, 9)) == per[doc] and novel == 0, doc
            else:
                assert (n, mx, novel) == (0, 0.0, 1), doc


class TestStagedInputCache:
    def test_split_input_staged_once_and_replays_identically(self, spark):
        """The staged-input cache must (a) return the SAME directory for
        identical (table, split-params) so a warm bench pass skips the
        rewrite, and (b) produce identical mtime-pinned files so a rerun's
        microbatch split — and with it every incremental result —
        replays exactly."""
        import os

        from aristoteles_spark.streaming.events import (
            stream_events_split,
            _STAGED_INPUTS,
        )

        stream_events_split(spark, SF, "cache_probe")
        key = ("split", os.path.realpath(SF), 3)
        assert key in _STAGED_INPUTS
        d1 = _STAGED_INPUTS[key]
        listing1 = sorted(
            (f, os.path.getmtime(os.path.join(d1, f)), os.path.getsize(os.path.join(d1, f)))
            for f in os.listdir(d1)
        )
        # second call, different tag, same params: reuses the directory
        stream_events_split(spark, SF, "cache_probe_2")
        assert _STAGED_INPUTS[key] == d1
        listing2 = sorted(
            (f, os.path.getmtime(os.path.join(d1, f)), os.path.getsize(os.path.join(d1, f)))
            for f in os.listdir(d1)
        )
        assert listing1 == listing2  # untouched: same files, same mtimes
        # different params key a DIFFERENT directory (no accidental share)
        stream_events_split(spark, SF, "cache_probe_5", n_files=5)
        key5 = ("split", os.path.realpath(SF), 5)
        assert _STAGED_INPUTS[key5] != d1


class TestOperatorCacheRelease:
    def test_pair_operators_leave_no_persisted_intermediates(self, spark):
        """The dedup pair/edge operators must release their corpus-sized
        persisted intermediates once the compact result materializes —
        in a long shared session with periodic GC disabled, leaked
        blocks accumulate across hundreds of queries (the round-3
        graph-family drift)."""
        from aristoteles_spark.operators.dedup import (
            minhash_cluster_edges,
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
            simhash_pairs,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        jsc = spark.sparkContext._jsc.sc()

        def n_cached():
            # getPersistentRDDs covers persist() AND localCheckpoint()
            # storage; only blocks from frames we still hold may remain
            return jsc.getPersistentRDDs().size()

        for op in (
            lambda: ngram_jaccard_pairs(docs, threshold=0.8),
            lambda: minhash_lsh_pairs(docs),
            lambda: simhash_pairs(docs),
            lambda: minhash_cluster_edges(docs),
        ):
            before = n_cached()
            out = op()
            out.collect()
            after_collect = n_cached()
            # the operator may keep exactly ONE entry alive: the
            # checkpointed result we still reference. Intermediates
            # (signatures, token tables, sig-pair barriers) must be gone.
            assert after_collect - before <= 1, (
                f"operator leaked {after_collect - before} cached frames"
            )
            del out

"""qc3/qc4 — distributed hard-sigmoid logistic-regression trainer
pinned against an exact pure-Python replica of the fixed-point update
rule (the km1/BPE discipline: the engine must reproduce the published
algorithm bit-for-bit, not approximately)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from aristoteles_spark.operators.logreg import (
    MARGIN_DIV,
    SCALE,
    _pack,
    logreg_train,
    margin,
)


def ref_train(docs, n_buckets, iters, lr_div):
    """Pure-Python replica: docs = [(bkts, nf, y)]."""
    w = [0] * n_buckets
    n = len(docs)
    for _ in range(iters):
        g = [0] * n_buckets
        for bk, nf, y in docs:
            z = sum(w[b] for b in bk)
            p = max(
                0,
                min(SCALE, SCALE // 2 + math.floor(z / (MARGIN_DIV * 1.0 * nf))),
            )
            e = p - SCALE * y
            for b in bk:
                g[b] += math.floor(e / (1.0 * nf))
        if n:
            w = [wi - math.floor(gi * 1.0 / (n * lr_div)) for wi, gi in zip(w, g)]
    return w


def _to_df(spark, docs):
    return spark.createDataFrame(
        [(bk, nf, y) for bk, nf, y in docs],
        "bkts array<long>, nf long, y int",
    )


class TestLogregTrain:
    B = 8

    def _docs(self):
        # a separable toy problem: bucket 1 marks positives, bucket 2
        # negatives, buckets 0/3 are noise shared by both classes;
        # repeated occurrences exercise the term-frequency weighting
        return [
            ([0, 1, 1, 3], 4, 1),
            ([1, 1, 0], 3, 1),
            ([3, 1], 2, 1),
            ([0, 2, 2, 3], 4, 0),
            ([2, 0], 2, 0),
            ([3, 2, 2, 2, 0], 5, 0),
        ]

    def test_weights_match_pure_python_reference(self, spark):
        docs = self._docs()
        for iters in (1, 2, 3):
            got = {
                r.b: r.w
                for r in logreg_train(
                    _to_df(spark, docs), n_buckets=self.B, iters=iters,
                    lr_div=1,
                ).collect()
            }
            exp = ref_train(docs, self.B, iters, 1)
            assert got == {b: w for b, w in enumerate(exp)}, f"iters={iters}"

    def test_lr_div_matches_reference(self, spark):
        docs = self._docs()
        got = {
            r.b: r.w
            for r in logreg_train(
                _to_df(spark, docs), n_buckets=self.B, iters=2, lr_div=4
            ).collect()
        }
        exp = ref_train(docs, self.B, 2, 4)
        assert got == {b: w for b, w in enumerate(exp)}

    def test_learns_the_separable_problem(self, spark):
        docs = self._docs()
        w = logreg_train(_to_df(spark, docs), n_buckets=self.B, iters=3)
        scored = _to_df(spark, docs).join(_pack(w)).select(
            "y",
            (margin(F.col("bkts"), F.col("warr")) > 0).cast("int").alias("p"),
        )
        rows = scored.collect()
        assert all(r.p == r.y for r in rows)  # 100% on the toy problem

    def test_empty_input_returns_zero_weights(self, spark):
        empty = spark.createDataFrame([], "bkts array<long>, nf long, y int")
        rows = logreg_train(empty, n_buckets=self.B, iters=3).collect()
        assert len(rows) == self.B
        assert all(r.w == 0 for r in rows)

    def test_all_buckets_present_even_if_unseen(self, spark):
        # only buckets 0 and 1 ever occur; the weight table must still
        # cover the full bucket space (dense, serving-ready)
        docs = [([0, 1], 2, 1), ([0], 1, 0)]
        rows = logreg_train(
            _to_df(spark, docs), n_buckets=self.B, iters=2
        ).collect()
        assert sorted(r.b for r in rows) == list(range(self.B))
        exp = ref_train(docs, self.B, 2, 1)
        assert {r.b: r.w for r in rows} == {b: w for b, w in enumerate(exp)}


class TestLogregQueries:
    def test_qc4_accuracy_beats_chance_at_sf0001(self, spark):
        from aristoteles_spark.queries.quality import q_logreg_accuracy

        row = q_logreg_accuracy(spark, "/root/testdata/sf0.001").collect()[0]
        assert row.n_docs > 0
        # the label is ~balanced by construction; require real learning
        assert row.acc_ppm > 600_000, row

    def test_qc3_weight_table_shape(self, spark):
        from aristoteles_spark.queries.quality import (
            LOGREG_BUCKETS,
            q_logreg_train,
        )

        rows = q_logreg_train(spark, "/root/testdata/sf0.001").collect()
        assert len(rows) == LOGREG_BUCKETS
        assert any(r.w_q != 0 for r in rows)  # it trained on something

    def test_feature_frame_is_one_shared_checkpoint(self, spark):
        # qc3-5 train over this frame without a persist of their own:
        # every GD iteration re-reads the memoized checkpoint, so the
        # tokenize/hash/label pass runs once per session (the plan audit
        # bypasses the memo and cannot see this)
        from aristoteles_spark.queries.quality import _logreg_feats_shared
        from tests.conftest import SF_SMOKE

        feats = _logreg_feats_shared(spark, SF_SMOKE)
        assert feats is _logreg_feats_shared(spark, SF_SMOKE)
        plan = feats._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan and "parquet" not in plan.lower(), plan

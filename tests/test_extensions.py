"""Unit tests for the extension operators: similarity search, multimodal
binary columns, streaming helpers. The oracle harness covers end-to-end
values at sf0.01; these pin operator-level semantics on tiny frames."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from aristoteles_spark.multimodal.codecs import decode_image, fake_decode_meta
from aristoteles_spark.multimodal.features import (
    FEATURE_SCHEMA,
    decode_features,
    with_payload,
)
from aristoteles_spark.operators.similarity import (
    dot,
    hyperplanes,
    ivf_cell,
    ivf_probe_cells,
    knn_brute,
    knn_ivf,
    l2_norm,
    lsh_signature,
    neardup_pairs,
)


def _vec_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


class TestSimilarity:
    def test_dot_and_norm_match_python(self, spark):
        a, b = [1.0, 2.0, 3.0], [4.0, -5.0, 6.0]
        df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
        got = df.select(
            dot(F.col("a"), F.col("b")).alias("d"), l2_norm(F.col("a")).alias("n")
        ).first()
        assert got.d == pytest.approx(1 * 4 - 2 * 5 + 3 * 6)
        assert got.n == pytest.approx(math.sqrt(14))

    def test_knn_brute_exact_neighbors(self, spark):
        # 4 points on axes: nearest neighbor of each is its scaled twin
        vecs = [[1, 0], [2, 0], [0, 1], [0, 3]]
        df = _vec_df(spark, vecs)
        out = knn_brute(df, df.filter(F.col("vec_id") == 0), k=2).collect()
        assert [(r.neighbor_id, round(r.cos_sim, 6)) for r in out] == [(1, 1.0), (2, 0.0)]

    def test_knn_excludes_self(self, spark):
        df = _vec_df(spark, [[1, 1], [1, 1], [1, 0]])
        out = knn_brute(df, df, k=3).collect()
        assert all(r.query_id != r.neighbor_id for r in out)

    def test_lsh_signature_deterministic_and_bounded(self, spark):
        planes = hyperplanes(2, 4)
        df = _vec_df(spark, [[1, 0], [1, 0], [-1, 0]])
        rows = df.select(lsh_signature(F.col("embedding"), planes).alias("s")).collect()
        assert rows[0].s == rows[1].s  # identical vectors, identical bucket
        assert all(0 <= r.s < 16 for r in rows)

    def test_neardup_finds_identical_pair_once(self, spark):
        planes = hyperplanes(2, 4)
        df = _vec_df(spark, [[1.0, 2.0], [1.0, 2.0], [5.0, -3.0]])
        out = neardup_pairs(df, planes, threshold=0.999).collect()
        assert [(r.vec_a, r.vec_b) for r in out] == [(0, 1)]
        assert out[0].cos_sim == pytest.approx(1.0)

    def test_ivf_cell_assignment_and_probe_order(self, spark):
        # two orthogonal centroids; each point lands in the nearer cell,
        # and probe order is nearest-first
        cents = [(10, [1.0, 0.0]), (20, [0.0, 1.0])]
        df = _vec_df(spark, [[2.0, 0.1], [0.1, 5.0]])
        got = df.select(
            "vec_id",
            ivf_cell(F.col("embedding"), l2_norm(F.col("embedding")), cents).alias("c"),
            ivf_probe_cells(
                F.col("embedding"), l2_norm(F.col("embedding")), cents, 2
            ).alias("p"),
        ).collect()
        by_id = {r.vec_id: r for r in got}
        assert by_id[0].c == 10 and by_id[0].p == [10, 20]
        assert by_id[1].c == 20 and by_id[1].p == [20, 10]

    def test_knn_ivf_matches_brute_when_probing_all_cells(self, spark):
        vecs = [[1, 0], [2, 0.1], [0, 1], [0.1, 3], [1, 1], [-1, 0.5]]
        df = _vec_df(spark, vecs)
        cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
        q = df.filter(F.col("vec_id") < 2)
        exact = {
            (r.query_id, r.neighbor_id) for r in knn_brute(df, q, k=3).collect()
        }
        ivf = {
            (r.query_id, r.neighbor_id)
            for r in knn_ivf(df, q, cents, k=3, nprobe=2).collect()
        }
        assert ivf == exact


class TestMultimodal:
    def test_fake_decode_matches_md5_formula(self):
        payload = b"hello multimodal"
        h = hashlib.md5(payload).hexdigest()
        w, hgt, c, m = fake_decode_meta(payload)
        assert w == 1 + int(h[0:4], 16) % 1024
        assert hgt == 1 + int(h[4:8], 16) % 1024
        assert c == 1 + int(h[8], 16) % 4
        assert m == pytest.approx(int(h[9:13], 16) / 65535.0)

    def test_decode_features_schema_and_values(self, spark):
        df = with_payload(
            spark.createDataFrame([(1, "abc"), (2, "defg")], "doc_id long, text string")
        )
        out = decode_features(df)
        assert out.schema == FEATURE_SCHEMA
        rows = {r.doc_id: r for r in out.collect()}
        assert rows[1].width == fake_decode_meta(b"abc")[0]
        assert rows[2].mean_px == pytest.approx(fake_decode_meta(b"defg")[3])

    def test_real_decode_is_stubbed(self):
        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG")


class TestConnectedComponents:
    def _run(self, spark, nodes, edges):
        from aristoteles_spark.operators.graph import connected_components

        n = spark.createDataFrame([(x,) for x in nodes], "doc long")
        e = spark.createDataFrame(
            [(a, b) for a, b in edges] or [(None, None)], "doc_a long, doc_b long"
        )
        if not edges:
            e = e.filter("doc_a is not null")
        return {r.node: r.cluster for r in connected_components(n, e).collect()}

    def test_chain_collapses_to_min(self, spark):
        # 10-node path: deep diameter exercises pointer halving
        got = self._run(spark, range(1, 11), [(i, i + 1) for i in range(1, 10)])
        assert got == {i: 1 for i in range(1, 11)}

    def test_isolated_nodes_self_label(self, spark):
        got = self._run(spark, [1, 2, 3, 4], [(3, 4)])
        assert got == {1: 1, 2: 2, 3: 3, 4: 3}

    def test_two_components_and_edge_direction(self, spark):
        got = self._run(spark, [1, 2, 3, 4, 5, 6], [(2, 1), (5, 6), (4, 5)])
        assert got == {1: 1, 2: 1, 3: 3, 4: 4, 5: 4, 6: 4}

    def test_no_edges(self, spark):
        got = self._run(spark, [7, 8], [])
        assert got == {7: 7, 8: 8}


class TestAnnRecall:
    def test_recall_at_least_coverage_and_deterministic(self, spark):
        """ANN quality floor: recall@k must be >= the fraction of the
        corpus examined (an ANN that loses to random scanning is broken),
        and results must be run-to-run deterministic. On these synthetic
        near-uniform embeddings recall ~= coverage is the expected ceiling
        too; clustered real data is where IVF/LSH beat the floor."""
        from aristoteles_spark.queries.similarity import (
            CENT_MOD,
            CENT_OFF,
            NPROBE,
            q_knn_brute,
            q_knn_ivf,
            q_knn_lsh,
        )

        sf = "/root/testdata/sf0.01"
        brute = {(r.query_id, r.neighbor_id) for r in q_knn_brute(spark, sf).collect()}
        ivf1 = {(r.query_id, r.neighbor_id) for r in q_knn_ivf(spark, sf).collect()}
        ivf2 = {(r.query_id, r.neighbor_id) for r in q_knn_ivf(spark, sf).collect()}
        assert ivf1 == ivf2  # deterministic
        n_emb = spark.read.parquet(f"{sf}/embeddings.parquet").count()
        n_cells = sum(
            1 for i in range(n_emb) if i % CENT_MOD == CENT_OFF
        )
        coverage = NPROBE / n_cells
        recall_ivf = len(ivf1 & brute) / len(brute)
        assert recall_ivf >= coverage, (recall_ivf, coverage)

        lsh = {(r.query_id, r.neighbor_id) for r in q_knn_lsh(spark, sf).collect()}
        recall_lsh = len(lsh & brute) / len(brute)
        # single-table LSH examines ~1/2^planes of the corpus per query
        assert recall_lsh >= 1 / 64, recall_lsh

    def test_ivf_quantizer_and_query_budget_scale_constant(self, spark):
        """VERDICT r5: the IVF coarse quantizer and the sim4 query set
        must be constants of the ALGORITHM, not the data size
        (clustering.py's SEED_CAP rule). Doubling the corpus must not
        grow either — otherwise the driver collect, the UDF closure and
        the per-row assignment all scale with data (O(n^2/101) total)."""
        from aristoteles_spark.queries.similarity import (
            CENT_CAP,
            CENT_MOD,
            IVF_EVAL_QUERIES,
            _hash_query_ids,
            _ivf_centroids,
        )

        def synth(n):
            return spark.range(n).select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(64)),
                    lambda i: (F.col("id") * i % 97).cast("float") / 97,
                ).alias("embedding"),
            )

        cap = CENT_CAP // CENT_MOD + 1
        c1 = _ivf_centroids(synth(10_000))
        c2 = _ivf_centroids(synth(20_000))
        assert [c for c, _ in c1] == [c for c, _ in c2]  # identical set
        assert len(c1) <= cap
        q1 = _hash_query_ids(synth(10_000), IVF_EVAL_QUERIES).count()
        q2 = _hash_query_ids(synth(20_000), IVF_EVAL_QUERIES).count()
        assert q1 == q2 == IVF_EVAL_QUERIES


class TestFusedPqTrainer:
    def test_fused_pq_codebooks_identical(self, spark):
        """Round 9: the one-pass fused subspace trainer must emit
        exactly the codebooks the per-subspace
        pack_centroids(update(assign(...))) loop trained."""
        from aristoteles_spark.operators.clustering import (
            assign,
            pack_centroids,
            quantize,
            update,
        )
        from aristoteles_spark.queries.clustering import (
            N_SUB,
            SUB_DIM,
            _fused_pq_codebooks,
            _init_cents,
        )

        v = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        vq = v.select("vec_id", quantize(F.col("embedding")).alias("xq"))
        mod, off, cap = 7, 1, 10_000  # denser than pq1's defaults
        loop = set()
        for s in range(N_SUB):
            sub = vq.select(
                "vec_id", F.slice("xq", s * SUB_DIM + 1, SUB_DIM).alias("xq")
            )
            seeds = _init_cents(sub, mod, off, cap)
            for r in pack_centroids(update(assign(sub, seeds))).collect():
                loop.add((s, r.cid, tuple(r.cq)))
        fused = {
            (r.sub, r.cid, tuple(r.cq))
            for r in _fused_pq_codebooks(vq, mod, off, cap).collect()
        }
        assert fused == loop and len(fused) > 0


class TestSharedKnnTruth:
    def test_truth_slices_match_knn_brute(self, spark):
        """Round 10 (VERDICT r9 item 6): both consumers' slices of the
        session-shared exact truth table must be bit-identical to the
        knn_brute call each replaced — sim6's (rank<=K) truth set and
        ir2's (rank<=LEG_K) ranked vector leg."""
        from pyspark.sql import Window

        from aristoteles_spark.queries.retrieval import (
            LEG_K,
            ir2_query_vec_ids,
        )
        from aristoteles_spark.queries.similarity import (
            ANN_EVAL_QUERIES,
            K,
            _hash_query_ids,
            _load,
            exact_knn_truth,
        )

        sf = "/root/testdata/sf0.001"
        v = _load(spark, sf)
        truth = exact_knn_truth(spark, sf)

        q6 = v.join(F.broadcast(_hash_query_ids(v, ANN_EVAL_QUERIES)), "vec_id")
        direct6 = {
            (r.query_id, r.neighbor_id)
            for r in knn_brute(v, q6, k=K).collect()
        }
        slice6 = {
            (r.query_id, r.neighbor_id)
            for r in truth.join(
                F.broadcast(q6.select(F.col("vec_id").alias("query_id"))),
                "query_id",
            )
            .filter(F.col("rank") <= K)
            .collect()
        }
        assert slice6 == direct6 and len(direct6) > 0

        qi = v.join(F.broadcast(ir2_query_vec_ids(spark, sf)), "vec_id")
        wv = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id").asc()
        )
        direct_i = {
            (r.query_id, r.neighbor_id, r.rv)
            for r in knn_brute(v, qi, k=LEG_K)
            .withColumn("rv", F.row_number().over(wv))
            .collect()
        }
        slice_i = {
            (r.query_id, r.neighbor_id, r.rank)
            for r in truth.join(
                F.broadcast(qi.select(F.col("vec_id").alias("query_id"))),
                "query_id",
            )
            .filter(F.col("rank") <= LEG_K)
            .collect()
        }
        assert slice_i == direct_i and len(direct_i) > 0


class TestAdaptiveLsh:
    def test_banded_equijoin_matches_allpairs(self, spark):
        """The two physical strategies (all-pairs over distinct sigs vs
        banded equi-join) must produce identical pairs."""
        from aristoteles_spark.operators.dedup import minhash_lsh_pairs

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        kw = dict(num_hashes=16, bands=4, threshold=0.5)
        allpairs = {
            (r.doc_a, r.doc_b, round(r.est_sim, 9))
            for r in minhash_lsh_pairs(d, **kw).collect()
        }
        banded = {
            (r.doc_a, r.doc_b, round(r.est_sim, 9))
            for r in minhash_lsh_pairs(d, max_allpairs_sigs=0, **kw).collect()
        }
        assert banded == allpairs and len(allpairs) > 0

    def test_precomputed_sigs_identical(self, spark):
        """Round 9: every minhash consumer may pass a precomputed
        signature frame (the session-shared signature table). The sigs=
        route must be value-identical to in-operator signing, including
        for FILTERED slices (signatures are per-row pure)."""
        from pyspark.sql import functions as F

        from aristoteles_spark.operators.dedup import (
            banded_index_grouped,
            minhash_lsh_pairs,
            minhash_signatures,
        )

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        kw = dict(num_hashes=16, bands=4, threshold=0.5)
        sigs = minhash_signatures(d, num_hashes=16)
        direct = {
            (r.doc_a, r.doc_b, round(r.est_sim, 9))
            for r in minhash_lsh_pairs(d, **kw).collect()
        }
        via_sigs = {
            (r.doc_a, r.doc_b, round(r.est_sim, 9))
            for r in minhash_lsh_pairs(d, sigs=sigs, **kw).collect()
        }
        assert via_sigs == direct and len(direct) > 0

        # filtered-slice equivalence (nd1/xm1's pattern): signing the
        # subset == slicing the full signature table
        subset = d.filter(F.col("doc_id") % 3 == 0)
        a = {
            tuple(r)
            for r in banded_index_grouped(subset, num_hashes=16, bands=4)
            .select("band", "digest", "cnt_i")
            .collect()
        }
        b = {
            tuple(r)
            for r in banded_index_grouped(
                subset,
                num_hashes=16,
                bands=4,
                sigs=sigs.filter(F.col("doc") % 3 == 0),
            )
            .select("band", "digest", "cnt_i")
            .collect()
        }
        assert a == b and len(a) > 0


class TestAdaptiveJaccard:
    def test_prefix_index_path_matches_bitset(self, spark):
        """The large-vocab AllPairs prefix-index plan must produce the
        same exact-Jaccard pairs as the small-vocab bitset plan."""
        from aristoteles_spark.operators.dedup import ngram_jaccard_pairs

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        bitset = {
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in ngram_jaccard_pairs(d, threshold=0.6).collect()
        }
        index = {
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in ngram_jaccard_pairs(
                d, threshold=0.6, dict_bitmap_max_vocab=0
            ).collect()
        }
        assert index == bitset and len(bitset) > 0

    def test_set_prefix_path_matches_set_allpairs(self, spark):
        """Within the bitset plan, the distinct-set AllPairs prefix
        equi-join (taken when |distinct sets| > allpairs_set_cap — the
        round-4 100x catch: the vocab gate alone does not bound the set
        count) must produce the same pairs as the distinct-set cartesian
        compare."""
        from aristoteles_spark.operators.dedup import ngram_jaccard_pairs

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        cartesian = {
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in ngram_jaccard_pairs(d, threshold=0.6).collect()
        }
        prefix = {
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in ngram_jaccard_pairs(
                d, threshold=0.6, allpairs_set_cap=0
            ).collect()
        }
        assert prefix == cartesian and len(cartesian) > 0

    def test_set_prefix_fallback_matches_gather(self, spark):
        """The prefix branch has two verify strategies (round 5): the
        broadcast-dictionary Arrow gather kernel (default) and the
        mask-carrying join fallback for dictionaries past the broadcast
        gate. Forcing the fallback (gather_dict_max_bytes=0) must
        reproduce the gather path's pairs exactly."""
        from aristoteles_spark.operators.dedup import ngram_jaccard_pairs

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        gather = {
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in ngram_jaccard_pairs(
                d, threshold=0.6, allpairs_set_cap=0
            ).collect()
        }
        fallback = {
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in ngram_jaccard_pairs(
                d, threshold=0.6, allpairs_set_cap=0, gather_dict_max_bytes=0
            ).collect()
        }
        assert fallback == gather and len(gather) > 0

    def test_set_prefix_respects_max_token_freq(self, spark):
        """ADVICE r4 (medium): with max_token_freq set, the set-level
        prefix branch must rarity-order the FILTERED token set. The
        corpus below is adversarial: tokens 'aa'/'bb' exceed the doc-
        frequency cap (8 docs > 5) but appear in only two DISTINCT sets
        each, so they sort ahead of the kept shared tokens — sliced
        from the unfiltered array they would displace 'b' (the one
        shared prefix token of every qualifying A-B pair) out of both
        prefixes and silently drop the J=0.6 pairs."""
        from aristoteles_spark.operators.dedup import ngram_jaccard_pairs

        rows = (
            [(i, "aa b c d x") for i in (1, 2)]
            + [(i, "bb b c d y") for i in (3, 4)]
            + [(i, "aa") for i in range(5, 11)]
            + [(i, "bb") for i in range(11, 17)]
        )
        d = spark.createDataFrame(rows, "doc_id long, text string")
        kw = dict(threshold=0.6, max_token_freq=5)
        expected = {
            (1, 2, 1.0),
            (3, 4, 1.0),
            (1, 3, 0.6),
            (1, 4, 0.6),
            (2, 3, 0.6),
            (2, 4, 0.6),
        }
        for extra in (
            {},  # bitset cartesian branch
            {"allpairs_set_cap": 0},  # bitset prefix branch (the fix)
            {"dict_bitmap_max_vocab": 0},  # doc-level prefix path
        ):
            got = {
                (r.doc_a, r.doc_b, round(r.jaccard, 9))
                for r in ngram_jaccard_pairs(d, **kw, **extra).collect()
            }
            assert got == expected, extra

    def test_null_text_stays_pairless_everywhere(self, spark):
        """ADVICE r5 (medium): a null text row must stay silently
        pairless on every strategy branch — the round-5 Arrow encode
        iterated the token array without a null guard and crashed the
        whole query where the old aggregate() HOF null-propagated."""
        from aristoteles_spark.operators.dedup import ngram_jaccard_pairs

        rows = [
            (1, "a b c d"),
            (2, "a b c d"),
            (3, None),
            (4, "a b c e"),
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        expected = {(1, 2, 1.0), (1, 4, 0.6), (2, 4, 0.6)}
        for extra in (
            {},  # bitset cartesian (Arrow encode feeds it too)
            {"allpairs_set_cap": 0},  # bitset prefix + gather kernel
            {"allpairs_set_cap": 0, "gather_dict_max_bytes": 0},  # fallback
            {"dict_bitmap_max_vocab": 0},  # doc-level prefix path
        ):
            got = {
                (r.doc_a, r.doc_b, round(r.jaccard, 9))
                for r in ngram_jaccard_pairs(d, threshold=0.6, **extra).collect()
            }
            assert got == expected, extra


class TestIndexCompaction:
    def test_compacted_equals_fresh_build_bit_exact(self, spark):
        """xm1's contract at the OPERATOR level: compacting N daily
        banded indexes (latest version wins, tombstones dropped) must
        reproduce a fresh minhash_banded() build of the live corpus
        bit-exactly — including the xxhash64 band digests the SQL
        oracle cannot express."""
        from aristoteles_spark.operators.dedup import (
            compact_banded_indexes,
            minhash_banded,
        )
        from aristoteles_spark.queries.dedup import BANDS, NUM_HASHES
        from aristoteles_spark.queries.maintenance import (
            N_DAYS,
            REINGEST_MOD,
            REINGEST_OFF,
            TOMB_MOD,
            TOMB_OFF,
        )

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        day = F.col("doc_id") % N_DAYS
        revised = (F.col("doc_id") % REINGEST_MOD == REINGEST_OFF) & (
            day != N_DAYS - 1
        )
        dailies = []
        for i in range(N_DAYS):
            batch = d.filter(day == i).select("doc_id", "text")
            if i == N_DAYS - 1:
                batch = batch.unionByName(
                    d.filter(revised).select(
                        "doc_id",
                        F.concat("text", F.lit(" rev7")).alias("text"),
                    )
                )
            dailies.append(
                minhash_banded(
                    batch, "i", num_hashes=NUM_HASHES, bands=BANDS
                ).withColumn("ver", F.lit(i))
            )
        tombs = d.filter(F.col("doc_id") % TOMB_MOD == TOMB_OFF).select(
            F.col("doc_id").alias("doc")
        )
        compacted = {
            (r.doc, r.band, r.digest, tuple(r.sig))
            for r in compact_banded_indexes(dailies, tombs).collect()
        }

        live = d.filter(F.col("doc_id") % TOMB_MOD != TOMB_OFF).select(
            "doc_id",
            F.when(revised, F.concat("text", F.lit(" rev7")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        fresh = {
            (r.doc_i, r.band, r.digest, tuple(r.sig_i))
            for r in minhash_banded(
                live, "i", num_hashes=NUM_HASHES, bands=BANDS
            ).collect()
        }
        assert compacted == fresh and len(fresh) > 0
        # the slices genuinely exercise every compaction rule
        n = d.count()
        assert d.filter(revised).count() > 0
        assert tombs.count() > 0
        assert len(fresh) < n * BANDS  # tombstones actually dropped rows

    def test_empty_dailies_list_is_a_noop(self, spark):
        """ADVICE r6: zero daily indexes (an empty LIST, not just empty
        frames) must compact to an empty index with the contract schema
        instead of raising IndexError."""
        from aristoteles_spark.operators.dedup import compact_banded_indexes

        tombs = spark.createDataFrame([(1,)], "doc long")
        out = compact_banded_indexes([], tombs)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == [
            "doc",
            "band",
            "digest",
            "sig",
        ]


class TestAdaptiveSimhash:
    def test_block_equijoin_matches_allpairs(self, spark):
        from aristoteles_spark.operators.dedup import simhash_pairs

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        allpairs = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_pairs(d, max_hamming=3).collect()
        }
        blocked = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_pairs(d, max_hamming=3, max_allpairs_sketches=0).collect()
        }
        assert blocked == allpairs and len(allpairs) > 0


class TestVectorQuantization:
    def test_quantize_matches_numpy_and_is_bounded(self, spark):
        import numpy as np

        from aristoteles_spark.queries.arrays import q_vector_quantize

        out = q_vector_quantize(spark, "/root/testdata/sf0.001").collect()
        raw = {
            r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in spark.read.parquet(
                "/root/testdata/sf0.001/embeddings.parquet"
            ).collect()
        }
        assert len(out) == len(raw) > 0
        for r in out:
            x = raw[r.vec_id]
            m = np.abs(x).max()
            q = np.asarray(r.qvec)
            assert q.min() >= -127 and q.max() <= 127
            if m > 0:
                expect = np.floor(127.0 * x / m + 0.5).astype(int)
                assert (q == expect).all()
                # the max-magnitude element saturates to exactly +-127
                assert np.abs(q).max() == 127
                assert abs(r.scale - 127.0 / m) < 1e-12

    def test_projection_matches_numpy_dot(self, spark):
        import numpy as np

        from aristoteles_spark.queries.arrays import (
            _PROJ_COEFFS,
            _quantized,
            q_random_projection,
        )
        from aristoteles_spark.sources.parquet_source import load_table

        sf = "/root/testdata/sf0.001"
        qvecs = {
            r.vec_id: np.asarray(r.qvec, dtype=np.int64)
            for r in _quantized(load_table(spark, sf, "embeddings")).collect()
        }
        C = np.asarray(_PROJ_COEFFS, dtype=np.int64)
        for r in q_random_projection(spark, sf).collect():
            p = C @ qvecs[r.vec_id]
            assert [r.p0, r.p1, r.p2, r.p3] == p.tolist()
            assert r.bucket == sum(1 << j for j in range(4) if p[j] > 0)
            assert 0 <= r.bucket < 16


class TestClusterEdgeContraction:
    def test_contracted_edges_same_components_as_full_pairs(self, spark):
        from pyspark.sql import functions as F

        from aristoteles_spark.operators.dedup import (
            minhash_cluster_edges,
            minhash_lsh_pairs,
        )
        from aristoteles_spark.operators.graph import connected_components

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        kw = dict(num_hashes=16, bands=4, threshold=0.5)
        nodes = d.select(F.col("doc_id").alias("doc"))
        full = {
            (r.node, r.cluster)
            for r in connected_components(
                nodes, minhash_lsh_pairs(d, **kw)
            ).collect()
        }
        contracted = {
            (r.node, r.cluster)
            for r in connected_components(
                nodes, minhash_cluster_edges(d, **kw)
            ).collect()
        }
        assert contracted == full and len(full) > 0
        n_full = minhash_lsh_pairs(d, **kw).count()
        n_contracted = minhash_cluster_edges(d, **kw).count()
        assert n_contracted <= n_full


class TestUnionFindVsDistributed:
    def test_driver_union_find_matches_distributed_loop(self, spark):
        from pyspark.sql import functions as F

        from aristoteles_spark.operators.dedup import minhash_cluster_edges
        from aristoteles_spark.operators.graph import connected_components

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        edges = minhash_cluster_edges(d, num_hashes=16, bands=4, threshold=0.5)
        nodes = d.select(F.col("doc_id").alias("doc"))
        sc = spark.sparkContext

        def build(group, **kw):
            """connected_components' eager work, and the jobs it ran."""
            sc.setJobGroup(group, group)
            try:
                out = connected_components(nodes, edges, **kw)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return out, len(sc.statusTracker().getJobIdsForGroup(group))

        uf, uf_jobs = build("cc_union_find")
        fallback, fallback_jobs = build("cc_fallback", max_driver_edges=0)
        driver = {(r.node, r.cluster) for r in uf.collect()}
        distributed = {(r.node, r.cluster) for r in fallback.collect()}
        assert driver == distributed and len(driver) > 0
        # measured on 2 and 4 cores: union-find 10-11 jobs, the fallback
        # 40-41 (its loop included); computing the contraction a second
        # time for the fallback's checkpoint cost 4-5 more (44-46)
        assert uf_jobs <= 11, uf_jobs
        assert fallback_jobs <= 42, fallback_jobs


class TestExactSubstringDedup:
    @staticmethod
    def _ref(docs: dict[int, str], w: int):
        """Pure-Python reference of ExactSubstr keep-first: flag every
        non-first occurrence (global (doc,pos) order) of any duplicated
        w-token window, merge overlapping/adjacent windows per doc."""
        toks = {d: t.split(" ") for d, t in docs.items()}
        occ: dict[tuple, list[tuple[int, int]]] = {}
        for d, ts in toks.items():
            for p in range(len(ts) - w + 1):
                occ.setdefault(tuple(ts[p : p + w]), []).append((d, p))
        flagged: dict[int, list[int]] = {}
        for positions in occ.values():
            positions.sort()
            for d, p in positions[1:]:
                flagged.setdefault(d, []).append(p)
        out = {}
        for d, ps in flagged.items():
            spans: list[list[int]] = []
            for p in sorted(ps):
                if spans and p <= spans[-1][1]:
                    spans[-1][1] = max(spans[-1][1], p + w)
                else:
                    spans.append([p, p + w])
            out[d] = (
                len(toks[d]),
                [(s, e) for s, e in spans],
                sum(e - s for s, e in spans),
            )
        return out

    def test_crafted_docs_match_pure_python_reference(self, spark):
        from aristoteles_spark.operators.dedup import exact_substring_dedup

        w = 4
        base = "a b c d e f g h i j k l m n o p"  # 16 tokens, doc 1
        docs = {
            1: base,
            # 10-token verbatim run from doc 1 (c..l) -> ONE merged span
            # of length 10 in doc 2, not seven 4-token hits
            2: "zz yy " + "c d e f g h i j k l" + " ww vv",
            # within-doc repetition: the same 5-token phrase twice ->
            # first occurrence kept, second flagged (5-token span)
            3: "q r s t u xx1 xx2 xx3 q r s t u",
            # two DISJOINT duplicated runs (from docs 1 and 3) split by
            # unique filler -> n_spans == 2
            4: "e f g h uniq1 uniq2 q r s t uniq3",
            # shorter than the window -> structurally absent
            5: "one two three",
            # exact duplicate of doc 2's text; doc 2 wins every shared
            # window (doc order), so doc 6 is one full-length span
            6: "zz yy c d e f g h i j k l ww vv",
        }
        expected = self._ref(docs, w)
        # sanity: the fixture exercises every rule
        assert 2 in expected and expected[2][1] == [(2, 12)]
        assert 3 in expected and expected[3][1] == [(8, 13)]
        assert 4 in expected and len(expected[4][1]) == 2
        assert 5 not in expected and 1 not in expected
        assert 6 in expected and expected[6][1] == [(0, 14)]

        df = spark.createDataFrame(
            [(d, t) for d, t in docs.items()], "doc_id long, text string"
        )
        got = {
            r.doc: (r.n_tokens, [(s.s, s.e) for s in r.spans], r.removed_tokens)
            for r in exact_substring_dedup(df, min_len=w).collect()
        }
        assert got == expected

    def test_empty_and_single_doc_are_noops(self, spark):
        from aristoteles_spark.operators.dedup import exact_substring_dedup

        empty = spark.createDataFrame([], "doc_id long, text string")
        assert exact_substring_dedup(empty, min_len=4).count() == 0
        one = spark.createDataFrame(
            [(1, "a b c d e f")], "doc_id long, text string"
        )
        assert exact_substring_dedup(one, min_len=4).count() == 0

    def test_incremental_probe_equals_fresh_dedup_on_batch(self, spark):
        """ln4's identity: index(history) + probe(batch, batch mode)
        == fresh keep-first dedup over history UNION batch, restricted
        to batch docs — including batch-internal repeats and the
        cross-side keeper tie-breaks."""
        from aristoteles_spark.operators.dedup import (
            exact_substring_dedup,
            exact_substring_index,
            exact_substring_probe,
        )

        w = 4
        hist_docs = [
            (1, "a b c d e f g h i j k l m n o p"),
            (3, "q r s t u xx1 xx2 xx3 q r s t u"),
        ]
        batch_docs = [
            # duplicates history (c..l run)
            (10, "zz yy c d e f g h i j k l ww vv"),
            # batch-internal pair: 10 wins the shared prefix? no — doc
            # 12/14 share a run absent from history; 12 is the keeper
            (12, "n1 n2 n3 n4 n5 n6 n7 n8"),
            (14, "k1 k2 n1 n2 n3 n4 n5 n6 n7 n8 k3"),
            # within-doc repeat only
            (16, "w1 w2 w3 w4 zz9 w1 w2 w3 w4"),
            (18, "totally unique words only here"),
        ]
        hist = spark.createDataFrame(hist_docs, "doc_id long, text string")
        batch = spark.createDataFrame(batch_docs, "doc_id long, text string")
        full = hist.unionByName(batch)
        batch_ids = {d for d, _ in batch_docs}
        exp = {
            r.doc: (r.n_tokens, [(s.s, s.e) for s in r.spans])
            for r in exact_substring_dedup(full, min_len=w).collect()
            if r.doc in batch_ids
        }
        idx = exact_substring_index(hist, min_len=w)
        got = {
            r.doc: (r.n_tokens, [(s.s, s.e) for s in r.spans])
            for r in exact_substring_probe(idx, batch, min_len=w).collect()
        }
        assert got == exp
        assert 10 in got and 14 in got and 16 in got and 18 not in got

    def test_per_doc_probe_is_split_independent(self, spark):
        """st14's semantics: batch_internal=False results are a pure
        function of (doc, index) — probing the batch in ANY split of
        sub-batches yields the union of the whole-batch result."""
        from aristoteles_spark.operators.dedup import (
            exact_substring_index,
            exact_substring_probe,
        )

        w = 4
        hist = spark.createDataFrame(
            [(1, "a b c d e f g h")], "doc_id long, text string"
        )
        batch_docs = [
            (10, "c d e f zz1 zz2"),          # history dup
            (12, "m1 m2 m3 m4 q q m1 m2 m3 m4"),  # within-doc repeat
            (14, "c d e f yy1 yy2"),          # history dup, other doc
        ]
        idx = exact_substring_index(hist, min_len=w)

        def run(docs):
            df = spark.createDataFrame(docs, "doc_id long, text string")
            return {
                r.doc: [(s.s, s.e) for s in r.spans]
                for r in exact_substring_probe(
                    idx, df, min_len=w, batch_internal=False
                ).collect()
            }

        whole = run(batch_docs)
        split = {**run(batch_docs[:1]), **run(batch_docs[1:])}
        assert whole == split == {
            10: [(0, 4)], 12: [(6, 10)], 14: [(0, 4)],
        }

    def test_packing_guard_raises_instead_of_cross_doc_collision(self, spark):
        """The (doc,pos) packed-bigint keeper is only injective for
        0 <= pos < 2^pos_bits and doc >= 0; outside that range keep_first
        must raise in-row (loud) rather than silently spare a wrong
        occurrence in another document (round-8 ADVICE item)."""
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import SparkRuntimeException

        from aristoteles_spark.operators.dedup import exact_substring_dedup

        # pos_bits=2 -> shift 4; an 8-token doc with a duplicated window
        # beyond pos 3 trips the guard
        docs = [(0, "a b c d e f a b c d e f"), (1, "a b c d x y z w")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        with pytest.raises((Py4JJavaError, SparkRuntimeException)) as ei:
            exact_substring_dedup(df, min_len=3, pos_bits=2).collect()
        assert "packing out of range" in str(ei.value)
        # negative doc ids trip it too
        neg = spark.createDataFrame(
            [(-1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string"
        )
        with pytest.raises((Py4JJavaError, SparkRuntimeException)):
            exact_substring_dedup(neg, min_len=4).collect()
        # remove-all mode never consults the packing -> still works on
        # the same out-of-range inputs
        got = exact_substring_dedup(
            df, min_len=3, keep_first=False, pos_bits=2
        ).collect()
        # doc 0's repeat AND doc 1's shared "a b c d" prefix both flagged
        assert {r.doc for r in got} == {0, 1}
        # widening pos_bits restores keep_first on the long doc
        wide = {
            r.doc: [(s.s, s.e) for s in r.spans]
            for r in exact_substring_dedup(df, min_len=3, pos_bits=21).collect()
        }
        assert wide == {0: [(6, 12)], 1: [(0, 4)]}


class TestIvfPqRerank:
    def test_rerank_never_loses_to_pure_adc(self, spark):
        """Per query, sim9's reranked hits >= sim8's pure-ADC hits —
        provable: the ADC top-5 is a subset of the R*k candidate set,
        and within any candidate set exact re-ranking places every
        truth member above every non-member (truth = exact-L2 top-k,
        so members beat non-members on the exact metric)."""
        from aristoteles_spark.queries.clustering import (
            q_ivfpq_recall,
            q_ivfpq_rerank,
        )

        sf = "/root/testdata/sf0.001"
        adc = {r.query_id: r.pq_hits for r in q_ivfpq_recall(spark, sf).collect()}
        rr = {r.query_id: r.rr_hits for r in q_ivfpq_rerank(spark, sf).collect()}
        assert set(adc) == set(rr) and len(rr) > 0
        assert all(rr[q] >= adc[q] for q in rr), (adc, rr)


class TestCompactLatestWins:
    def test_stale_rows_drop_as_a_unit_and_tombstones_vanish(self, spark):
        """xm2's contract: a newer version's row SET replaces the old
        one entirely (per-row max would keep stale fingerprints), and
        tombstoned docs vanish."""
        from aristoteles_spark.operators.dedup import compact_latest_wins

        d0 = spark.createDataFrame(
            [(1, 100, 0), (1, 101, 0), (2, 200, 0), (3, 300, 0)],
            "doc_id long, fp long, ver int",
        )
        # doc 1 re-ingested: fp 101 no longer selected, fp 102 new
        d1 = spark.createDataFrame(
            [(1, 100, 1), (1, 102, 1)], "doc_id long, fp long, ver int"
        )
        tombs = spark.createDataFrame([(3,)], "doc_id long")
        got = {
            (r.doc_id, r.fp)
            for r in compact_latest_wins([d0, d1], tombs).collect()
        }
        assert got == {(1, 100), (1, 102), (2, 200)}

    def test_xm2_equals_fresh_rebuild(self, spark):
        """Digest equality: the compacted index's per-doc fingerprint
        digests equal a fresh winnow_per_doc build over the live
        corpus (latest text, tombstones out) on the real table."""
        from aristoteles_spark.queries.dedup import winnow_per_doc
        from aristoteles_spark.queries.maintenance import (
            N_DAYS,
            REINGEST_MOD,
            REINGEST_OFF,
            TOMB_MOD,
            TOMB_OFF,
            q_winnow_compaction,
        )

        sf = "/root/testdata/sf0.001"
        got = {
            r.doc_id: (r.n_fps, r.fps_digest)
            for r in q_winnow_compaction(spark, sf).collect()
        }
        d = spark.read.parquet(f"{sf}/documents.parquet")
        day = F.col("doc_id") % N_DAYS
        revised = (F.col("doc_id") % REINGEST_MOD == REINGEST_OFF) & (
            day != N_DAYS - 1
        )
        live = d.filter(F.col("doc_id") % TOMB_MOD != TOMB_OFF).select(
            "doc_id",
            F.when(revised, F.concat("text", F.lit(" rev7")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        fresh = winnow_per_doc(live).filter(F.size("fps") > 0)
        exp = {
            r.doc_id: (
                len(r.fps),
                __import__("hashlib").md5(
                    ",".join(str(x) for x in sorted(r.fps)).encode()
                ).hexdigest(),
            )
            for r in fresh.collect()
        }
        assert got == exp and len(got) > 0


class TestHashedFeatureEmbedding:
    @staticmethod
    def _h32(s: str) -> int:
        return int(hashlib.md5(f"0:{s}".encode()).hexdigest()[:8], 16)

    def _ref(self, text: str, dim: int) -> list[int]:
        toks = [t for t in __import__("re").split(r"[^a-z0-9]+", text.lower()) if t]
        feats = toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
        emb = [0] * dim
        for f_ in feats:
            h = self._h32(f_)
            emb[h % dim] += -1 if h % (2 * dim) >= dim else 1
        return emb

    def test_matches_pure_python_reference(self, spark):
        from aristoteles_spark.operators.similarity import (
            hashed_feature_embedding,
        )
        from aristoteles_spark.functions.text import tokens
        from aristoteles_spark.queries.quality import classifier_features

        texts = [
            "the quick brown fox jumps over the lazy dog",
            "pack my box with five dozen liquor jugs",
            "the quick brown fox jumps over the lazy dog",  # dup of row 0
            "",  # empty -> all zeros
            "one",  # single token, no bigrams
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            r.doc_id: list(r.emb)
            for r in df.select(
                "doc_id",
                hashed_feature_embedding(
                    classifier_features(tokens("text")), 64
                ).alias("emb"),
            ).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == self._ref(t, 64), i
        assert got[0] == got[2]  # identical text, identical embedding
        assert got[3] == [0] * 64

    def test_rejects_non_power_of_two_dim(self):
        from aristoteles_spark.operators.similarity import (
            hashed_feature_embedding,
        )

        with pytest.raises(ValueError):
            hashed_feature_embedding(F.col("x"), dim=48)


class TestWinnowingFingerprints:
    @staticmethod
    def _h32(s: str) -> int:
        return int(hashlib.md5(f"0:{s}".encode()).hexdigest()[:8], 16)

    def _ref(self, text: str, k: int, w: int) -> set[int]:
        """Pure-Python robust winnowing (Schleimer et al. 2003):
        rightmost minimal k-gram hash per w-window; gram hash = the
        engine's per-token h32 + 40-bit polynomial combine."""
        from aristoteles_spark.queries.dedup import FP_C, FP_MASK

        toks = text.split(" ")
        th = [self._h32(t) for t in toks]

        def poly(i):
            acc = th[i]
            for o in range(1, k):
                acc = (acc * FP_C + th[i + o]) & FP_MASK
            return acc

        gh = [poly(i) for i in range(len(toks) - k + 1)]
        if len(gh) < w:
            return set()
        sel = set()
        for j in range(len(gh) - w + 1):
            win = gh[j : j + w]
            mn = min(win)
            sel.add(j + max(i for i, v in enumerate(win) if v == mn))
        return {gh[p] for p in sel}

    def _spark_fps(self, spark, docs):
        from aristoteles_spark.queries import dedup as qd

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
        )
        # drive the same in-row selection the query uses, via a private
        # re-derivation: easiest is to run the query body on a temp
        # parquet dir so the fan_out/load_table seam stays identical
        import tempfile

        d = tempfile.mkdtemp(prefix="fp1_t_")
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = qd.q_winnowing_fps(spark, d)
        return {r.doc_id: r for r in out.collect()}

    def test_matches_pure_python_reference_and_guarantee(self, spark):
        from aristoteles_spark.queries.dedup import FP_K, FP_W

        shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
        docs = [
            "one two three four five six seven eight nine ten",
            "x1 x2 " + shared + " y1 y2",      # shares the 7-token run
            "z1 z2 z3 " + shared,              # with this doc
            "short doc",                       # < k tokens -> absent
            "a b c d e f",                     # grams < w -> absent
        ]
        refs = {i: self._ref(t, FP_K, FP_W) for i, t in enumerate(docs)}
        # winnowing guarantee: the shared 7-token (= FP_W+FP_K-1) run
        # forces a shared fingerprint between docs 1 and 2
        assert refs[1] & refs[2], "guarantee fixture broken"
        assert refs[3] == set() and refs[4] == set()

        got = self._spark_fps(spark, docs)
        for i in (0, 1, 2):
            assert got[i].n_fps == len(refs[i]), i
        assert 3 not in got and 4 not in got
        # shared census: docs 1 and 2 report the overlap, doc 0 does not
        assert got[1].n_shared >= 1 and got[2].n_shared >= 1
        assert got[0].n_shared == 0
        assert got[1].max_df >= 2

    def test_remove_all_matches_published_semantics(self, spark):
        """keep_first=False reproduces the released Lee et al. tool's
        behavior: EVERY occurrence of a duplicated window is removed,
        including the first — pinned against the same pure-Python
        reference with the keeper step disabled."""
        from aristoteles_spark.operators.dedup import exact_substring_dedup

        w = 4
        docs = {
            1: "a b c d e f g h",
            2: "x y a b c d e f z",   # shares a 6-token run with doc 1
            3: "q r s t u q r s t u",  # within-doc repeat
        }
        # reference: flag ALL occurrences of any duplicated window
        toks = {d: t.split(" ") for d, t in docs.items()}
        occ: dict[tuple, list[tuple[int, int]]] = {}
        for d, ts in toks.items():
            for p in range(len(ts) - w + 1):
                occ.setdefault(tuple(ts[p : p + w]), []).append((d, p))
        flagged: dict[int, list[int]] = {}
        for positions in occ.values():
            if len(positions) >= 2:
                for d, p in positions:
                    flagged.setdefault(d, []).append(p)
        expected = {}
        for d, ps in flagged.items():
            spans: list[list[int]] = []
            for p in sorted(ps):
                if spans and p <= spans[-1][1]:
                    spans[-1][1] = max(spans[-1][1], p + w)
                else:
                    spans.append([p, p + w])
            expected[d] = [(s, e) for s, e in spans]
        # the fixture exercises it: doc 1's run IS removed here (it
        # would be kept under keep_first)
        assert 1 in expected

        df = spark.createDataFrame(
            [(d, t) for d, t in docs.items()], "doc_id long, text string"
        )
        got = {
            r.doc: [(s.s, s.e) for s in r.spans]
            for r in exact_substring_dedup(
                df, min_len=w, keep_first=False
            ).collect()
        }
        assert got == expected

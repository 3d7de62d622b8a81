"""Round-3 curation operators: URL canonicalization unit cases, SemDeDup
pinned against an in-test pure-Python reference, DSIR invariants."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- url

CASES = [
    # fragment stripped, utm dropped, params sorted, scheme/host lowered
    (
        "HTTPS://WWW.News.Example.COM/a/7?utm_source=feed&id=3&b=2#frag",
        "https://news.example.com/a/7?b=2&id=3",
    ),
    # default port stripped per scheme
    ("http://x.example.com:80/a/1?id=1", "http://x.example.com/a/1?id=1"),
    ("https://x.example.com:443/a/1?id=1", "https://x.example.com/a/1?id=1"),
    # non-default port kept
    ("http://x.example.com:8080/a/1?id=1", "http://x.example.com:8080/a/1?id=1"),
    # duplicate slashes collapsed, trailing slash dropped
    ("http://x.example.com/a//b///c/?id=1", "http://x.example.com/a/b/c?id=1"),
    # empty path -> '/', all-utm query -> no '?'
    ("http://www.x.example.com?utm_source=a&utm_campaign=b", "http://x.example.com/"),
    # root stays root
    ("http://x.example.com/", "http://x.example.com/"),
]


def test_canonical_url_cases(spark):
    from aristoteles_spark.functions.url import canonical_url

    df = spark.createDataFrame([(raw,) for raw, _ in CASES], "raw string")
    got = [r["c"] for r in df.select(canonical_url(F.col("raw")).alias("c")).collect()]
    assert got == [want for _, want in CASES]


def test_canonical_url_sql_mirror_agrees(spark):
    """The duckdb transliteration must produce byte-identical canonical
    forms on the same inputs (the oracle-parity guarantee)."""
    import duckdb

    from aristoteles_spark.functions.url import sql_canonical_url

    con = duckdb.connect()
    sql = (
        "SELECT " + sql_canonical_url("raw")
        + " FROM (SELECT CAST(? AS VARCHAR) AS raw)"
    )
    for raw, want in CASES:
        got = con.execute(sql, [raw]).fetchone()[0]
        assert got == want, raw


# ---------------------------------------------------------------- sd1

def test_semdedup_matches_pure_python(spark):
    """Full query result pinned against an independent numpy/pure-int
    reference of the same algorithm (assignment, SNM window, integer
    cosine gate) on the sf0.001 embeddings."""
    import numpy as np
    import pyarrow.parquet as pq

    from aristoteles_spark.queries.clustering import (
        CENT_MOD,
        CENT_OFF,
        SEED_CAP,
        SEM_T2_E4,
        SEM_W,
        q_semdedup,
    )

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    X = np.array([list(v) for v in t["embedding"]], dtype=np.float64)
    XQ = np.floor(X * 1e6).astype(np.int64)
    cm = (ids % CENT_MOD == CENT_OFF) & (ids < SEED_CAP)
    C, cids = XQ[cm], ids[cm]
    d2 = ((XQ[:, None, :] - C[None, :, :]) ** 2).sum(2)
    best = cids[np.argmin(d2, axis=1)]  # cids sorted asc -> min-cid ties
    bd2 = d2[np.arange(len(ids)), np.argmin(d2, axis=1)]

    expect = {}
    for c in np.unique(best):
        m = best == c
        order = np.lexsort((ids[m], bd2[m]))
        sub = XQ[m][order].astype(object)
        nrm = [int((v * v).sum()) for v in sub]
        dropped = 0
        for i in range(len(sub)):
            for j in range(max(0, i - SEM_W), i):
                dot = int((sub[i] * sub[j]).sum())
                if dot > 0 and (100 * dot) ** 2 >= SEM_T2_E4 * nrm[i] * nrm[j]:
                    dropped += 1
                    break
        expect[int(c)] = (int(m.sum()), dropped)

    got = {
        r["cluster_id"]: (r["n_members"], r["n_dropped"], r["n_kept"])
        for r in q_semdedup(spark, SF_DIR).collect()
    }
    assert set(got) == set(expect)
    for c, (n, nd) in expect.items():
        assert got[c] == (n, nd, n - nd)
    assert sum(nd for _, nd in expect.values()) > 0  # non-vacuous


# ---------------------------------------------------------------- ar4

def test_gram_matrix_enables_pca(spark):
    """The distributed Gram matrix must equal X^T X exactly, and the
    PCA it enables (driver-side eigh on 64x64) must agree with direct
    full-data SVD to within quantization error."""
    import numpy as np
    import pyarrow.parquet as pq

    from aristoteles_spark.queries.arrays import _GRAM_DIM, q_gram_matrix

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pydict()
    X = np.array([list(v) for v in t["embedding"]], dtype=np.float64)
    XQ = np.floor(X * 1e6).astype(np.int64)

    G = np.zeros((_GRAM_DIM, _GRAM_DIM), dtype=np.int64)
    for r in q_gram_matrix(spark, SF_DIR).collect():
        G[r["i"] - 1, r["j"] - 1] = r["gram_q"]
        G[r["j"] - 1, r["i"] - 1] = r["gram_q"]
    assert np.array_equal(G, XQ.T @ XQ)  # exact, not approximate

    # top principal direction from the distributed gram vs direct SVD
    w, v = np.linalg.eigh(G.astype(np.float64))
    top_gram = v[:, -1]
    _, _, vt = np.linalg.svd(X, full_matrices=False)
    top_direct = vt[0]
    assert abs(float(top_gram @ top_direct)) > 0.999


# ---------------------------------------------------------------- sk6 / dr1

def test_kmv_per_group_exact_branch(spark):
    """At sf0.001 every event type has 15 distinct users (< k=64): the
    under-k branch must return the EXACT count, not an estimate."""
    from aristoteles_spark.queries.analytics import q_kmv_per_source

    rows = q_kmv_per_source(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["k_used"] == 15
        assert r["est_distinct"] == 15.0


def test_kmv_per_group_estimator_branch(spark):
    """At sf0.01 (150 users per type) the estimator branch must fire and
    land within the standard KMV error envelope (~1/sqrt(k) ~ 12.5%)."""
    from aristoteles_spark.queries.analytics import q_kmv_per_source

    rows = q_kmv_per_source(spark, "/root/testdata/sf0.01").collect()
    for r in rows:
        assert r["k_used"] == 64
        assert 0.6 * 150 <= r["est_distinct"] <= 1.4 * 150


def test_distribution_drift_invariants(spark):
    from aristoteles_spark.queries.analytics import q_distribution_drift

    r = q_distribution_drift(spark, SF_DIR).collect()
    assert len(r) == 1
    r = r[0]
    assert r["ta"] > 0 and r["tb"] > 0
    assert 0 <= r["tv_ppm"] <= 1_000_000
    assert r["tv_ppm"] > 0  # the two halves genuinely differ
    # L1 numerator bound: sum |ca*tb - cb*ta| <= 2 * ta * tb
    assert r["l1_num"] <= 2 * r["ta"] * r["tb"]


# ---------------------------------------------------------------- qr1

def test_gopher_rules_pinned(spark):
    """Rule census pinned against a pure-Python evaluation of the same
    published rules over the raw sf0.001 parquet."""
    import re as _re

    import pyarrow.parquet as pq

    from aristoteles_spark.queries.quality import (
        GOPHER_MIN_WORDS,
        GOPHER_STOPS,
        q_gopher_rules,
    )

    t = pq.read_table(f"{SF_DIR}/documents.parquet").to_pydict()
    expect = {}
    for src, text in zip(t["source"], t["text"]):
        toks = [w for w in _re.split(r"[^a-z0-9]+", text.lower()) if w]
        nw, nc = len(toks), sum(len(w) for w in toks)
        na = sum(1 for w in toks if _re.search("[a-z]", w))
        nh = text.count("#")
        nd3 = len(text) - len(text.replace("...", ""))
        lines = text.split("\n")
        nb = sum(1 for l in lines if l.lstrip().startswith(("-", "*")))
        ne = sum(1 for l in lines if l.rstrip().endswith("..."))
        ns = len(set(toks) & set(GOPHER_STOPS))
        ok = (
            GOPHER_MIN_WORDS <= nw <= 100_000
            and 3 * nw <= nc <= 10 * nw
            and 5 * na >= 4 * nw
            and 10 * (3 * nh + nd3) <= 3 * nw
            and 10 * nb < 9 * len(lines)
            and 10 * ne < 3 * len(lines)
            and ns >= 2
        )
        d = expect.setdefault(src, [0, 0])
        d[0] += 1
        d[1] += int(ok)
    got = {r["source"]: (r["n_docs"], r["n_pass"]) for r in q_gopher_rules(spark, SF_DIR).collect()}
    assert got == {s: (n, p) for s, (n, p) in expect.items()}
    total_pass = sum(p for _, p in expect.values())
    assert 0 < total_pass < sum(n for n, _ in expect.values())  # both branches live


# ---------------------------------------------------------------- ds1

def test_dsir_invariants(spark):
    from aristoteles_spark.queries.importance import q_dsir_select

    rows = q_dsir_select(spark, SF_DIR).collect()
    assert len(rows) == 20  # one per source
    total = sum(r["n_docs"] for r in rows)
    assert total > 0
    for r in rows:
        assert 0 <= r["n_selected"] <= r["n_docs"]
        assert r["sum_wn"] > 0  # every doc's weight is load-bearing
        if r["n_selected"] == 0:
            assert r["sum_wn_selected"] == 0
        else:
            assert r["sum_wn_selected"] > 1_000_000 * (r["n_selected"] - 1)


def test_repetition_rules_pinned_and_dup5_fires(spark, tmp_path):
    """qr2 pinned against a pure-Python evaluation on crafted docs that
    exercise BOTH rules — the synthetic random-word corpus never repeats
    a 5-gram within a doc (dup5 is structurally 0 there, like qr1's
    line-shape rules), so the crafted set proves the dup5 path live:
    heavy spam (both rules fail), one far-apart repeated 5-gram, and
    the n<2 / n<5 guard shapes."""
    import re as _re

    from aristoteles_spark.queries.quality import (
        REP_DUP5_MAX_PPM,
        REP_TOP2_MAX_PPM,
        q_repetition_rules,
    )

    docs = [
        (1, "spam spam spam spam spam spam"),
        (2, "a b c d e x a b c d e"),
        (3, ""),
        (4, "x"),
        (5, "a b c d"),
        # benign doc long enough that no single 2-gram carries >20% of
        # the character mass (short docs structurally fail the mass
        # rule — the paper's word-count rule prefilters them)
        (6, " ".join(f"tok{i} word{i}" for i in range(15))),
    ]
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        r.doc_id: (r.n_toks, r.top2_mass_ppm, r.dup5_cover_ppm, r.rep_ok)
        for r in q_repetition_rules(spark, str(tmp_path)).collect()
    }

    import math

    for i, text in docs:
        toks = [w for w in _re.split(r"[^a-z0-9]+", text.lower()) if w]
        n, chars = len(toks), sum(len(w) for w in toks)
        g2 = ["_".join(toks[i : i + 2]) for i in range(n - 1)] if n >= 2 else []
        top2 = 0
        for g in set(g2):
            top2 = max(top2, g2.count(g) * (len(g) - 1))
        starts = (
            {g: [s for s in range(n - 4) if "_".join(toks[s : s + 5]) == g]
             for g in {"_".join(toks[s : s + 5]) for s in range(n - 4)}}
            if n >= 5 else {}
        )
        covered = set()
        for g, ss in starts.items():
            if len(ss) > 1:
                for s in ss:
                    covered.update(range(s, s + 5))
        t2p = math.floor(top2 * 1e6 / chars) if chars else 0
        d5p = math.floor(len(covered) * 1e6 / n) if n else 0
        ok = int(t2p <= REP_TOP2_MAX_PPM and d5p <= REP_DUP5_MAX_PPM)
        assert got[i] == (n, t2p, d5p, ok), (i, got[i], (n, t2p, d5p, ok))

    # both rules genuinely fire in the crafted set
    assert got[1][3] == 0 and got[1][2] > 0  # spam fails, dup5 nonzero
    assert got[2][2] == math.floor(10 * 1e6 / 11)  # two occurrences cover 10/11
    assert got[6][3] == 1


def test_clone_id_space_violation_raises(spark, tmp_path):
    from aristoteles_spark.queries.release import (
        RL_CLONE_BASE,
        _assert_clone_id_space,
    )

    raw = spark.createDataFrame([(1,), (RL_CLONE_BASE,)], "doc_id long")
    with pytest.raises(ValueError, match="RL_CLONE_BASE"):
        _assert_clone_id_space(spark, str(tmp_path), raw)

"""Every oracle LIMIT is deterministic: its ORDER BY leaves no tie that
the cut could break either way (the last rule of queries/__init__.py's
determinism list).

Each ``ORDER BY <keys> LIMIT n`` is rewritten, one at a time, to
``QUALIFY rank() OVER (ORDER BY <keys>) <= n ORDER BY <keys>``, which
keeps every row tied with the n-th. The rewritten query must return the
same multiset of rows as the original, on the sf0.01 tables. The
ORDER BY that belongs to a LIMIT is found by paren depth, not by a flat
regex: sort keys such as ``CAST(concat(..., md5(...)) AS BIGINT)`` nest
parentheses, and window or aggregate ORDER BYs sit one level deeper
than the LIMIT they must not be mistaken for.
"""

from __future__ import annotations

import re

import pytest

from aristoteles_spark.queries import all_oracle_sql
from tests.conftest import SF_ORACLE
from tools.check_correctness import oracle_con

_ORDER_BY = re.compile(r"\bORDER\s+BY\b", re.I)
_LIMIT = re.compile(r"\bLIMIT\s+(\d+)\b", re.I)


def _depths(sql: str) -> list[int | None]:
    """Paren depth at every character; None inside a string literal."""
    out, depth, quoted = [], 0, False
    for ch in sql:
        if ch == "'":
            quoted = not quoted
        elif not quoted and ch == "(":
            depth += 1
        elif not quoted and ch == ")":
            depth -= 1
        out.append(None if quoted else depth)
    return out


def limit_spans(sql: str) -> list[tuple[int, int, int, int]]:
    """``(order_at, keys_at, limit_at, limit_end)`` for every LIMIT: the
    ORDER BY is the last one before the LIMIT at the same depth with no
    scope boundary (a paren that closes below that depth) in between."""
    depth = _depths(sql)
    spans = []
    for lim in _LIMIT.finditer(sql):
        d = depth[lim.start()]
        if d is None:
            continue
        own = [
            o for o in _ORDER_BY.finditer(sql, 0, lim.start())
            if depth[o.start()] == d
            and min(x for x in depth[o.start():lim.start()] if x is not None) >= d
        ]
        assert own, f"LIMIT without an ORDER BY in its scope: {sql[lim.start() - 80:lim.end()]!r}"
        spans.append((own[-1].start(), own[-1].end(), lim.start(), lim.end()))
    return spans


def with_ties(sql: str, span: tuple[int, int, int, int]) -> str:
    """``sql`` with one ``ORDER BY keys LIMIT n`` widened to keep ties."""
    order_at, keys_at, limit_at, limit_end = span
    keys = sql[keys_at:limit_at].strip()
    n = _LIMIT.match(sql, limit_at).group(1)
    return (
        sql[:order_at]
        + f"QUALIFY rank() OVER (ORDER BY {keys}) <= {n} ORDER BY {keys}"
        + sql[limit_end:]
    )


_LIMITED = {k: s for k, s in all_oracle_sql().items() if _LIMIT.search(s)}


@pytest.fixture(scope="module")
def con():
    return oracle_con(SF_ORACLE)


def _rows(con, sql: str) -> list[str]:
    return sorted(repr(r) for r in con.execute(sql).fetchall())


def test_scan_pairs_nested_keys_and_skips_windows():
    sql = (
        "WITH q AS (SELECT id FROM t ORDER BY CAST(f(g(id)) AS INT), id LIMIT 5) "
        "SELECT sum(x) OVER (ORDER BY ts) AS s, string_agg(y ORDER BY y) AS a "
        "FROM q WHERE z = 'LIMIT 3' ORDER BY s DESC, a LIMIT 10"
    )
    assert [sql[k:l].strip() for _, k, l, _ in limit_spans(sql)] == [
        "CAST(f(g(id)) AS INT), id", "s DESC, a",
    ]
    assert with_ties(sql, limit_spans(sql)[0]).startswith(
        "WITH q AS (SELECT id FROM t QUALIFY rank() OVER "
        "(ORDER BY CAST(f(g(id)) AS INT), id) <= 5 ORDER BY CAST(f(g(id)) AS INT), id) "
    )


@pytest.mark.parametrize("name", sorted(_LIMITED))
def test_limit_keeps_no_tie(con, name):
    sql = _LIMITED[name]
    want = _rows(con, sql)
    for span in limit_spans(sql):
        got = _rows(con, with_ties(sql, span))
        assert got == want, (
            f"{name}: {len(got)} rows with ties kept vs {len(want)}: "
            f"ORDER BY{sql[span[1]:span[2]]}does not break every tie at the cut"
        )

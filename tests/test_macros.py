"""Unit tests for the portable-SQL macro layer (round 8).

Every oracle string is expanded at registration into a form that runs
VERBATIM on DuckDB and spark.sql(). These tests pin the expansion
against DuckDB's NATIVE spelling of each concept — if the expansion
ever drifts from `//` / epoch_ms / the 0x-hex cast semantics, the
round-trip here breaks before any registry query does.
"""

import duckdb
import pytest

from etl_everywhere_hub_spark.queries import (
    REGISTRY,
    _expand_intdiv,
    _expand_macros,
    _md5int_sql,
    _pms_sql,
)


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def duck1(con, expr_sql: str):
    return con.sql(f"SELECT {expr_sql} AS r").fetchall()[0][0]


# ---------------------------------------------------------------------------
# `//` trunc-division expansion
# ---------------------------------------------------------------------------

INTDIV_CASES = [
    # (source fragment, native DuckDB fragment) — must evaluate equal
    ("7 // 2", "7 // 2"),
    ("-7 // 2", "-7 // 2"),
    ("7 // -2", "7 // -2"),
    ("-7 // -2", "-7 // -2"),
    # multiplicative chain binds into the left operand
    ("3 * 7 // 2", "3 * 7 // 2"),
    ("100 % 7 // 2", "100 % 7 // 2"),
    # right operand is one primary; following ops apply to the quotient
    ("100 // 7 % 3", "100 // 7 % 3"),
    ("100 // 7 * 2", "100 // 7 * 2"),
    # chained //
    ("1000 // 7 // 3", "1000 // 7 // 3"),
    # parenthesized / call operands
    ("(85 * 17) // 100", "(85 * 17) // 100"),
    ("abs(-90) // 7", "abs(-90) // 7"),
    ("90 // abs(-7)", "90 // abs(-7)"),
    ("greatest(9, 5) * 11 // least(4, 2)", "greatest(9, 5) * 11 // least(4, 2)"),
    # additive neighbours stay outside the division
    ("1 + 90 // 7", "1 + 90 // 7"),
    ("90 // 7 - 1", "90 // 7 - 1"),
    ("2 - 3 * 90 // 7", "2 - 3 * 90 // 7"),
]


@pytest.mark.parametrize("src,native", INTDIV_CASES)
def test_intdiv_expansion_matches_native(con, src, native):
    expanded = _expand_intdiv(src)
    assert "//" not in expanded
    assert duck1(con, expanded) == duck1(con, native)


def test_intdiv_whitespace_and_newlines(con):
    src = "SELECT CAST(12345 AS BIGINT) * 1000000\n                // (17 * 19) AS r"
    expanded = _expand_intdiv(src)
    assert "//" not in expanded
    want = con.sql(
        "SELECT CAST(12345 AS BIGINT) * 1000000 // (17 * 19) AS r"
    ).fetchall()
    assert con.sql(expanded).fetchall() == want


def test_intdiv_window_over_left_operand(con):
    # regression (round 8): the left operand must absorb the whole
    # `<agg> OVER (...)` window expression, not split it at the frame
    src = (
        "SELECT SUM(x) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)"
        " * 1000000 // 7 AS r FROM (SELECT 3 AS x UNION ALL SELECT 4)"
    )
    expanded = _expand_intdiv(src)
    assert "//" not in expanded
    native = src  # DuckDB runs `//` natively
    assert con.sql(expanded).fetchall() == con.sql(native).fetchall()


def test_intdiv_filter_clause_left_operand(con):
    src = (
        "SELECT COUNT(*) FILTER (WHERE x > 3) * 100 // 3 AS r"
        " FROM (SELECT 3 AS x UNION ALL SELECT 4)"
    )
    expanded = _expand_intdiv(src)
    assert "//" not in expanded
    assert con.sql(expanded).fetchall() == con.sql(src).fetchall()


def test_intdiv_subquery_divisor(con):
    src = "SELECT 100 // (SELECT 2 + 5) AS r"
    expanded = _expand_intdiv(src)
    assert "//" not in expanded
    assert con.sql(expanded).fetchall() == [(14,)]


# ---------------------------------------------------------------------------
# epoch_ms / epoch_us expansion
# ---------------------------------------------------------------------------

TS_EDGES = [
    "TIMESTAMP '2024-01-01 00:00:07.179575'",
    "TIMESTAMP '2024-02-29 12:00:00.5'",
    "TIMESTAMP '2024-03-01 00:00:00'",
    "TIMESTAMP '1999-12-31 23:59:59.999999'",
    "TIMESTAMP '1970-01-01 00:00:00'",
    "TIMESTAMP '2000-02-29 23:59:59.000001'",
]


@pytest.mark.parametrize("ts", TS_EDGES)
def test_epoch_ms_expansion_matches_native(con, ts):
    assert duck1(con, _pms_sql(ts, unit_ms=True)) == duck1(con, f"epoch_ms({ts})")


@pytest.mark.parametrize("ts", TS_EDGES)
def test_epoch_us_expansion_matches_native(con, ts):
    assert duck1(con, _pms_sql(ts, unit_ms=False)) == duck1(con, f"epoch_us({ts})")


def test_epoch_ms_fixture_rows(con, sf_dir):
    expr = _pms_sql("ts", unit_ms=True)
    n = con.sql(
        f"SELECT count(*) FROM '{sf_dir}/events.parquet' WHERE {expr} <> epoch_ms(ts)"
    ).fetchall()[0][0]
    assert n == 0


# ---------------------------------------------------------------------------
# md5i64 / md5i52 expansion
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("arg", ["'a'", "'hello world'", "CAST(12345 AS VARCHAR)"])
@pytest.mark.parametrize("width", [15, 13])
def test_md5int_expansion_matches_native(con, arg, width):
    native = f"('0x' || substr(md5({arg}), 1, {width}))::BIGINT"
    assert duck1(con, _md5int_sql(arg, width)) == duck1(con, native)


# ---------------------------------------------------------------------------
# registry-wide invariants
# ---------------------------------------------------------------------------


def test_no_unexpanded_macros_in_registry():
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        assert "//" not in q.oracle, name
        for macro in ("md5i64(", "md5i52(", "epoch_us("):
            assert macro not in q.oracle, (name, macro)
        # epoch_ms only survives as part of no identifier; expansion
        # leaves extract()/substr() text, never the bare call
        assert "epoch_ms(" not in q.oracle, name


def test_expander_is_idempotent():
    for q in list(REGISTRY.values())[:50]:
        if q.oracle:
            assert _expand_macros(q.oracle) == q.oracle


# ---------------------------------------------------------------------------
# elem / alen (round 9): portable array access + length
# ---------------------------------------------------------------------------

ELEM_CASES = [
    # (macro-source fragment, native DuckDB fragment)
    ("elem([10, 20, 30], 1)", "([10, 20, 30])[1]"),
    ("elem([10, 20, 30], 3)", "([10, 20, 30])[3]"),
    ("elem([1.5, 2.5], 1 + 1)", "([1.5, 2.5])[2]"),
    ("elem(['a', 'b'], 2)", "(['a', 'b'])[2]"),
    # nested: index computed from another elem
    ("elem([10, 20, 30], CAST(elem([2.0, 1.0], 1) AS INT))", "20"),
    ("alen([10, 20, 30])", "3"),
    ("alen([1.5])", "1"),
    ("alen(CAST([] AS DOUBLE[]))", "0"),
]


@pytest.mark.parametrize("src,native", ELEM_CASES)
def test_elem_alen_expansion_matches_duckdb_native(con, src, native):
    expanded = _expand_macros(src)
    assert "elem(" not in expanded and "alen(" not in expanded
    assert duck1(con, expanded) == duck1(con, native)


def test_elem_alen_match_spark_native(spark):
    """The SAME expanded text evaluates in spark.sql() to Spark's
    native 0-based access / size() — pins the ^-divergence offset
    (power=1 in DuckDB, xor=0 in Spark) on both engines."""
    exp_elem = _expand_macros("elem(array(10, 20, 30), 2)")
    exp_len = _expand_macros("alen(array(10, 20, 30))")
    row = spark.sql(
        f"SELECT {exp_elem} AS e, {exp_len} AS n, "
        "(array(10, 20, 30))[1] AS native_e, size(array(10, 20, 30)) AS native_n"
    ).collect()[0]
    assert row["e"] == row["native_e"] == 20
    assert row["n"] == row["native_n"] == 3


def test_elem_alen_fixture_embeddings_both_engines(con, spark, sf_dir):
    """elem/alen over the real embeddings fixture: DuckDB expansion ==
    DuckDB native, and spark.sql over the same text == F.size/getItem."""
    con.sql(
        f"CREATE OR REPLACE VIEW embeddings AS "
        f"SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    exp = _expand_macros(
        "SELECT vec_id, alen(embedding) AS n, elem(embedding, 1) AS e1, "
        "elem(embedding, alen(embedding)) AS elast "
        "FROM embeddings ORDER BY vec_id LIMIT 5"
    )
    want = con.sql(
        f"SELECT vec_id, len(embedding) AS n, embedding[1] AS e1, "
        f"embedding[len(embedding)] AS elast "
        f"FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id LIMIT 5"
    ).fetchall()
    got_duck = con.sql(exp).fetchall()
    assert got_duck == want
    from etl_everywhere_hub_spark.catalog import register_views

    register_views(spark, sf_dir)
    got_spark = [tuple(r) for r in spark.sql(exp).collect()]
    assert [tuple(map(_approx, r)) for r in got_spark] == [
        tuple(map(_approx, r)) for r in want
    ]


def _approx(v):
    return round(v, 5) if isinstance(v, float) else v


# ---------------------------------------------------------------------------
# round-10 ADVICE fixes: inner-call word boundary + alen call-site lint
# ---------------------------------------------------------------------------


def test_inner_macro_scan_uses_word_boundary(con):
    """ADVICE r9 item #2: an identifier merely ENDING in a macro name
    inside an argument (e.g. ``myelem(...)``) must NOT be treated as an
    inner macro call — the old bare-substring check skipped expanding
    the ENCLOSING macro forever, leaving raw macro text in the oracle."""
    from etl_everywhere_hub_spark.queries import _MACRO_CALL

    assert not _MACRO_CALL.search("myelem(x)")
    assert not _MACRO_CALL.search("foo_ntok(x)")
    assert _MACRO_CALL.search("elem(a, 1)")
    assert _MACRO_CALL.search("1 + ntok(s)")
    # end-to-end: enclosing macro expands even when its arg contains a
    # non-macro identifier that ends in a macro name
    src = "alen(filter([1, 2], x -> x > myelem(0)))"
    expanded = _expand_macros(src)
    assert "alen(" not in expanded
    assert "myelem(0)" in expanded  # untouched, still a plain call


def test_alen_call_sites_are_comma_safe():
    """ADVICE r9 item #3: ``alen`` counts commas in the VARCHAR render,
    which miscounts for string arrays whose elements contain commas.
    The constraint is documented at the macro; this lint enforces it at
    every call site — each raw-oracle alen argument must be explicitly
    allowlisted below with its comma-free justification. A NEW alen
    site fails here until it is consciously reviewed and added."""
    import re as _re

    # argument-text allowlist: substrings that prove comma-free elements
    allow = [
        # numeric arrays (double render never contains commas)
        "embedding",
        # q168: tokens filtered against a comma-free IN-list — the
        # surviving elements are exactly 'table'/'data'/'query'
        "x IN ('table', 'data', 'query')",
    ]
    for name, q in REGISTRY.items():
        raw = q.raw_oracle
        if not raw or "alen(" not in raw:
            continue
        for m in _re.finditer(r"(?<![A-Za-z0-9_])alen\(", raw):
            # balanced-paren arg extraction (same walk as the expander)
            i = m.end() - 1
            depth, j = 0, i
            while j < len(raw):
                if raw[j] == "(":
                    depth += 1
                elif raw[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            arg = raw[i + 1 : j]
            assert any(a in arg for a in allow), (
                f"{name}: alen() over unreviewed argument {arg!r} — "
                "prove its elements are comma-free and allowlist it"
            )


# ---------------------------------------------------------------------------
# one-pass expander: hand-written expansions
# ---------------------------------------------------------------------------

_E = "((a)[(1) - 1 + CAST(1^1 AS BIGINT)])"  # elem(a, 1)

ONE_PASS_CASES = [
    # multi-argument call
    ("elem(a, 1)", _E),
    # nested call: the inner one expands inside the outer's argument
    (
        "elem(elem(a, 1), 2)",
        f"(({_E})[(2) - 1 + CAST(1^1 AS BIGINT)])",
    ),
    # an expansion that itself emits calls is expanded again
    (
        "sumn(a, 2)",
        f"(CAST({_E} AS DOUBLE) + "
        "CAST(((a)[(2) - 1 + CAST(1^1 AS BIGINT)]) AS DOUBLE))",
    ),
    # an identifier merely ending in a macro name is left alone, its
    # argument still expands
    ("myelem(elem(a, 1))", f"myelem({_E})"),
    # calls side by side, text between them kept
    ("elem(a, 1) + ntok(s)", f"{_E} + (length(s) - length(replace(s, ' ', '')) + 1)"),
    # `//` rewrites first; the macro calls in its operands expand after
    (
        "ntok(s) // 2",
        "CAST((((length(s) - length(replace(s, ' ', '')) + 1)) - "
        "((length(s) - length(replace(s, ' ', '')) + 1)) % (2)) / (2) AS BIGINT)",
    ),
    ("SELECT 1", "SELECT 1"),
]


@pytest.mark.parametrize("src,want", ONE_PASS_CASES)
def test_one_pass_expansion(src, want):
    assert _expand_macros(src) == want


def test_one_pass_expansion_evaluates_natively(con):
    """The nested, multi-argument and `//` cases above agree with
    DuckDB's native spelling of the same expression."""
    cases = [
        ("elem(elem([[1, 2], [3, 4]], 2), 1)", "[[1, 2], [3, 4]][2][1]"),
        ("sumn([1.5, 2.5, 9.0], 2)", "1.5 + 2.5"),
        ("ntok('a b c d e') // 2", "5 // 2"),
        ("elem([10, 20, 30], ntok('x y') * 3 // 2)", "[10, 20, 30][3]"),
    ]
    for src, native in cases:
        assert duck1(con, _expand_macros(src)) == duck1(con, native), src

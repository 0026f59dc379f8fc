"""Property tests over the round-6 dialect parsers (pure python, no
Spark): top-level splitting, size literals, the GRANT grammar, and the
WITH ERROR select-list round-trip."""

import pytest

from hypothesis import given, settings, strategies as st

from snappydata_spark.dialect import (
    parse_with_error,
    split_statement,
    split_top_level,
)

# r13: excluded from the default (driver) test lane — see pytest.ini
pytestmark = pytest.mark.slow

_KEYWORDS = {
    "select", "from", "where", "group", "by", "order", "limit", "on",
    "join", "to", "as", "all", "and", "or", "grant", "revoke", "error",
    "with", "table", "inner", "having",
}
idents = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True).filter(
    lambda s: s not in _KEYWORDS
)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            idents,
            st.builds(
                lambda f, args: f + "(" + ", ".join(args) + ")",
                idents,
                st.lists(idents, min_size=1, max_size=3),
            ),
        ),
        min_size=1,
        max_size=5,
    )
)
def test_split_top_level_round_trips(items):
    """Joining arbitrary identifier/function-call items with ', ' and
    splitting again returns the original items — commas inside parens
    never split."""
    joined = ", ".join(items)
    assert split_top_level(joined) == items


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=1, max_value=10**9),
    st.sampled_from(["", "k", "m", "g"]),
)
def test_parse_size_units(n, unit):
    from snappydata_spark.session import SnappySession

    mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}[unit]
    assert SnappySession._parse_size(f"{n}{unit}") == n * mult


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            ["select", "insert", "update", "delete", "trigger", "references"]
        ),
        min_size=1,
        max_size=4,
        unique=True,
    ),
    st.lists(idents, min_size=1, max_size=3, unique=True),
    idents,
    st.booleans(),
)
def test_grant_grammar_round_trips(privs, users, table, revoke):
    verb = "REVOKE" if revoke else "GRANT"
    kw = "FROM" if revoke else "TO"
    s = split_statement(
        f"{verb} {', '.join(p.upper() for p in privs)} ON {table} "
        f"{kw} {', '.join(users)}"
    )
    assert s.kind == "grant_revoke"
    assert s.options["verb"] == verb.lower()
    assert s.options["privileges"] == privs
    assert s.options["users"] == users
    # ALL PRIVILEGES collapses to the 'all' marker
    s2 = split_statement(f"{verb} ALL PRIVILEGES ON {table} {kw} {users[0]}")
    assert s2.options["privileges"] == ["all"]


@settings(max_examples=150, deadline=None)
@given(
    idents,
    st.lists(idents, min_size=1, max_size=3, unique=True),
    st.sampled_from(["SUM", "AVG", "COUNT"]),
    idents,
    st.one_of(st.none(), st.floats(min_value=0.01, max_value=0.99)),
)
def test_with_error_parse_structure(table, groups, fn, col, frac):
    g = ", ".join(groups)
    f = f" {round(frac, 3)}" if frac is not None else ""
    parsed = parse_with_error(
        f"SELECT {g}, {fn}({col}) AS a FROM {table} "
        f"GROUP BY {g} WITH ERROR{f}"
    )
    aggs, group_items, tbl, where, group_by, pf, conf, beh, joins, errfns, ob, lim = parsed
    assert tbl == table
    assert [a[2] for a in aggs] == ["a"] and aggs[0][0] == fn.lower()
    assert [i.strip() for i in group_items] == groups
    assert joins == [] and errfns == [] and ob is None and lim is None
    if frac is None:
        assert pf is None
    else:
        assert abs(pf - round(frac, 3)) < 1e-9


# --------------------------------------------------- preparse gate (round 7)

_STMT_KEYWORDS = [
    "PUT INTO t VALUES (1)", "UPDATE t SET a = 1", "DELETE FROM t",
    "MERGE INTO t USING s ON t.k = s.k "
    "WHEN MATCHED THEN UPDATE SET v = s.v "
    "WHEN NOT MATCHED THEN INSERT *",
    "TRUNCATE TABLE t",
    "INSERT INTO t VALUES (1)", "CREATE TABLE t (a INT)",
    "GRANT SELECT ON t TO u", "CALL SYS.EXPORT_DATA('x')",
    "CREATE SYNONYM s FOR t", "DEPLOY PACKAGE p 'g:a:v'",
    "BEGIN", "START TRANSACTION", "COMMIT", "ROLLBACK", "AUTOCOMMIT OFF",
    "SET ISOLATION READ COMMITTED", "DESCRIBE HISTORY t", "VACUUM t",
    "COMPACT TABLE t",
]


@settings(max_examples=300, deadline=None)
@given(
    st.sampled_from(["SELECT", "WITH", "VALUES", "TABLE", "EXPLAIN",
                     "select", "Select", "  SELECT", "(SELECT"]),
    st.sampled_from(_STMT_KEYWORDS),
    idents,
)
def test_query_head_gate_is_conservative(head, embedded, ident):
    """The split_statement fast path (query heads skip the anchored
    statement-pattern chain) must be transparent: a statement whose head
    keyword is a plain query form parses as passthrough even when
    statement keywords appear INSIDE it (string literals, subquery
    aliases) — exactly what the ungated chain produced, since every
    pattern in the chain is anchored at a non-query keyword."""
    text = f"{head} {ident} FROM (SELECT '{embedded}' AS c) WHERE x = '{embedded}'"
    assert split_statement(text).kind == "passthrough"


@settings(max_examples=200, deadline=None)
@given(st.sampled_from(_STMT_KEYWORDS))
def test_statement_heads_still_dispatch(stmt_text):
    """Real statements (non-query heads) must keep reaching their
    patterns through the gate."""
    assert split_statement(stmt_text).kind != "passthrough"


def test_every_statement_kind_has_a_handler():
    """split_statement is the one classifier and statements.HANDLERS the
    one dispatch table: every kind it returns must have a handler."""
    from snappydata_spark.statements import HANDLERS

    for text in _STMT_KEYWORDS + ["SELECT 1"]:
        assert split_statement(text).kind in HANDLERS, text

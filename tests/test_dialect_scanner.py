"""DuckDB's own scanner reads literals, quoted identifiers and comments,
so no keyword or star sugar inside them reaches the emitted Spark SQL:
property tests over `translate()` for GENERATED statements, next to the
hand-picked regression cases (double-quoted identifiers, -- and nested
/* */ comments, EXCLUDE inside literals, the top-level WHERE of an
UPDATE)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_wasm_spark.dialect import translate

# SET assignments whose WHERE must stay HIDDEN from the statement
_hidden = st.one_of(
    st.from_regex(r"c = '[a-z ]{0,10}where[a-z ]{0,10}'", fullmatch=True),
    st.from_regex(r'"[a-z ]{0,10}where[a-z ]{0,10}" = 1', fullmatch=True),
    st.from_regex(r"c = 1 -- [a-z ]{0,10}where[a-z ]{0,10}\n", fullmatch=True),
    st.from_regex(r"c = 1 /\* [a-z ]{0,8}where[a-z ]{0,8} \*/", fullmatch=True),
    st.from_regex(r"c = \(select 1 where k[0-9]{1,3} = 2\)", fullmatch=True),
)
_plain = st.from_regex(r"k[0-9]{1,3} = [0-9]{1,4}", fullmatch=True)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(_hidden, _plain), min_size=0, max_size=5))
def test_hidden_keywords_never_found(segments):
    t = translate("update t set x = 1" + "".join(f", {s}" for s in segments))
    assert t.kind == "update" and t.sql == ""
    assert len(t.meta["assigns"]) == 1 + len(segments)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.one_of(_hidden, _plain), min_size=0, max_size=4),
    st.from_regex(r"k([0-9]{1,3}) = ([0-9]{1,4})", fullmatch=True),
)
def test_top_level_where_found_after_hidden(segments, cond):
    sets = "x = 1" + "".join(f", {s}" for s in segments)
    t = translate(f"update t set {sets} where {cond}")
    col, val = cond.split(" = ")
    assert t.sql == f"(`{col}` = {int(val)})"
    assert [c for c, _ in t.meta["assigns"]][0] == "x"
    assert len(t.meta["assigns"]) == 1 + len(segments)


@settings(max_examples=200, deadline=None)
@given(st.from_regex(r"[a-z ]{0,12}", fullmatch=True))
def test_exclude_rewrite_skips_literals(filler):
    lit = f"'* EXCLUDE ({filler})'"
    out = translate(f"select * EXCLUDE (a), {lit} as s from t").sql
    assert out == f"SELECT * EXCEPT (`a`), {lit} AS `s` FROM `t`"


# ---- comments must not desync the reading of literals


def test_comment_apostrophe_does_not_desync_exclude_rewrite():
    """An apostrophe inside a -- comment opens no string literal: the
    next '* EXCLUDE (' literal stays text and the star sugar after it
    is still read as sugar. Comments are dropped."""
    sql = (
        "select * EXCLUDE (a), -- don't touch\n"
        "'* EXCLUDE (x)' as s, * EXCLUDE (b) from t"
    )
    assert translate(sql).sql == (
        "SELECT * EXCEPT (`a`), '* EXCLUDE (x)' AS `s`, * EXCEPT (`b`) FROM `t`"
    )


def test_block_comment_apostrophe_does_not_desync():
    sql = "select /* can't */ '* EXCLUDE (y)' as s, * EXCLUDE (c) from t"
    assert translate(sql).sql == (
        "SELECT '* EXCLUDE (y)' AS `s`, * EXCEPT (`c`) FROM `t`"
    )


@settings(max_examples=200, deadline=None)
@given(
    st.from_regex(r"-- [a-z ]{0,6}'[a-z ]{0,6}\n", fullmatch=True),
    st.from_regex(r"/\* [a-z]{0,4}'[a-z]{0,4} \*/", fullmatch=True),
)
def test_comment_quotes_never_shift_spans(line_c, block_c):
    lit = "'* EXCLUDE (z)'"
    sql = f"select {line_c} {lit} as s, {block_c} * EXCLUDE (d) from t"
    assert translate(sql).sql == f"SELECT {lit} AS `s`, * EXCEPT (`d`) FROM `t`"


# ---- DuckDB block comments NEST


def test_nested_block_comment_fully_protected():
    """'/* a /* b */ tail */' is ONE comment in DuckDB, so 'tail' —
    including any star sugar or quotes inside it — is never read."""
    sql = (
        "select /* outer /* inner */ * EXCLUDE (ghost) ' */ "
        "* EXCLUDE (a) from t"
    )
    assert translate(sql).sql == "SELECT * EXCEPT (`a`) FROM `t`"


def test_unterminated_spans_extend_to_eos():
    """An unterminated literal or comment swallows the rest of the text:
    DuckDB's parser reports it, and nothing inside it is read as SQL."""
    assert translate("select 1 -- trailing * EXCLUDE (x)").sql == "SELECT 1"
    for sql in (
        "select 1 /* open /* deeper */ still-open * EXCLUDE (x)",
        "select '* EXCLUDE (x)",
        'select "* EXCLUDE (x)',
    ):
        with pytest.raises(ValueError, match="^Syntax error: unterminated"):
            translate(sql)

"""Hypothesis property tests for the pure-Python surfaces (tokenizer,
JSON inference) — golden tests pin specific reference behaviors;
these pin the INVARIANTS that must hold on arbitrary input, the class
of bug goldens cannot catch (crashes / non-monotone offsets / lattice
asymmetry on inputs nobody wrote down)."""

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_wasm_spark import dialect
from duckdb_wasm_spark.sources import json_analyzer as ja


# --------------------------------------------------------- tokenizer
@settings(max_examples=300, deadline=None)
@given(st.text(max_size=200))
def test_tokenize_never_crashes_and_offsets_are_strictly_increasing(text):
    out = dialect.tokenize(text)
    offs, types = out["offsets"], out["types"]
    assert len(offs) == len(types)
    assert all(b > a for a, b in zip(offs, offs[1:]))
    assert all(0 <= o < max(len(text), 1) for o in offs)
    # every token starts on a non-whitespace character
    assert all(text[o] not in " \t\r\n" for o in offs)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            ["select", "from", "x", "'a''b'", '"Q id"', "1.5e-3", "*",
             "--c", "/*m*/", "(", ")", ";", "?", "42"]
        ),
        max_size=12,
    )
)
def test_tokenize_token_count_is_whitespace_invariant(parts):
    """Extra whitespace between tokens must not change the token
    stream's types (offsets shift, classification must not)."""
    tight = " ".join(parts)
    loose = "   \t ".join(parts) + "  \n"
    # line comments swallow everything to EOL — only compare when no
    # line comment can eat a following token
    if any(p == "--c" for p in parts[:-1]):
        return
    assert (
        dialect.tokenize(tight)["types"]
        == dialect.tokenize(loose)["types"]
    )


# ------------------------------------------------------ JSON analyzer
_SCALARS = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=12),
)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.dictionaries(
            st.sampled_from(["a", "b", "c"]), _SCALARS, max_size=3
        ),
        min_size=1,
        max_size=12,
    )
)
def test_analyze_json_never_crashes_on_row_arrays(rows):
    t = ja.analyze_json(json.dumps(rows))
    assert t.shape is ja.Shape.ROW_ARRAY
    # every key that appears anywhere must be typed
    seen = {k for r in rows for k in r}
    got = {name for name, _ in t.type.fields}
    assert seen <= got
    # field names are emitted sorted (the analyzer's documented order)
    names = [n for n, _ in t.type.fields]
    assert names == sorted(names)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**31), max_value=2**31 - 1),
        min_size=1,
        max_size=20,
    )
)
def test_analyze_json_integer_columns_infer_integer(vals):
    t = ja.analyze_json(json.dumps([{"v": v} for v in vals]))
    (name, typ), = [c for c in t.type.fields if c[0] == "v"]
    assert typ.kind in ("int32", "uint32", "int64", "uint64"), typ.kind


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.dictionaries(
            st.sampled_from(["a", "b"]), _SCALARS, max_size=2
        ),
        min_size=2,
        max_size=10,
    )
)
def test_analyze_json_row_order_does_not_change_column_set(rows):
    """Inference is a fold over row samples — the COLUMN SET and each
    column's nullability class must not depend on row order (the
    median-type pick may, the set must not)."""
    a = ja.analyze_json(json.dumps(rows))
    b = ja.analyze_json(json.dumps(list(reversed(rows))))
    an = {n for n, _ in (a.type.fields if a.type else [])}
    bn = {n for n, _ in (b.type.fields if b.type else [])}
    assert an == bn


# ------------------------------------------------------------ dialect
import duckdb  # noqa: E402

from duckdb_wasm_spark.dialect import translate  # noqa: E402


def _spark_literal(duck_literal: str) -> str:
    """The Spark literal of the value DuckDB reads from `duck_literal`."""
    return dialect._str(duckdb.execute(f"SELECT {duck_literal}").fetchone()[0])


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="abfromrsting:*()' ECXLUDE%", max_size=40))
def test_dialect_rewrite_preserves_string_literals(body):
    """Whatever it spells, a complete single-quoted literal reaches Spark
    as the value DuckDB reads from it. The alphabet can spell
    'from'/'for'/'substring'/'::'/'EXCLUDE', the text that once fooled
    the string rewriters."""
    lit = "'" + body.replace("'", "") + "'"
    out = translate(f"select {lit} as c from t").sql
    assert out == f"SELECT {_spark_literal(lit)} AS `c` FROM `t`"


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="ab from', ", max_size=24))
def test_substring_rewrite_preserves_literal_operands(body):
    """A literal FIRST ARGUMENT of substring(x from n) stays intact even
    when it contains ' from ' itself."""
    lit = "'" + body.replace("'", "") + "'"
    out = translate(f"select substring({lit} from 2) as c from t").sql
    assert f"substring({_spark_literal(lit)}, 2)" in out


def test_substring_and_cast_rewrite_goldens():
    """Pinned repros for the literal-operand cases of substring and ::."""
    out = translate("select substring('a from b' from 2) as c from t").sql
    assert "substring('a from b', 2)" in out
    out = translate("select 'it''s'::text as c").sql
    assert "CAST('it\\'s' AS STRING)" in out
    out = translate("select substring('x for y' from 1 for 2) as c").sql
    assert "substring('x for y', 1, 2)" in out


# ----------------------------------------------------------- typenames
from duckdb_wasm_spark.sources import typenames as tn  # noqa: E402


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="abcdefgihlmnoprstuvz0123456789[](), ", max_size=25))
def test_parse_type_fails_closed(name):
    """Arbitrary type-name text either parses or raises the defined
    TypeNameError — never a stray KeyError/IndexError (the ingestion
    path surfaces this error verbatim to the API caller)."""
    try:
        tn.parse_type(name)
    except tn.TypeNameError:
        pass


# ------------------------------------------------------------ http_range
from duckdb_wasm_spark.sources.http_range import HttpRangeReader  # noqa: E402


class _FakeRange(HttpRangeReader):
    """Transport replaced by a byte slice — pins the chunk/cache/seek
    arithmetic without a server."""

    def __init__(self, data: bytes, chunk: int):
        super().__init__("http://fake/x", chunk=chunk)
        self._data = data

    def _get_range(self, start, end):
        self.request_log.append((start, end))
        if self._size is None:
            self._size = len(self._data)
        return self._data[start:end + 1]


@settings(max_examples=300, deadline=None)
@given(
    st.binary(min_size=1, max_size=200),
    st.integers(1, 32),
    st.integers(0, 250),
    st.integers(-5, 250),
)
def test_http_range_reads_equal_slices(data, chunk, pos, ln):
    f = _FakeRange(data, chunk)
    f.seek(min(pos, len(data)))
    out = f.read(ln)
    start = min(pos, len(data))
    expect = data[start:] if ln < 0 else data[start:start + ln]
    assert out == expect
    f.seek(-1, 2)
    assert f.tell() == len(data) - 1
    assert f.read(1) == data[-1:]
    # chunk-aligned transport: every request stays inside the file and
    # no single request spans more than one chunk block
    for s, e in f.request_log:
        assert 0 <= s <= e < len(data)
        assert e - s + 1 <= chunk


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="strftime%Ymd('), ", max_size=32))
def test_strftime_rewrite_preserves_literals(body):
    """A literal that can spell strftime(...) text is a literal, never a
    call."""
    lit = "'" + body.replace("'", "") + "'"
    out = translate(f"select {lit} as c from t").sql
    assert out == f"SELECT {_spark_literal(lit)} AS `c` FROM `t`"


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abc_", min_size=1, max_size=6),
    st.sampled_from(sorted(dialect._STRFTIME)),
    st.booleans(),
)
def test_strftime_rewrite_maps_every_directive(col, directive, format_first):
    """Every directive in the map becomes its Spark pattern, in either
    argument order (the sqlite texts put the format first); literal
    letters around it are quoted."""
    fmt = f"'{directive}-T'"
    args = f"{fmt}, {col}" if format_first else f"{col}, {fmt}"
    out = translate(f"select strftime({args}) from t").sql
    pattern = dialect._STRFTIME[directive]
    assert out == f"SELECT date_format(`{col}`, '{pattern}\\'-T\\'') FROM `t`"


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet="qualify rown()<=3'odrebt ", max_size=40))
def test_qualify_never_crashes_and_preserves_literals(body):
    """QUALIFY always becomes a filter on a helper column, and a
    complete literal spelling 'qualify'/'order' stays a literal."""
    lit = "'" + body.replace("'", "") + "'"
    sql = f"select {lit} as c from t qualify row_number() over (order by c) <= 2"
    out = translate(sql).sql
    assert _spark_literal(lit) in out
    assert out.endswith("WHERE __qualify")


def test_qualify_supports_distinct_and_handles_tails():
    """DISTINCT, ORDER BY and LIMIT apply after the QUALIFY filter, as in
    DuckDB: they move to the select that filters on the helper column."""
    out = translate(
        "select distinct a from t qualify row_number() over (order by a) = 1"
    ).sql
    assert out.startswith("SELECT DISTINCT * EXCEPT (__qualify) FROM (SELECT `a`,")
    out = translate(
        "select a from t qualify row_number() over (order by a) <= 2 "
        "order by a limit 1"
    ).sql
    assert out.endswith("WHERE __qualify ORDER BY `a` ASC NULLS LAST LIMIT 1")
    # 'order' inside the OVER parens stays in the predicate
    assert "(row_number() OVER (ORDER BY `a` ASC NULLS LAST) <= 2) AS __qualify" in out


@settings(max_examples=200, deadline=None)
@given(
    st.one_of(st.none(), st.text(alphabet="ab<>=1 ", min_size=1, max_size=12)),
    st.sampled_from([
        ("", []),
        (", b = (select x from u where y = 1)", ["b"]),
        (", b = 'a where b'", ["b"]),
        (", b = 1 -- where comment\n", ["b"]),
        (', "where" = 2', ["where"]),
    ]),
)
def test_update_delete_split_only_at_top_level_where(cond, decoy):
    """UPDATE and DELETE split at the statement's own WHERE only: a
    WHERE inside a subquery, a string literal, a comment or a quoted
    identifier (the decoys) never splits, and the condition is the one
    DuckDB reads after the top-level WHERE."""
    sets, cols = decoy
    tail = "" if cond is None else f" where {cond}"
    try:
        want = dialect._parse(f"select *{tail}").get("where_clause")
        cond_sql = dialect._Emit().expr(want) if want else ""
    except ValueError:  # a condition DuckDB or the emitter rejects
        with pytest.raises(ValueError):
            translate(f"delete from t{tail}")
        with pytest.raises(ValueError):
            translate(f"update t set a = 1{sets}{tail}")
        return
    up = translate(f"update t set a = 1{sets}{tail}")
    assert up.kind == "update" and up.sql == cond_sql
    assert [c for c, _ in up.meta["assigns"]] == ["a", *cols]
    de = translate(f"delete from t{tail}")
    assert de.kind == "delete" and de.sql == cond_sql


@settings(max_examples=200, deadline=None)
@given(
    st.sampled_from(["orders", 'my."tbl"', "t1"]),
    st.text(alphabet="abcdef_", min_size=1, max_size=8),
    st.text(alphabet="abcdef_", min_size=1, max_size=8),
)
def test_alter_statements_round_trip(table, old, new):
    """The three supported ALTER forms classify with exact metadata;
    arbitrary other actions fail CLOSED as unsupported (never a crash,
    never a silent partial parse)."""
    t = dialect.translate(f"ALTER TABLE {table} RENAME COLUMN {old} TO {new}")
    assert t.kind == "alter" and t.meta["op"] == "rename_column"
    assert t.meta["old"] == old and t.meta["new"] == new
    t = dialect.translate(f"ALTER TABLE {table} DROP COLUMN {old}")
    assert t.kind == "alter" and t.meta["op"] == "drop_column"
    assert t.meta["column"] == old
    t = dialect.translate(f"ALTER TABLE {table} RENAME TO {new}")
    assert t.kind == "alter" and t.meta["op"] == "rename_table"


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdef_() 1", max_size=18))
def test_alter_arbitrary_actions_fail_closed(action):
    try:
        t = dialect.translate(f"ALTER TABLE t {action}")
    except Exception as e:  # noqa: BLE001 — must be a defined error
        assert isinstance(e, ValueError), type(e)
        return
    assert t.kind in ("alter", "unsupported"), t.kind


# valid leaf type names the parser supports — round-trip through the
# SPARK simpleString and back must be a fixpoint
_LEAF_TYPES = st.sampled_from([
    "int8", "int16", "int32", "int64", "float", "double", "bool",
    "utf8", "binary", "date32", "timestamp",
])


@settings(max_examples=200, deadline=None)
@given(st.recursive(
    _LEAF_TYPES.map(lambda s: {"type": s}),
    lambda child: st.one_of(
        st.fixed_dictionaries({"type": st.just("list"),
                               "children": st.lists(child, min_size=1, max_size=1)}),
        st.fixed_dictionaries({"type": st.just("map"),
                               "children": st.lists(child, min_size=2, max_size=2)}),
        st.fixed_dictionaries({"type": st.just("struct"),
                               "children": st.lists(child, min_size=1, max_size=3)}),
    ),
    max_leaves=6,
))
def test_parse_type_round_trip_is_fixpoint(spec):
    """parse_type over a valid nested typedef, serialized to Spark's
    own JSON type encoding and parsed back (pure-Python, no JVM),
    yields the identical DataType — the parser agrees with Spark's
    type lattice on every nesting it accepts (r10 advice: the
    typenames parser had only the fails-closed property, no
    round-trip)."""
    import json as _json

    from pyspark.sql import types as T

    dt = tn.parse_type(spec)
    back = T._parse_datatype_json_string(_json.dumps(dt.jsonValue()))
    assert back == dt
    assert back.simpleString() == dt.simpleString()

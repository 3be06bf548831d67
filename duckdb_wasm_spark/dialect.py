"""DuckDB → Spark SQL translation through DuckDB's own parser.

DuckDB's parser defines the dialect we accept (exercised by the
reference's SQL corpus: packages/duckdb-wasm/test/batch_stream.test.ts,
test/bindings.test.ts, tpch/*.sql, test/filesystem.test.ts). Query text
goes through `json_serialize_sql`, which returns the parsed SELECT tree
as JSON, and `_Emit` writes Spark SQL back out of that tree: this module
is the one place that knows the tree's JSON format. A node the emitter
does not handle raises `ValueError` naming its class or type.

`json_serialize_sql` serializes SELECT only, so `translate()` first
dispatches the other statements by their heads: PRAGMA / COPY / EXPORT
/ DDL / INSERT / ALTER become structured commands the session runs
outside spark.sql. The query parts inside them (CTAS and view bodies,
INSERT sources, UPDATE assignments, DELETE / UPDATE conditions) go
through the same parser and emitter as a plain query.

Only the driver parses: each thread opens one in-memory DuckDB
connection on first use, because connections are not thread-safe.
"""

from __future__ import annotations

import hashlib
import json
import re
import threading
from dataclasses import dataclass, field


@dataclass
class Translated:
    kind: str  # query | show_tables | create_table | create_table_as |
    #            create_view | drop | insert | update | delete | copy |
    #            export | describe | alter | unsupported
    sql: str = ""
    # file tables to register before running: view_name -> (path, format)
    file_views: dict[str, tuple[str, str]] = field(default_factory=dict)
    # structured command payload (DDL/COPY/...)
    meta: dict = field(default_factory=dict)


# ------------------------------------------------------------ the parser
_local = threading.local()


def _duckdb():
    con = getattr(_local, "con", None)
    if con is None:
        import duckdb

        con = _local.con = duckdb.connect()
    return con


class ParseError(ValueError):
    """DuckDB's parser rejected the text; `condition` is the error class
    the session reports, Spark's name for the same failure."""

    condition = "PARSE_SYNTAX_ERROR"


def _parse(sql: str) -> dict:
    """The SELECT node of a one-statement query text."""
    out = json.loads(
        _duckdb()
        .execute("SELECT json_serialize_sql(?::VARCHAR)", [sql])
        .fetchone()[0]
    )
    if out.get("error"):
        if out.get("error_type") == "parser":
            raise ParseError(f"Syntax error: {out['error_message']}")
        raise ValueError(f"unsupported statement: {out['error_message']}")
    if len(out["statements"]) != 1:
        raise ValueError("expected one statement")
    return out["statements"][0]["node"]


def tokenize(text: str) -> dict[str, list[int]]:
    """The reference's Tokenize() surface (lib/src/webdb.cc:491-512):
    DuckDB's own tokenizer, with its UTF-8 byte offsets turned into
    `str` indices. Types follow the reference enum: IDENTIFIER=0,
    NUMERIC_CONSTANT=1, STRING_CONSTANT=2, OPERATOR=3, KEYWORD=4;
    comments are not tokens, as in DuckDB."""
    import duckdb

    tokens = duckdb.tokenize(text)
    starts = [0] * (len(text.encode("utf-8")) + 1)
    pos = 0
    for i, ch in enumerate(text):
        starts[pos] = i
        pos += len(ch.encode("utf-8"))
    starts[pos] = len(text)
    return {
        "offsets": [starts[off] for off, _ in tokens],
        "types": [int(kind.value) for _, kind in tokens],
    }


# ----------------------------------------------------------------- types
_TYPES = {
    "BOOLEAN": "BOOLEAN", "TINYINT": "TINYINT", "SMALLINT": "SMALLINT",
    "INTEGER": "INT", "BIGINT": "BIGINT", "HUGEINT": "DECIMAL(38,0)",
    "UTINYINT": "SMALLINT", "USMALLINT": "INT", "UINTEGER": "BIGINT",
    "UBIGINT": "DECIMAL(20,0)", "FLOAT": "FLOAT", "DOUBLE": "DOUBLE",
    "VARCHAR": "STRING", "BLOB": "BINARY", "DATE": "DATE",
    "TIMESTAMP": "TIMESTAMP", "TIMESTAMP WITH TIME ZONE": "TIMESTAMP",
    "INTERVAL": "INTERVAL",
}


def _type(t: dict) -> str:
    """Spark type name of an AST logical type (`cast_type`)."""
    tid, info = t["id"], t.get("type_info") or {}
    if tid == "DECIMAL":
        return f"DECIMAL({info['width']},{info['scale']})"
    if tid in _TYPES:
        return _TYPES[tid]
    raise ValueError(f"unsupported type {info.get('user_type_name', tid)}")


# ------------------------------------------------------------- literals
def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _str(value: str) -> str:
    """A Spark string literal: Spark unescapes backslashes, DuckDB
    does not, so both backslashes and quotes are escaped."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _constant(v: dict) -> str:
    if v.get("is_null"):
        return "NULL"
    tid, val = v["type"]["id"], v["value"]
    if tid == "VARCHAR":
        return _str(val)
    if tid == "BOOLEAN":
        return "TRUE" if val else "FALSE"
    if tid in ("DOUBLE", "FLOAT"):
        return f"{val!r}D"
    if tid == "DECIMAL":
        scale = v["type"]["type_info"]["scale"]
        digits = str(abs(val)).rjust(scale + 1, "0")
        sign = "-" if val < 0 else ""
        return f"{sign}{digits[:-scale]}.{digits[-scale:]}" if scale else str(val)
    if isinstance(val, int):
        return str(val)
    raise ValueError(f"unsupported constant type {tid}")


def _const_value(node: dict):
    """The Python value of a CONSTANT node, else None."""
    if node["class"] == "CONSTANT" and not node["value"].get("is_null"):
        return node["value"]["value"]
    return None


# sqlite/DuckDB strftime directives → Spark datetime pattern letters
_STRFTIME = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%I": "hh", "%M": "mm", "%S": "ss", "%j": "DDD", "%b": "MMM",
    "%B": "MMMM", "%a": "EEE", "%A": "EEEE", "%p": "a", "%f": "SSSSSS",
    "%%": "%",
}


def _date_pattern(fmt: str) -> str:
    out = []
    for part in re.split(r"(%.)", fmt):
        if part in _STRFTIME:
            out.append(_STRFTIME[part])
        elif part.startswith("%"):
            raise ValueError(f"unsupported strftime directive {part}")
        elif re.search(r"[A-Za-z']", part):
            out.append("'" + part.replace("'", "''") + "'")
        else:
            out.append(part)
    return "".join(out)


def _strftime(n, a):
    # either argument order: the format is the constant holding a '%'
    (ts, _), (_, fmt) = sorted(
        zip(a, n["children"]), key=lambda p: "%" in str(_const_value(p[1])))
    if not isinstance(_const_value(fmt), str):
        raise ValueError("strftime needs a constant format")
    return f"date_format({ts}, {_str(_date_pattern(_const_value(fmt)))})"


def _bounds(n, a, inclusive):
    """(start, inclusive end, step) of range / generate_series; a step
    that is not a constant is taken to be positive."""
    lo, hi = (a[0], a[1]) if len(a) > 1 else ("0", a[0])
    step = a[2] if len(a) > 2 else "1"
    down = len(a) > 2 and str(_const_value(n["children"][2])).startswith("-")
    if not inclusive:
        hi = f"{hi} {'+' if down else '-'} 1"
    return lo, hi, step, down


def _range(n, a, inclusive):
    """range / generate_series as a list: empty when the bounds run
    against the step, which Spark's `sequence` would count down."""
    lo, hi, step, down = _bounds(n, a, inclusive)
    lo, hi, step = (f"CAST({x} AS BIGINT)" for x in (lo, hi, step))
    cond = f"{hi} {'<=' if down else '>='} {lo}"
    return f"IF({cond}, sequence({lo}, {hi}, {step}), array())"


def _fold(lst: str, fn: str) -> str:
    """DuckDB's reduce without an initial value: fold the tail into the
    first element; the list is bound once so it is computed once."""
    return (f"element_at(transform(array({lst}), _l -> aggregate("
            f"slice(_l, 2, greatest(size(_l) - 1, 0)), try_element_at(_l, 1), "
            f"{fn})), 1)")


def _split(n, a):
    sep = _const_value(n["children"][1])
    if isinstance(sep, str):  # a literal separator, not a pattern
        pattern = re.sub(r"([^\w ])", r"\\\1", sep)
        return f"split({a[0]}, {_str(pattern)})"
    return f"split({a[0]}, concat('\\\\Q', {a[1]}, '\\\\E'))"


def _regexp_replace(n, a):
    rep = _const_value(n["children"][2])
    if not isinstance(rep, str):
        raise ValueError("regexp_replace needs a constant replacement")
    opts = _const_value(n["children"][3]) if len(a) > 3 else ""
    if "g" not in (opts or ""):
        raise ValueError("regexp_replace without the 'g' option")
    rep = re.sub(r"\\(\d)", r"$\1", rep.replace("$", "\\$"))
    return f"regexp_replace({a[0]}, {a[1]}, {_str(rep)})"


def _time_bucket(n, a):
    # buckets counted from DuckDB's origin, Monday 2000-01-03 00:00
    us = f"unix_micros(CAST({a[1]} AS TIMESTAMP))"
    width = f"unix_micros(TIMESTAMP '1970-01-01 00:00:00' + {a[0]})"
    return f"timestamp_micros({us} - pmod({us} - 946857600000000, {width}))"


def _list_aggregate(n, a):
    name = _const_value(n["children"][1])
    if name == "string_agg":
        return f"array_join({a[0]}, {a[2] if len(a) > 2 else _str(',')})"
    if name in ("min", "max"):
        return f"array_{name}({a[0]})"
    if name == "sum":
        return _FUNCS["list_sum"](n, a)
    raise ValueError(f"unsupported list_aggregate {name!r}")


def _list_sort(n, a):
    # DuckDB sorts NULLs last in both directions unless told otherwise
    opts = [str(_const_value(c)).upper().replace("_", " ") for c in n["children"][1:]]
    desc = bool(opts) and opts[0].startswith("DESC")
    nulls_first = opts[1:] == ["NULLS FIRST"]
    return {
        (False, False): "array_sort({0})",
        (False, True): "sort_array({0}, true)",
        (True, False): "sort_array({0}, false)",
        (True, True): "reverse(array_sort({0}))",
    }[desc, nulls_first].format(a[0])


def _unit(n) -> str:
    unit = _const_value(n["children"][0])
    if not isinstance(unit, str) or not unit.isalpha():
        raise ValueError("date part must be a constant")
    return unit.upper().rstrip("S") if unit.lower() != "dow" else unit


# functions that return a list, for `length`, which DuckDB applies to
# strings and lists alike
_LISTS = {
    "string_split", "string_split_regex", "regexp_extract_all",
    "range", "generate_series", "list_value", "list_filter", "list_transform",
    "list_distinct", "list_intersect", "list_sort", "list_slice", "list_zip",
    "list", "array_agg",
}


def _length(n, a):
    arg = n["children"][0]
    is_list = arg.get("function_name") in _LISTS or arg["type"] == "ARRAY_SLICE"
    return f"{'size' if is_list else 'length'}({a[0]})"


def _interval(unit):
    return lambda n, a: f"(INTERVAL '1' {unit} * {a[0]})"


# set-returning functions: the list each one expands into rows
_SRF = {
    "unnest": "{0}",
    "generate_subscripts": "IF(size({0}) > 0, sequence(1, size({0})), array())",
}

# DuckDB function → Spark: a template over the emitted arguments
# ({0}, {1}, ... and {args} for all of them), or a function of the
# FUNCTION node and those arguments. A name not listed passes as is.
_FUNCS = {
    "+": "({0} + {1})", "-": "({0} - {1})", "*": "({0} * {1})",
    "/": "({0} / {1})", "%": "({0} % {1})", "//": "({0} DIV {1})",
    "**": "power({0}, {1})", "pow": "power({0}, {1})",
    "&": "({0} & {1})", "|": "({0} | {1})", "xor": "({0} ^ {1})",
    "<<": "shiftleft({0}, {1})", ">>": "shiftright({0}, {1})",
    "||": "({0} || {1})", "~~": "({0} LIKE {1})", "!~~": "({0} NOT LIKE {1})",
    "json_extract_string": "get_json_object({0}, {1})",
    "count_star": "count(*)",
    "any_value": "any_value({0}, true)",
    "len": "size({0})", "array_length": "size({0})", "length": _length,
    "array_to_string": "array_join({0}, {1})",
    "list_value": "array({args})",
    "row": "struct({args})",
    "list_filter": "filter({0}, {1})", "list_transform": "transform({0}, {1})",
    "list_contains": "array_contains({0}, {1})",
    "list_distinct": "array_distinct(array_compact({0}))",
    "list_intersect": "array_intersect({0}, {1})",
    "list_max": "array_max({0})", "list_min": "array_min({0})",
    "list_sort": _list_sort,
    "list_slice": (
        "slice({0}, CAST({1} AS INT), CAST(greatest({2} - {1} + 1, 0) AS INT))"),
    "list_reduce": lambda n, a: _fold(a[0], a[1]),
    "list_sum": lambda n, a: _fold(
        f"filter({a[0]}, _x -> _x IS NOT NULL)", "(_a, _b) -> _a + _b"),
    "list_aggregate": _list_aggregate,
    "range": lambda n, a: _range(n, a, inclusive=False),
    "generate_series": lambda n, a: _range(n, a, inclusive=True),
    "unnest": "explode({0})",
    "generate_subscripts": "explode(" + _SRF["generate_subscripts"] + ")",
    "string_split": _split,
    "string_split_regex": "split({0}, {1})",
    "regexp_matches": "regexp_like({0}, {1})",
    "regexp_extract": lambda n, a: (
        f"regexp_extract({a[0]}, {a[1]}, {a[2] if len(a) > 2 else 0})"),
    "regexp_extract_all": lambda n, a: (
        f"regexp_extract_all({a[0]}, {a[1]}, {a[2] if len(a) > 2 else 0})"),
    "regexp_replace": _regexp_replace,
    "unicode": "ascii({0})",
    "encode": "encode({0}, 'UTF-8')",
    "to_base": lambda n, a: (f"lpad(conv({a[0]}, 10, {a[1]}), {a[2]}, '0')"
                             if len(a) > 2 else f"conv({a[0]}, 10, {a[1]})"),
    "strftime": _strftime,
    "dayofweek": "(dayofweek({0}) - 1)",
    "date_part": lambda n, a: (f"(dayofweek({a[1]}) - 1)" if _unit(n) == "dow"
                               else f"date_part({_str(_unit(n))}, {a[1]})"),
    "datediff": lambda n, a: f"timestampdiff({_unit(n)}, {a[1]}, {a[2]})",
    "date_diff": lambda n, a: f"timestampdiff({_unit(n)}, {a[1]}, {a[2]})",
    "epoch_us": "unix_micros(CAST({0} AS TIMESTAMP))",
    "epoch": "(unix_micros(CAST({0} AS TIMESTAMP)) / 1000000.0D)",
    "time_bucket": _time_bucket,
    "trunc": "CAST(CAST({0} AS BIGINT) AS DOUBLE)",
    "to_years": _interval("YEAR"), "to_months": _interval("MONTH"),
    "to_days": _interval("DAY"), "to_hours": _interval("HOUR"),
    "to_minutes": _interval("MINUTE"), "to_seconds": _interval("SECOND"),
}

_COMPARE = {
    "COMPARE_EQUAL": "=", "COMPARE_NOTEQUAL": "<>", "COMPARE_LESSTHAN": "<",
    "COMPARE_GREATERTHAN": ">", "COMPARE_LESSTHANOREQUALTO": "<=",
    "COMPARE_GREATERTHANOREQUALTO": ">=",
    "COMPARE_DISTINCT_FROM": "IS DISTINCT FROM",
    "COMPARE_NOT_DISTINCT_FROM": "IS NOT DISTINCT FROM",
}
_JOINS = {
    "INNER": "JOIN", "LEFT": "LEFT JOIN", "RIGHT": "RIGHT JOIN",
    "FULL": "FULL OUTER JOIN", "SEMI": "LEFT SEMI JOIN", "ANTI": "LEFT ANTI JOIN",
}
_FILE_SCANS = {
    "read_parquet": "parquet", "parquet_scan": "parquet", "read_csv": "csv",
    "read_csv_auto": "csv", "read_json": "json", "read_json_auto": "json",
}
_FRAME = {
    "UNBOUNDED_PRECEDING": "UNBOUNDED PRECEDING",
    "UNBOUNDED_FOLLOWING": "UNBOUNDED FOLLOWING",
    "CURRENT_ROW_ROWS": "CURRENT ROW", "CURRENT_ROW_RANGE": "CURRENT ROW",
    "EXPR_PRECEDING_ROWS": "{} PRECEDING", "EXPR_FOLLOWING_ROWS": "{} FOLLOWING",
    "EXPR_PRECEDING_RANGE": "{} PRECEDING", "EXPR_FOLLOWING_RANGE": "{} FOLLOWING",
}


def _view_name_for(path: str, fmt: str) -> str:
    """One name per (file, format): a live view over `a/x.parquet`
    keeps reading that file after another statement binds `b/x.parquet`."""
    stem = re.sub(r"\W+", "_", path.rsplit("/", 1)[-1])
    digest = hashlib.md5(f"{fmt}:{path}".encode()).hexdigest()[:8]
    return f"_file_{stem}_{digest}"


def _names(node, found: set[str]) -> set[str]:
    """Every identifier a subtree's column refs use as a qualifier."""
    if isinstance(node, dict):
        if node.get("class") == "COLUMN_REF" and len(node["column_names"]) > 1:
            found.add(node["column_names"][0].lower())
        for v in node.values():
            _names(v, found)
    elif isinstance(node, list):
        for v in node:
            _names(v, found)
    return found


class _Emit:
    """Spark SQL text of one parsed query; collects its file views."""

    def __init__(self):
        self.views: dict[str, tuple[str, str]] = {}
        self.zipped: set[str] = set()  # lambda params bound to list_zip pairs

    # ------------------------------------------------------ query nodes
    def query(self, node: dict) -> str:
        t = node["type"]
        if t == "SELECT_NODE":
            body = self.select(node)
        elif t == "SET_OPERATION_NODE":
            op = node["setop_type"].replace("_", " ")
            if op not in ("UNION", "EXCEPT", "INTERSECT"):
                raise ValueError(f"unsupported set operation {op}")
            op += " ALL" if node.get("setop_all") else ""
            body = f"({self.query(node['left'])}) {op} ({self.query(node['right'])})"
            body += self.modifiers(node)
        else:
            raise ValueError(f"unsupported query node {t}")
        return self.ctes(node) + body

    def ctes(self, node: dict) -> str:
        entries = (node.get("cte_map") or {}).get("map") or []
        if not entries:
            return ""
        parts, recursive = [], False
        for e in entries:
            q = e["value"]["query"]["node"]
            cols = e["value"].get("aliases") or []
            head = _ident(e["key"]) + (
                f"({', '.join(map(_ident, cols))})" if cols else "")
            if q["type"] == "RECURSIVE_CTE_NODE":
                recursive = True
                op = "UNION ALL" if q.get("union_all") else "UNION"
                body = f"{self.query(q['left'])} {op} {self.query(q['right'])}"
            else:
                body = self.query(q)
            parts.append(f"{head} AS ({body})")
        return f"WITH {'RECURSIVE ' if recursive else ''}{', '.join(parts)} "

    def select(self, node: dict) -> str:
        distinct = ""
        for m in node.get("modifiers") or []:
            if m["type"] == "DISTINCT_MODIFIER":
                if m.get("distinct_on_targets"):
                    raise ValueError("unsupported modifier DISTINCT ON")
                distinct = "DISTINCT "
        items = [self.item(e) for e in node["select_list"]]
        srfs = [i for i, e in enumerate(node["select_list"])
                if e["class"] == "FUNCTION" and e["function_name"] in _SRF]
        if len(srfs) > 1:
            # DuckDB zips the lists of several unnests in one select list
            if srfs != list(range(srfs[0], srfs[0] + len(srfs))):
                raise ValueError("unsupported unnest apart from another unnest")
            srf = [node["select_list"][i] for i in srfs]
            lists = [_SRF[e["function_name"]].format(*map(self.expr, e["children"]))
                     for e in srf]
            names = [_ident(e.get("alias") or f"unnest{i}") for i, e in enumerate(srf)]
            items[srfs[0]:srfs[-1] + 1] = [
                f"inline(arrays_zip({', '.join(lists)})) AS ({', '.join(names)})"]
        qualify = node.get("qualify")
        if qualify:
            # Spark has no QUALIFY: filter on a helper column outside,
            # then apply DISTINCT and the ORDER / LIMIT tail there
            aliases = {e["alias"].lower(): e
                       for e in node["select_list"] if e.get("alias")}
            items.append(f"{self.expr(self.inline(qualify, aliases))} AS __qualify")
        sql = f"SELECT {'' if qualify else distinct}{', '.join(items)}"
        if node["from_table"]["type"] != "EMPTY":
            sql += " FROM " + self.table(node["from_table"])
        if node.get("where_clause"):
            sql += " WHERE " + self.expr(node["where_clause"])
        sql += self.group_by(node)
        if node.get("having"):
            sql += " HAVING " + self.expr(node["having"])
        if qualify:
            sql = f"SELECT {distinct}* EXCEPT (__qualify) FROM ({sql}) WHERE __qualify"
        return sql + self.modifiers(node)

    def inline(self, node, aliases: dict):
        """`node` with each bare reference to a select-list alias
        replaced by the aliased expression."""
        if isinstance(node, list):
            return [self.inline(v, aliases) for v in node]
        if not isinstance(node, dict):
            return node
        if node.get("class") == "COLUMN_REF" and len(node["column_names"]) == 1:
            target = aliases.get(node["column_names"][0].lower())
            if target is not None:
                return {**target, "alias": ""}
        return {k: self.inline(v, aliases) for k, v in node.items()}

    def group_by(self, node: dict) -> str:
        if node.get("aggregate_handling") == "FORCE_AGGREGATES":
            return " GROUP BY ALL"
        exprs = [self.expr(e) for e in node.get("group_expressions") or []]
        if not exprs:
            return ""
        sets = node.get("group_sets") or []
        if len(sets) == 1 and sorted(sets[0]) == list(range(len(exprs))):
            return " GROUP BY " + ", ".join(exprs)
        return " GROUP BY GROUPING SETS (" + ", ".join(
            "(" + ", ".join(exprs[i] for i in s) + ")" for s in sets) + ")"

    def modifiers(self, node: dict) -> str:
        out = ""
        for m in node.get("modifiers") or []:
            if m["type"] == "ORDER_MODIFIER":
                out += " ORDER BY " + self.orders(m["orders"])
            elif m["type"] == "LIMIT_MODIFIER":
                if m.get("limit"):
                    out += " LIMIT " + self.expr(m["limit"])
                if m.get("offset"):
                    out += " OFFSET " + self.expr(m["offset"])
            elif m["type"] != "DISTINCT_MODIFIER":
                raise ValueError(f"unsupported modifier {m['type']}")
        return out

    def orders(self, orders: list) -> str:
        # DuckDB sorts NULLs last in both directions; say so explicitly
        return ", ".join(
            self.expr(o["expression"])
            + (" DESC" if o["type"] == "DESCENDING" else " ASC")
            + (" NULLS FIRST" if o["null_order"] == "NULLS_FIRST" else " NULLS LAST")
            for o in orders
        )

    # ------------------------------------------------------- table refs
    def table(self, ref: dict, right_of: dict | None = None) -> str:
        t = ref["type"]
        alias = ref.get("alias") or ""
        cols = ref.get("column_name_alias") or []
        if t == "BASE_TABLE":
            name = ref["table_name"]
            if re.search(r"\.(csv|parquet|json)$", name, re.I):
                fmt = name.rsplit(".", 1)[-1].lower()
                return self.file_view(name, fmt, alias, cols)
            sql = _ident(name)
        elif t == "JOIN":
            return self.join(ref, comma=right_of is None)
        elif t == "SUBQUERY":
            lateral = ""
            # DuckDB infers LATERAL; Spark needs the keyword
            if right_of and _names(ref["subquery"], set()) & _bound(right_of):
                lateral = "LATERAL "
            sql = f"{lateral}({self.query(ref['subquery']['node'])})"
        elif t == "TABLE_FUNCTION":
            return self.table_function(ref, alias, cols, right_of is not None)
        elif t == "EXPRESSION_LIST":
            rows = ", ".join("(" + ", ".join(map(self.expr, row)) + ")"
                             for row in ref["values"])
            cols = cols or [f"col{i}" for i in range(len(ref["values"][0]))]
            sql, alias = f"VALUES {rows}", alias or "valueslist"
        elif t == "PIVOT" and not ref.get("aggregates") and ref.get("unpivot_names"):
            return self.unpivot(ref, alias)
        else:
            raise ValueError(f"unsupported table ref {t}")
        return sql + _alias(alias, cols)

    def join(self, ref: dict, comma: bool) -> str:
        """`comma`: a cross join may be written `a, b` (a plain inner
        join to Spark's planner) while every join left of it is one."""
        kind = ref["ref_type"]
        left = ref["left"]
        if left["type"] == "JOIN":
            left = self.join(left, comma and kind == "CROSS")
        else:
            left = self.table(left)
        right = self.table(ref["right"], right_of=ref["left"])
        if ref["right"]["type"] == "JOIN":
            right = f"({right})"
        if kind == "CROSS":
            return f"{left}{',' if comma else ' CROSS JOIN'} {right}"
        if kind != "REGULAR" or ref["join_type"] not in _JOINS:
            raise ValueError(f"unsupported join {kind} {ref['join_type']}")
        sql = f"{left} {_JOINS[ref['join_type']]} {right}"
        if ref.get("using_columns"):
            return sql + f" USING ({', '.join(map(_ident, ref['using_columns']))})"
        if ref.get("condition"):
            return sql + " ON " + self.expr(ref["condition"])
        return sql

    def file_view(self, path: str, fmt: str, alias: str, cols: list) -> str:
        name = _view_name_for(path, fmt)
        self.views[name] = (path, fmt)
        return name + _alias(alias, cols)

    def table_function(self, ref: dict, alias: str, cols: list, lateral: bool) -> str:
        fn = ref["function"]
        name = fn["function_name"].lower()
        args = [self.expr(c) for c in fn["children"]]
        if name in _FILE_SCANS:
            path = _const_value(fn["children"][0])
            if not isinstance(path, str):
                raise ValueError(f"{name} needs a constant path")
            return self.file_view(path, _FILE_SCANS[name], alias, cols)
        if name in ("range", "generate_series"):
            # Spark's range TVF excludes its end, like DuckDB's range
            lo, hi, step, down = _bounds(fn, args, name == "generate_series")
            end = f"{hi} {'-' if down else '+'} 1"
            return f"range({lo}, {end}, {step})" + _alias(alias or name, cols or [name])
        if name == "unnest":
            return (("LATERAL " if lateral else "") + f"explode({args[0]})"
                    + _alias(alias or "unnest", cols or ["unnest"]))
        raise ValueError(f"unsupported table function {name}")

    def unpivot(self, ref: dict, alias: str) -> str:
        (pivot,) = ref["pivots"]
        columns = [_ident(str(e["values"][0]["value"])) for e in pivot["entries"]]
        nulls = " INCLUDE NULLS" if ref.get("include_nulls") else ""
        return (f"{self.table(ref['source'])} UNPIVOT{nulls} ("
                f"{', '.join(map(_ident, ref['unpivot_names']))} FOR "
                f"{_ident(pivot['unpivot_names'][0])} IN ({', '.join(columns)}))"
                + _alias(alias, []))

    # ------------------------------------------------------ expressions
    def item(self, e: dict) -> str:
        sql = self.expr(e)
        return f"{sql} AS {_ident(e['alias'])}" if e.get("alias") else sql

    def expr(self, e: dict) -> str:
        c, t = e["class"], e["type"]
        ch = e.get("children") or []
        if c == "COLUMN_REF":
            return ".".join(map(_ident, e["column_names"]))
        if c == "CONSTANT":
            return _constant(e["value"])
        if c == "PARAMETER":
            return "?"
        if c == "CAST":
            return self.cast(e)
        if c == "COMPARISON":
            return f"({self.expr(e['left'])} {_COMPARE[t]} {self.expr(e['right'])})"
        if c == "CONJUNCTION":
            op = " AND " if t == "CONJUNCTION_AND" else " OR "
            return "(" + op.join(self.expr(x) for x in ch) + ")"
        if c == "BETWEEN":
            return (f"({self.expr(e['input'])} BETWEEN {self.expr(e['lower'])} "
                    f"AND {self.expr(e['upper'])})")
        if c == "CASE":
            whens = " ".join(f"WHEN {self.expr(w['when_expr'])} THEN "
                             f"{self.expr(w['then_expr'])}" for w in e["case_checks"])
            return f"CASE {whens} ELSE {self.expr(e['else_expr'])} END"
        if c == "OPERATOR":
            return self.operator(e)
        if c == "SUBQUERY":
            return self.subquery(e)
        if c == "STAR":
            if e.get("relation_name"):
                star = _ident(e["relation_name"]) + ".*"
            else:
                star = "*"
            if e.get("replace_list") or e.get("columns"):
                raise ValueError("unsupported star expression")
            excl = ", ".join(map(_ident, sorted(e.get("exclude_list") or [])))
            return star + (f" EXCEPT ({excl})" if excl else "")
        if c == "LAMBDA":
            lhs = e["lhs"]
            params = lhs["children"] if lhs["class"] == "FUNCTION" else [lhs]
            names = ", ".join(p["column_names"][0] for p in params)
            return f"({names}) -> {self.expr(e['expr'])}" if len(params) > 1 else (
                f"{names} -> {self.expr(e['expr'])}")
        if c == "WINDOW":
            return self.window(e)
        if c == "FUNCTION":
            return self.function(e)
        raise ValueError(f"unsupported expression {c}")

    def cast(self, e: dict) -> str:
        child, to = e["child"], _type(e["cast_type"])
        # ('0x' || hex)::BIGINT: DuckDB parses hex strings, Spark converts
        if (to in ("TINYINT", "SMALLINT", "INT", "BIGINT")
                and child["class"] == "FUNCTION" and child["function_name"] == "||"
                and _const_value(child["children"][0]) == "0x"):
            return f"CAST(conv({self.expr(child['children'][1])}, 16, 10) AS {to})"
        op = "TRY_CAST" if e.get("try_cast") else "CAST"
        return f"{op}({self.expr(child)} AS {to})"

    def operator(self, e: dict) -> str:
        t = e["type"]
        a = [self.expr(x) for x in e["children"]]
        if t == "OPERATOR_NOT":
            return f"(NOT {a[0]})"
        if t == "OPERATOR_IS_NULL":
            return f"({a[0]} IS NULL)"
        if t == "OPERATOR_IS_NOT_NULL":
            return f"({a[0]} IS NOT NULL)"
        if t == "OPERATOR_COALESCE":
            return f"coalesce({', '.join(a)})"
        if t in ("COMPARE_IN", "COMPARE_NOT_IN"):
            neg = " NOT" if t == "COMPARE_NOT_IN" else ""
            return f"({a[0]}{neg} IN ({', '.join(a[1:])}))"
        if t == "ARRAY_EXTRACT":
            first = e["children"][0]
            if (first["class"] == "COLUMN_REF" and len(first["column_names"]) == 1
                    and first["column_names"][0] in self.zipped):
                return f"{a[0]}.{_ident(str(_const_value(e['children'][1])))}"
            return f"try_element_at({a[0]}, CAST({a[1]} AS INT))"
        if t == "ARRAY_SLICE":
            return _FUNCS["list_slice"].format(*a)
        if t == "STRUCT_EXTRACT":
            return f"{a[0]}.{_ident(_const_value(e['children'][1]))}"
        if t == "GROUPING_FUNCTION":
            return f"grouping_id({', '.join(a)})" if len(a) > 1 else f"grouping({a[0]})"
        raise ValueError(f"unsupported operator {t}")

    def subquery(self, e: dict) -> str:
        sub = self.query(e["subquery"]["node"])
        kind = e["subquery_type"]
        if kind == "SCALAR":
            return f"({sub})"
        if kind == "EXISTS":
            return f"(EXISTS ({sub}))"
        if kind == "ANY" and e["comparison_type"] == "COMPARE_EQUAL":
            return f"({self.expr(e['child'])} IN ({sub}))"
        raise ValueError(f"unsupported subquery {kind} {e.get('comparison_type')}")

    def window(self, e: dict) -> str:
        name = e["function_name"].lower()
        args = [self.expr(x) for x in e.get("children") or []]
        for key in ("offset_expr", "default_expr"):
            if e.get(key):
                args.append(self.expr(e[key]))
        if e.get("default_expr") and not e.get("offset_expr"):
            args.insert(1, "1")
        if e.get("distinct") or e.get("filter_expr"):
            raise ValueError("unsupported window DISTINCT / FILTER")
        sql = f"{name}({', '.join(args)})" if args else (
            "count(*)" if name.startswith("count") else f"{name}()")
        if e.get("ignore_nulls"):
            sql += " IGNORE NULLS"
        spec = []
        if e.get("partitions"):
            spec.append("PARTITION BY " + ", ".join(map(self.expr, e["partitions"])))
        if e.get("orders"):
            spec.append("ORDER BY " + self.orders(e["orders"]))
        frame = (e["start"], e["end"])
        if frame != ("UNBOUNDED_PRECEDING", "CURRENT_ROW_RANGE"):
            mode = "RANGE" if "RANGE" in frame[0] + frame[1] else "ROWS"
            lo, hi = (_FRAME[f].format(self.expr(e[k]) if e.get(k) else "")
                      for f, k in zip(frame, ("start_expr", "end_expr")))
            spec.append(f"{mode} BETWEEN {lo} AND {hi}")
        return f"{sql} OVER ({' '.join(spec)})"

    def function(self, e: dict) -> str:
        name = e["function_name"].lower()
        ch = e.get("children") or []
        orders = (e.get("order_bys") or {}).get("orders") or []
        if name in ("list", "array_agg", "string_agg"):
            return self.list_agg(e, name, orders)
        if orders:
            raise ValueError(f"unsupported ordered aggregate {name}")
        if name == "struct_pack":
            return "named_struct(" + ", ".join(
                f"{_str(x['alias'])}, {self.expr(x)}" for x in ch) + ")"
        if name == "list_zip":
            if len(ch) != 2:
                raise ValueError("list_zip takes two lists")
            a = [self.expr(x) for x in ch]
            pair = "(_p, _q) -> named_struct('1', _p, '2', _q)"
            return f"zip_with({a[0]}, {a[1]}, {pair})"
        zipped = set()
        if ch and ch[0]["class"] == "FUNCTION" and ch[0]["function_name"] == "list_zip":
            zipped = {p["column_names"][0] for x in ch[1:] if x["class"] == "LAMBDA"
                      for p in [x["lhs"]] if p["class"] == "COLUMN_REF"}
        self.zipped |= zipped
        a = [self.expr(x) for x in ch]
        self.zipped -= zipped
        if len(a) == 1 and name in ("-", "+"):
            return f"({name}{a[0]})"
        spec = _FUNCS.get(name)
        try:
            if callable(spec):
                sql = spec(e, a)
            elif spec:
                sql = spec.format(*a, args=", ".join(a))
        except IndexError:
            raise ValueError(f"unsupported {name} of {len(a)} arguments") from None
        if not spec:
            sql = f"{name}({'DISTINCT ' if e.get('distinct') else ''}{', '.join(a)})"
        if e.get("filter"):
            sql += f" FILTER (WHERE {self.expr(e['filter'])})"
        return sql

    def list_agg(self, e: dict, name: str, orders: list) -> str:
        """list / string_agg, sorted when they carry an ORDER BY: Spark
        4.1 rejects collect_list(...) WITHIN GROUP, so collect structs
        of (null flag, key, ..., value), sort them and keep the value."""
        ch = e["children"]
        value = self.expr(ch[0])
        if e.get("distinct"):
            raise ValueError(f"unsupported {name}(DISTINCT ...)")
        if not orders:  # a struct per row, so NULL values stay in the list
            lst = f"transform(collect_list(named_struct('v', {value})), _s -> _s.v)"
        else:
            if len({o["type"] == "DESCENDING" for o in orders}) > 1:
                raise ValueError(f"unsupported {name} ORDER BY mixed directions")
            desc = orders[0]["type"] == "DESCENDING"
            fields = []
            for i, o in enumerate(orders):
                k = self.expr(o["expression"])
                nulls_first = o["null_order"] == "NULLS_FIRST"
                flag = "IS NOT NULL" if nulls_first != desc else "IS NULL"
                fields.append(f"'n{i}', {k} {flag}, 'k{i}', {k}")
            rows = f"collect_list(named_struct({', '.join(fields)}, 'v', {value}))"
            lst = f"transform(sort_array({rows}, {str(not desc).lower()}), _s -> _s.v)"
        if e.get("filter"):
            raise ValueError(f"unsupported {name} FILTER")
        if name in ("list", "array_agg"):
            return lst
        sep = self.expr(ch[1]) if len(ch) > 1 else _str(",")
        return f"array_join({lst}, {sep})"


def _bound(ref: dict) -> set[str]:
    """The names a FROM item binds, as seen by a LATERAL right side."""
    if ref["type"] == "JOIN":
        return _bound(ref["left"]) | _bound(ref["right"])
    name = ref.get("alias") or ref.get("table_name") or ""
    return {name.lower()} if name else set()


def _alias(alias: str, cols: list) -> str:
    if not alias:
        return ""
    names = f"({', '.join(map(_ident, cols))})" if cols else ""
    return f" AS {_ident(alias)}{names}"


def _query(sql: str) -> tuple[str, dict[str, tuple[str, str]]]:
    em = _Emit()
    return em.query(_parse(sql)), em.views


def _clause(tail: str, head: str = "*") -> tuple[dict, _Emit]:
    """Parse `SELECT <head> <tail>` for an UPDATE / DELETE: the tail may
    hold nothing but a WHERE condition."""
    node = _parse(f"SELECT {head} {tail}")
    extra = [k for k in ("group_expressions", "having", "qualify", "modifiers")
             if node.get(k)]
    if extra or node["from_table"]["type"] != "EMPTY":
        raise ValueError(f"unsupported clause before WHERE: {tail!r}")
    return node, _Emit()


# ----------------------------------------------------------- statements
_NAME = r"([\w.\"]+)"


def _stmt(pattern: str) -> re.Pattern:
    """A whole statement: any case, optional trailing `;`."""
    return re.compile(rf"^\s*{pattern}\s*;?\s*$", re.IGNORECASE | re.DOTALL)


_PRAGMA_RE = _stmt(r"PRAGMA\s+(\w+)")
_EXPORT_RE = _stmt(r"EXPORT\s+DATABASE\s+'([^']+)'\s*(?:\(\s*FORMAT\s+(\w+)\s*\))?")
_COPY_RE = _stmt(
    r"COPY\s+(\([^)]*\)|[\w.\"]+)\s+TO\s+'([^']+)'\s*(?:\(|WITH\s*\()?([^)]*)\)?")
_CTAS_RE = _stmt(rf"CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s+{_NAME}\s+AS\s+(.*?)")
_CREATE_TABLE_RE = _stmt(rf"CREATE\s+TABLE\s+{_NAME}\s*\((.*)\)")
_CREATE_VIEW_RE = _stmt(rf"CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+{_NAME}\s+AS\s+(.*?)")
_DROP_RE = _stmt(rf"DROP\s+(TABLE|VIEW)\s+(IF\s+EXISTS\s+)?{_NAME}")
_TRUNCATE_RE = _stmt(rf"TRUNCATE\s+(?:TABLE\s+)?{_NAME}")
_DESCRIBE_RE = _stmt(rf"DESCRIBE\s+{_NAME}")
_ALTER_RE = _stmt(rf"ALTER\s+TABLE\s+{_NAME}(?:\s+(.+?))?")
_ALTER_ACTIONS = [  # (op, action pattern, meta keys of its groups)
    ("rename_column", r"RENAME\s+(?:COLUMN\s+)?([\w\"]+)\s+TO\s+([\w\"]+)",
     ("old", "new")),
    ("rename_table", rf"RENAME\s+TO\s+{_NAME}", ("new",)),
    ("drop_column", r"DROP\s+(?:COLUMN\s+)?([\w\"]+)", ("column",)),
    ("add_column", r"ADD\s+(?:COLUMN\s+)?(.+)", ("column_sql",)),
]
# UPDATE/DELETE heads capture the table and the raw tail, which the
# parser then reads: a WHERE inside a literal, a comment or a subquery
# never splits the statement
_DELETE_RE = _stmt(rf"DELETE\s+FROM\s+{_NAME}\s*(.*?)")
_UPDATE_RE = _stmt(rf"UPDATE\s+{_NAME}\s+SET\s+(.*?)")
# an explicit column list is a strict identifier list, so a
# parenthesized query body is never mistaken for one
_INSERT_RE = _stmt(
    rf"INSERT\s+INTO\s+{_NAME}\s*(?:\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)\s*)?\s(.*?)")


def _norm_name(name: str) -> str:
    name = name.strip().strip('"')
    return name.split(".")[-1]  # schemas collapse to the default ("main")


def _copy_options(text: str) -> dict[str, str]:
    opts: dict[str, str] = {}
    # split on commas OUTSIDE single quotes so DELIMITER ',' survives
    for part in re.split(r",(?=(?:[^']*'[^']*')*[^']*$)", text):
        if kv := part.split(None, 1):
            opts[kv[0].lower()] = kv[1].strip().strip("'") if len(kv) > 1 else "true"
    return opts


def translate(sql: str) -> Translated:
    """Classify one statement; emit the Spark SQL of its query parts."""
    if m := _PRAGMA_RE.match(sql):
        pragma = m.group(1).lower()
        if pragma == "show_tables":
            return Translated("show_tables")
        return Translated("unsupported", meta={"pragma": pragma})
    if m := _EXPORT_RE.match(sql):
        fmt = (m.group(2) or "csv").lower()
        return Translated("export", meta={"dir": m.group(1), "format": fmt})
    if m := _COPY_RE.match(sql):
        src, path = m.group(1), m.group(2)
        meta = {"path": path, "options": _copy_options(m.group(3) or "")}
        if src.startswith("("):
            inner, views = _query(src[1:-1])
            return Translated("copy", inner, views, {**meta, "source": None})
        return Translated("copy", meta={**meta, "source": _norm_name(src)})
    for kind, regex in ("create_table_as", _CTAS_RE), ("create_view", _CREATE_VIEW_RE):
        if m := regex.match(sql):
            meta = {"name": _norm_name(m.group(1))}
            return Translated(kind, *_query(m.group(2)), meta)
    if m := _CREATE_TABLE_RE.match(sql):
        meta = {"name": _norm_name(m.group(1)), "columns_sql": m.group(2)}
        return Translated("create_table", meta=meta)
    if m := _DROP_RE.match(sql):
        meta = {"what": m.group(1).lower(), "if_exists": bool(m.group(2)),
                "name": _norm_name(m.group(3))}
        return Translated("drop", meta=meta)
    if m := _TRUNCATE_RE.match(sql):
        # TRUNCATE ≡ unfiltered DELETE: same execution path
        return Translated("delete", meta={"name": _norm_name(m.group(1))})
    if m := _DESCRIBE_RE.match(sql):
        return Translated("describe", meta={"name": _norm_name(m.group(1))})
    if m := _ALTER_RE.match(sql):
        return Translated("alter", meta=_alter(_norm_name(m.group(1)), m.group(2)))
    if m := _DELETE_RE.match(sql):
        node, em = _clause(m.group(2))
        where = em.expr(node["where_clause"]) if node.get("where_clause") else ""
        return Translated("delete", where, em.views, {"name": _norm_name(m.group(1))})
    if m := _UPDATE_RE.match(sql):
        node, em = _clause("", m.group(2))
        assigns: list[tuple[str, str]] = []
        for e in node["select_list"]:
            col = e.get("left") or {}
            if (e["type"] != "COMPARE_EQUAL" or e.get("alias")
                    or col.get("class") != "COLUMN_REF"):
                raise ValueError(f"malformed SET assignment in {m.group(2)!r}")
            assigns.append((col["column_names"][-1], em.expr(e["right"])))
        where = em.expr(node["where_clause"]) if node.get("where_clause") else ""
        meta = {"name": _norm_name(m.group(1)), "assigns": assigns}
        return Translated("update", where, em.views, meta)
    if m := _INSERT_RE.match(sql):
        cols = [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
        meta = {"name": _norm_name(m.group(1)), "columns": cols}
        return Translated("insert", *_query(m.group(3)), meta)
    return Translated("query", *_query(sql))


def _alter(name: str, action: str | None) -> dict:
    for op, pattern, keys in _ALTER_ACTIONS:
        am = re.fullmatch(pattern, (action or "").strip(), re.IGNORECASE | re.DOTALL)
        if am:
            values = [v.strip() if k == "column_sql" else _norm_name(v)
                      for k, v in zip(keys, am.groups())]
            return {"op": op, "name": name, **dict(zip(keys, values))}
    raise ValueError(f"unsupported ALTER TABLE action: {action!r}")


def columns_from_ddl(columns_sql: str) -> str:
    """`a INTEGER, b VARCHAR(11) DEFAULT NULL` → Spark DDL schema string
    (DEFAULT NULL is plain nullable, bindings.test.ts:74-84). DuckDB
    reads the column list into a scratch table of the parsing
    connection; each column type then maps through `SELECT NULL::<type>`."""
    import duckdb

    con = _duckdb()
    try:
        con.execute(f"CREATE OR REPLACE TEMP TABLE _ddl ({columns_sql})")
    except duckdb.Error as e:
        raise ValueError(f"cannot parse column definitions: {e}") from None
    rel = con.table("_ddl")
    node = _parse("SELECT " + ", ".join(f"NULL::{t}" for t in rel.dtypes))
    return ", ".join(
        f"{_ident(n)} {_type(e['cast_type'])}"
        for n, e in zip(rel.columns, node["select_list"])
    )

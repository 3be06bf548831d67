"""DuckDB → Spark SQL dialect translation (SURVEY §4.2 "custom work
Catalyst does NOT give us"; exercised by the reference's own SQL corpus:
packages/duckdb-wasm/test/batch_stream.test.ts:23-283 (`::` casts,
generate_series), test/bindings.test.ts:57-199, tpch/*.sql
(substring FROM/FOR), test/regression/github_332.test.ts:68 (implicit
file table refs), test/filesystem.test.ts:116-214 (COPY / EXPORT).

`translate()` classifies a statement and rewrites the query text:
  - `expr::TYPE`        → CAST(expr AS TYPE) with the type-name map
  - generate_series     → Spark's `range` TVF (inclusive → end+step)
  - substring FROM/FOR  → substring(x, i, n)
  - parquet_scan('f') / read_csv('f') / bare 'f.parquet' table refs →
    placeholder views the session registers from its file registry
  - PRAGMA / COPY / EXPORT / DDL / INSERT → structured commands the
    session executes outside spark.sql

Pure string-level translation; everything that parses as a plain query
goes straight to spark.sql so Catalyst sees the original shape.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

# DuckDB type name → Spark SQL type name
_TYPE_MAP = {
    "varchar": "STRING",
    "text": "STRING",
    "char": "STRING",
    "bpchar": "STRING",
    "real": "FLOAT",
    "float4": "FLOAT",
    "float8": "DOUBLE",
    "int1": "TINYINT",
    "int2": "SMALLINT",
    "int4": "INT",
    "int8": "BIGINT",
    "signed": "INT",
    "hugeint": "DECIMAL(38,0)",
    "utinyint": "SMALLINT",
    "usmallint": "INT",
    "uinteger": "BIGINT",
    "ubigint": "DECIMAL(20,0)",
    "blob": "BINARY",
    "bytea": "BINARY",
    "logical": "BOOLEAN",
    "bool": "BOOLEAN",
    "datetime": "TIMESTAMP",
}


def map_type_name(name: str) -> str:
    base = name.strip()
    m = re.match(r"^([A-Za-z_]+)\s*(\(.*\))?$", base)
    if not m:
        return base
    head, params = m.group(1).lower(), m.group(2) or ""
    if head in ("varchar", "char", "bpchar", "text"):
        return "STRING"  # length-parameterized strings collapse
    if head in _TYPE_MAP:
        return _TYPE_MAP[head]
    return (head.upper() + params)


@dataclass
class Translated:
    kind: str  # query | show_tables | create_table | create_table_as |
    #            create_view | drop | insert | update | delete | copy |
    #            export | unsupported
    sql: str = ""
    # file tables to register before running: view_name -> (path, format)
    file_views: dict[str, tuple[str, str]] = field(default_factory=dict)
    # structured command payload (DDL/COPY/...)
    meta: dict = field(default_factory=dict)


_CAST_OPERAND = (
    # f(...) — no space before the paren, or `SELECT (expr)::T` would
    # lex the keyword as a call name
    r"([A-Za-z_][\w.]*\([^()]*\)"
    r"|\([^()]*\)"  # (...)
    r"|'(?:[^']|'')*'"  # 'literal' incl. doubled-quote escapes
    #   ('it''s'::text must lex the WHOLE literal as the operand —
    #   the old [^']* variant matched only 's' and the rewrite
    #   straddled the protected span; round-10 ADVICE)
    r"|[A-Za-z_][\w.]*"  # identifier
    r"|\d+(?:\.\d+)?)"  # number
)
_CAST_TYPE = r"([A-Za-z_]\w*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
_CAST_RE = re.compile(_CAST_OPERAND + r"\s*::\s*" + _CAST_TYPE)


def _rewrite_casts(sql: str) -> str:
    prev = None
    while prev != sql:  # fixpoint: supports chained/nested casts
        prev = sql
        spans = list(_protected_spans(sql))

        def repl(m):
            # the :: SEPARATING operand and type must lie outside any
            # literal/comment span: 'a::b' is literal TEXT, not a cast
            # (hypothesis finding, tests/test_properties.py). The
            # operand itself may legitimately BE a literal
            # ('2020-01-01'::date), so whole-match span protection
            # would be wrong — only the separator position is checked.
            # rfind: the type can't contain '::'; an operand that does
            # (nested paren cast) still separates at the LAST '::'.
            sep = m.start() + m.group(0).rfind("::")
            for s, e in spans:
                if s <= sep < e:
                    return m.group(0)
                # a match STARTING strictly inside a literal span is a
                # mis-lex (e.g. the tail of 'it''s' re-parsed as its
                # own literal); a legitimate literal operand starts AT
                # the span start, never inside it (round-10 ADVICE).
                if s < m.start() < e:
                    return m.group(0)
            return f"CAST({m.group(1)} AS {map_type_name(m.group(2))})"

        sql = _CAST_RE.sub(repl, sql)
    return sql


_GENSERIES_RE = re.compile(
    r"generate_series\s*\(([^()]*)\)", re.IGNORECASE
)


def _rewrite_generate_series(sql: str) -> str:
    """duckdb's bounds are INCLUSIVE; Spark's range excludes the end.
    Args may be literals or scalar expressions incl. `?` parameter
    markers (bindings.test.ts:57 uses generate_series(0, ?)); a
    non-literal step is assumed positive."""

    def repl(m):
        parts = [p.strip() for p in m.group(1).split(",")]
        if len(parts) not in (2, 3):
            return m.group(0)
        a, b = parts[0], parts[1]
        step = parts[2] if len(parts) == 3 else "1"
        try:
            step_i = int(step)
        except ValueError:
            step_i = 1  # expression step: assume ascending
        bump = "+ 1" if step_i > 0 else "- 1"
        try:
            end = str(int(b) + (1 if step_i > 0 else -1))
        except ValueError:
            end = f"({b}) {bump}"
        if step == "1":
            return f"range({a}, {end})"
        return f"range({a}, {end}, {step})"

    return _GENSERIES_RE.sub(repl, sql)


# [^()] argument groups: a lazy .+? crossed the CLOSING paren whenever
# a later ' from ' + ')' existed downstream ("substring(s, 2, 3) ...
# select x from t)" ate the intervening SQL — hypothesis finding,
# tests/test_properties.py::test_dialect_rewrite_is_idempotent).
# Parenthesized operands (substring(f(x) from 2)) are out of scope;
# the reference corpus only uses plain column/literal operands
# (tpch/22.sql: substring(c_phone from 1 for 2)).
#
# Quoted literals are consumed ATOMICALLY (the char class excludes ')
# so a ' from ' INSIDE a literal operand can never be lexed as the
# FROM separator: substring('a from b' from 2) keeps its literal
# intact (round-10 ADVICE — the old [^()] class let the separator
# match straddle the literal and silently rewrote its content).
_SUBSTR_ARG = r"((?:'(?:[^']|'')*'|[^()'])+?)"
_SUBSTR_FF = re.compile(
    r"substring\s*\(\s*" + _SUBSTR_ARG + r"\s+from\s+" + _SUBSTR_ARG
    + r"\s+for\s+" + _SUBSTR_ARG + r"\s*\)",
    re.IGNORECASE,
)
_SUBSTR_F = re.compile(
    r"substring\s*\(\s*" + _SUBSTR_ARG + r"\s+from\s+" + _SUBSTR_ARG
    + r"\s*\)",
    re.IGNORECASE,
)


def _rewrite_substring(sql: str) -> str:
    # belt-and-braces on top of the atomic-literal lexing above: the
    # FROM/FOR separator positions must also lie outside comment spans
    # (same discipline as _rewrite_casts' :: separator check).
    spans = list(_protected_spans(sql))

    def _seps_ok(m: re.Match, ngroups: int) -> bool:
        for g in range(1, ngroups):  # separator between group g and g+1
            lo, hi = m.end(g), m.start(g + 1)
            for s, e in spans:
                if s < hi and lo < e:  # separator region overlaps a span
                    return False
        return True

    def repl_ff(m):
        if not _seps_ok(m, 3):
            return m.group(0)
        return f"substring({m.group(1)}, {m.group(2)}, {m.group(3)})"

    def repl_f(m):
        if not _seps_ok(m, 2):
            return m.group(0)
        return f"substring({m.group(1)}, {m.group(2)})"

    sql = _SUBSTR_FF.sub(repl_ff, sql)
    spans = list(_protected_spans(sql))
    sql = _SUBSTR_F.sub(repl_f, sql)
    return sql


_SCAN_FN_RE = re.compile(
    r"(parquet_scan|read_parquet|read_csv_auto|read_csv)\s*\(\s*'([^']+)'\s*\)",
    re.IGNORECASE,
)
# a bare 'file.csv' used as a table reference after FROM/JOIN
_FILE_REF_RE = re.compile(
    r"(\bfrom\b|\bjoin\b)(\s+)'([^']+\.(?:csv|parquet|json))'", re.IGNORECASE
)


def _view_name_for(path: str, fmt: str) -> str:
    """One name per (file, format): a live view over `a/x.parquet`
    keeps reading that file after another statement binds `b/x.parquet`."""
    stem = re.sub(r"\W+", "_", path.rsplit("/", 1)[-1])
    digest = hashlib.md5(f"{fmt}:{path}".encode()).hexdigest()[:8]
    return f"_file_{stem}_{digest}"


def _rewrite_file_tables(sql: str) -> tuple[str, dict[str, tuple[str, str]]]:
    views: dict[str, tuple[str, str]] = {}

    def scan_repl(m):
        fn, path = m.group(1).lower(), m.group(2)
        fmt = "csv" if "csv" in fn else "parquet"
        name = _view_name_for(path, fmt)
        views[name] = (path, fmt)
        return name

    sql = _SCAN_FN_RE.sub(scan_repl, sql)

    def ref_repl(m):
        path = m.group(3)
        fmt = path.rsplit(".", 1)[-1].lower()
        name = _view_name_for(path, fmt)
        views[name] = (path, fmt)
        return f"{m.group(1)}{m.group(2)}{name}"

    sql = _FILE_REF_RE.sub(ref_repl, sql)
    return sql, views


# sqlite-dialect strftime (the 7/8/9/22-sqlite tpch variants) → Spark's
# date_format; both return VARCHAR
_STRFTIME_MAP = {
    "%Y": "yyyy", "%m": "MM", "%d": "dd",
    "%H": "HH", "%M": "mm", "%S": "ss",
}
_STRFTIME_RE = re.compile(
    r"strftime\s*\(\s*'([^']*)'\s*,\s*([^()]+?)\s*\)", re.IGNORECASE
)


def _rewrite_strftime(sql: str) -> str:
    def repl(m):
        fmt = m.group(1)
        for k, v in _STRFTIME_MAP.items():
            fmt = fmt.replace(k, v)
        return f"date_format({m.group(2)}, '{fmt}')"

    return _STRFTIME_RE.sub(repl, sql)


def _find_top_level_kw(sql: str, kw: str, start: int = 0) -> int | None:
    """Index of the first occurrence of keyword `kw` at paren depth 0,
    outside single-quoted strings, double-quoted identifiers, and
    `--`/`/* */` comments (word-boundary, case-insensitive); None if
    absent. Round-3 ADVICE: an identifier like \"order\" or a commented
    keyword must not terminate a QUALIFY tail / SET list early."""
    depth = 0
    n, k = len(sql), len(kw)
    i = start
    low = sql.lower()
    kw = kw.lower()
    while i < n:
        ch = sql[i]
        if ch == "'":  # skip string literal ('' is an escaped quote)
            i += 1
            while i < n:
                if sql[i] == "'":
                    if i + 1 < n and sql[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif ch == '"':  # skip quoted identifier
            i += 1
            while i < n and sql[i] != '"':
                i += 1
        elif ch == "-" and low.startswith("--", i):
            nl = sql.find("\n", i)
            i = n - 1 if nl < 0 else nl
        elif ch == "/" and low.startswith("/*", i):
            end = low.find("*/", i + 2)
            i = n - 1 if end < 0 else end + 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and low.startswith(kw, i):
            before_ok = i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_")
            j = i + k
            after_ok = j >= n or not (sql[j].isalnum() or sql[j] == "_")
            if before_ok and after_ok:
                return i
        i += 1
    return None


def _rewrite_qualify(sql: str) -> str:
    """DuckDB QUALIFY → standard SQL: project the predicate as a helper
    column, filter on it outside, and drop it with `* EXCEPT`. Handles
    the top-level `... QUALIFY <cond> [ORDER BY ...] [LIMIT ...]` form
    (QUALIFY inside subqueries/CTE bodies is not rewritten; SELECT
    DISTINCT + QUALIFY is rejected — the rewrite would dedupe after
    the filter on the augmented row, changing semantics)."""
    qi = _find_top_level_kw(sql, "qualify")
    if qi is None:
        return sql
    head = sql[:qi].rstrip()
    rest = sql[qi + len("qualify"):]
    cuts = [
        c
        for c in (
            _find_top_level_kw(rest, "order"),
            _find_top_level_kw(rest, "limit"),
        )
        if c is not None
    ]
    cut = min(cuts) if cuts else len(rest)
    cond = rest[:cut].strip().rstrip(";").strip()
    tail = rest[cut:].strip().rstrip(";").strip()
    si = _find_top_level_kw(head, "select")
    fi = _find_top_level_kw(head, "from", (si or 0) + 6)
    if si is None or fi is None:
        raise ValueError("cannot rewrite QUALIFY: no top-level SELECT/FROM")
    select_list = head[si + 6:fi]
    if _find_top_level_kw(select_list, "distinct") is not None:
        raise ValueError("QUALIFY with SELECT DISTINCT is not supported")
    head2 = (
        head[:fi] + f", ({cond}) AS __qualify__ " + head[fi:]
    )
    return (
        f"SELECT * EXCEPT (__qualify__) FROM ({head2}) __qualify_t "
        f"WHERE __qualify__ {tail}"
    )


# DuckDB star sugar: `* EXCLUDE (a, b)` ≡ Spark's `* EXCEPT (a, b)`
_EXCLUDE_RE = re.compile(r"(\*\s+)EXCLUDE(\s*\()", re.IGNORECASE)
# Spans the rewrite must never see: string literals (with '' escapes),
# quoted identifiers, -- line comments, and /* */ block comments.
# Comments must be tracked too (round-4 ADVICE): an apostrophe inside
# "-- don't" would otherwise open a phantom string literal and desync
# every span after it. Block comments NEST in DuckDB (round-5 ADVICE),
# so this is a depth-counting scanner, not a regex — a regex's
# first-*/ match would end '/* a /* b */ tail */' early and expose
# "tail" to the rewriters.


def _protected_spans(sql: str):
    """Yield (start, end) of every literal/identifier/comment span.
    Unterminated spans extend to end-of-string (never raise: the engine
    downstream reports the real syntax error)."""
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if sql[j + 1:j + 2] == "'":  # '' escape
                        j += 2
                        continue
                    break
                j += 1
            end = min(j + 1, n)
            yield (i, end)
            i = end
        elif c == '"':
            j = sql.find('"', i + 1)
            end = n if j == -1 else j + 1
            yield (i, end)
            i = end
        elif c == "-" and sql[i:i + 2] == "--":
            j = sql.find("\n", i)
            end = n if j == -1 else j
            yield (i, end)
            i = end
        elif c == "/" and sql[i:i + 2] == "/*":
            depth, j = 1, i + 2
            while j < n and depth:
                two = sql[j:j + 2]
                if two == "/*":
                    depth += 1
                    j += 2
                elif two == "*/":
                    depth -= 1
                    j += 2
                else:
                    j += 1
            yield (i, j)
            i = j
        else:
            i += 1


def _sub_outside_quotes(pattern: re.Pattern, repl: str, sql: str) -> str:
    """Apply pattern.sub only to the segments of `sql` that lie outside
    single-quoted literals, double-quoted identifiers, and SQL comments
    (nesting-aware), so a literal like '* EXCLUDE (' is never rewritten
    and a stray apostrophe in a comment never desyncs the span tracking
    (round-3/4/5 ADVICE)."""
    out: list[str] = []
    pos = 0
    for start, end in _protected_spans(sql):
        out.append(pattern.sub(repl, sql[pos:start]))
        out.append(sql[start:end])
        pos = end
    out.append(pattern.sub(repl, sql[pos:]))
    return "".join(out)


def _rewrite_query_text(sql: str) -> tuple[str, dict[str, tuple[str, str]]]:
    sql = _rewrite_casts(sql)
    sql = _rewrite_generate_series(sql)
    sql = _rewrite_substring(sql)
    sql = _rewrite_strftime(sql)
    sql = _rewrite_qualify(sql)
    sql = _sub_outside_quotes(_EXCLUDE_RE, r"\1EXCEPT\2", sql)
    return _rewrite_file_tables(sql)


# ----------------------------------------------------------- statements
_PRAGMA_RE = re.compile(r"^\s*PRAGMA\s+(\w+)\s*;?\s*$", re.IGNORECASE)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s+([\w.\"]+)\s+AS\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+([\w.\"]+)\s*\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+([\w.\"]+)\s+AS\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+(TABLE|VIEW)\s+(IF\s+EXISTS\s+)?([\w.\"]+)\s*;?\s*$",
    re.IGNORECASE,
)
_INSERT_RE = re.compile(
    # optional explicit column list: a strict comma-separated identifier
    # list, so a parenthesized query body is never mistaken for one
    r"^\s*INSERT\s+INTO\s+([\w.\"]+)\s*"
    r"(?:\(\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)+|[A-Za-z_]\w*)\s*\)\s*)?"
    r"\s(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+(?:TABLE\s+)?([\w.\"]+)\s*;?\s*$", re.IGNORECASE
)
_DESCRIBE_RE = re.compile(
    r"^\s*DESCRIBE\s+([\w.\"]+)\s*;?\s*$", re.IGNORECASE
)
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.\"]+)\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_ADD_RE = re.compile(r"^ADD\s+(?:COLUMN\s+)?(.+)$", re.IGNORECASE | re.DOTALL)
_ALTER_DROP_RE = re.compile(
    r"^DROP\s+(?:COLUMN\s+)?([\w\"]+)$", re.IGNORECASE
)
_ALTER_RENAME_COL_RE = re.compile(
    r"^RENAME\s+(?:COLUMN\s+)?([\w\"]+)\s+TO\s+([\w\"]+)$", re.IGNORECASE
)
_ALTER_RENAME_RE = re.compile(
    r"^RENAME\s+TO\s+([\w.\"]+)$", re.IGNORECASE
)
# UPDATE/DELETE heads capture table + raw tail; the WHERE boundary is
# then located with _find_top_level_kw (paren/quote/comment-aware), so a
# WHERE inside a SET-expression subquery or string literal never
# mis-splits the statement (round-3 ADVICE: the old lazy regexes split
# at the FIRST ' WHERE ' anywhere)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w.\"]+)\s*(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+([\w.\"]+)\s+SET\s+(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _split_where_tail(tail: str) -> tuple[str, str | None]:
    """Split `tail` at its first TOP-LEVEL WHERE keyword → (body,
    where-condition-or-None)."""
    wi = _find_top_level_kw(tail, "where")
    if wi is None:
        return tail.strip(), None
    return tail[:wi].strip(), tail[wi + len("where"):].strip()
_COPY_RE = re.compile(
    r"^\s*COPY\s+(\([^)]*\)|[\w.\"]+)\s+TO\s+'([^']+)'\s*(?:\(|WITH\s*\()?([^)]*)\)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_EXPORT_RE = re.compile(
    r"^\s*EXPORT\s+DATABASE\s+'([^']+)'\s*(?:\(\s*FORMAT\s+(\w+)\s*\))?\s*;?\s*$",
    re.IGNORECASE,
)


def _split_top_level(text: str) -> list[str]:
    """Split on commas at paren depth 0 and outside single quotes — the
    SET-clause assignment separator (`a = 1, b = coalesce(x, y)`)."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    in_str = False
    for ch in text:
        if in_str:
            buf.append(ch)
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    if buf:
        parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


def _norm_name(name: str) -> str:
    name = name.strip().strip('"')
    return name.split(".")[-1]  # schemas collapse to the default ("main")


def translate(sql: str) -> Translated:
    """Classify + rewrite one statement."""
    if m := _PRAGMA_RE.match(sql):
        pragma = m.group(1).lower()
        if pragma == "show_tables":
            return Translated("show_tables")
        return Translated("unsupported", meta={"pragma": pragma})

    if m := _EXPORT_RE.match(sql):
        return Translated(
            "export",
            meta={"dir": m.group(1), "format": (m.group(2) or "csv").lower()},
        )

    if m := _COPY_RE.match(sql):
        src, path, opts_text = m.group(1), m.group(2), m.group(3) or ""
        opts: dict[str, str] = {}
        # split on commas OUTSIDE single quotes so DELIMITER ',' survives
        for part in re.split(r",(?=(?:[^']*'[^']*')*[^']*$)", opts_text):
            part = part.strip()
            if not part:
                continue
            kv = part.split(None, 1)
            key = kv[0].lower()
            val = kv[1].strip().strip("'") if len(kv) > 1 else "true"
            opts[key] = val
        if src.startswith("("):
            inner, views = _rewrite_query_text(src[1:-1])
            return Translated(
                "copy", sql=inner, file_views=views,
                meta={"path": path, "options": opts, "source": None},
            )
        return Translated(
            "copy",
            meta={"path": path, "options": opts, "source": _norm_name(src)},
        )

    if m := _CTAS_RE.match(sql):
        query, views = _rewrite_query_text(m.group(2).rstrip("; \n"))
        return Translated(
            "create_table_as", sql=query, file_views=views,
            meta={"name": _norm_name(m.group(1))},
        )

    if m := _CREATE_TABLE_RE.match(sql):
        return Translated(
            "create_table",
            meta={"name": _norm_name(m.group(1)), "columns_sql": m.group(2)},
        )

    if m := _CREATE_VIEW_RE.match(sql):
        query, views = _rewrite_query_text(m.group(2).rstrip("; \n"))
        return Translated(
            "create_view", sql=query, file_views=views,
            meta={"name": _norm_name(m.group(1))},
        )

    if m := _DROP_RE.match(sql):
        return Translated(
            "drop",
            meta={
                "what": m.group(1).lower(),
                "if_exists": bool(m.group(2)),
                "name": _norm_name(m.group(3)),
            },
        )

    if m := _TRUNCATE_RE.match(sql):
        # TRUNCATE ≡ unfiltered DELETE: same execution path
        return Translated("delete", meta={"name": _norm_name(m.group(1))})

    if m := _DESCRIBE_RE.match(sql):
        return Translated("describe", meta={"name": _norm_name(m.group(1))})

    # an ALTER TABLE head with NO action text falls through _ALTER_RE
    # ((.+?) needs one char) and used to classify as a plain query —
    # surfacing Spark's parser error instead of the defined one
    # (hypothesis finding, tests/test_properties.py r11)
    if re.match(r"^\s*ALTER\s+TABLE\b", sql, re.IGNORECASE) and not (
        _ALTER_RE.match(sql)
    ):
        raise ValueError(f"unsupported ALTER TABLE statement: {sql!r}")

    if m := _ALTER_RE.match(sql):
        name, action = _norm_name(m.group(1)), m.group(2).strip()
        if am := _ALTER_RENAME_COL_RE.match(action):
            meta = {
                "op": "rename_column",
                "old": am.group(1).strip('"'),
                "new": am.group(2).strip('"'),
            }
        elif am := _ALTER_RENAME_RE.match(action):
            meta = {"op": "rename_table", "new": _norm_name(am.group(1))}
        elif am := _ALTER_DROP_RE.match(action):
            meta = {"op": "drop_column", "column": am.group(1).strip('"')}
        elif am := _ALTER_ADD_RE.match(action):
            meta = {"op": "add_column", "column_sql": am.group(1).strip()}
        else:
            raise ValueError(f"unsupported ALTER TABLE action: {action!r}")
        meta["name"] = name
        return Translated("alter", meta=meta)

    if m := _DELETE_RE.match(sql):
        body, where_cond = _split_where_tail(m.group(2))
        if body:
            raise ValueError(
                f"unsupported DELETE clause before WHERE: {body!r}"
            )
        where, views = "", {}
        if where_cond:
            where, views = _rewrite_query_text(where_cond)
        return Translated(
            "delete", sql=where, file_views=views,
            meta={"name": _norm_name(m.group(1))},
        )

    if m := _UPDATE_RE.match(sql):
        set_body, where_cond = _split_where_tail(m.group(2))
        assigns: list[tuple[str, str]] = []
        views: dict = {}
        for part in _split_top_level(set_body):
            col, eq, expr = part.partition("=")
            if not eq or not col.strip() or not expr.strip():
                raise ValueError(f"malformed SET assignment: {part!r}")
            rewritten, v = _rewrite_query_text(expr.strip())
            views.update(v)
            assigns.append((col.strip().strip('"'), rewritten))
        where = ""
        if where_cond:
            where, v = _rewrite_query_text(where_cond)
            views.update(v)
        return Translated(
            "update", sql=where, file_views=views,
            meta={"name": _norm_name(m.group(1)), "assigns": assigns},
        )

    if m := _INSERT_RE.match(sql):
        cols = (
            [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
        )
        body, views = _rewrite_query_text(m.group(3).rstrip("; \n"))
        return Translated(
            "insert", sql=body, file_views=views,
            meta={"name": _norm_name(m.group(1)), "columns": cols},
        )

    query, views = _rewrite_query_text(sql)
    return Translated("query", sql=query, file_views=views)


def columns_from_ddl(columns_sql: str) -> str:
    """`a INTEGER, b VARCHAR(11) DEFAULT NULL` → Spark DDL schema string.
    DEFAULT NULL collapses to plain nullable (bindings.test.ts:74-84)."""
    out = []
    depth = 0
    cur = []
    parts: list[str] = []
    for ch in columns_sql:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    for part in parts:
        part = re.sub(r"\s+DEFAULT\s+NULL\s*$", "", part.strip(), flags=re.IGNORECASE)
        toks = part.split(None, 1)
        if len(toks) != 2:
            raise ValueError(f"cannot parse column def: {part!r}")
        name, typ = toks
        if name.startswith('"') and name.endswith('"'):
            # SQL double-quoted identifier → Spark DDL backtick form
            name = f"`{name[1:-1]}`"
        out.append(f"{name} {map_type_name(typ)}")
    return ", ".join(out)

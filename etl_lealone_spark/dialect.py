"""Reference-dialect (H2-ish) → Spark SQL rewriter (SURVEY.md §3).

The reference accepts several non-ANSI forms (lealone-sql/.../Parser.java);
this module normalizes them to Spark SQL text before handing to Catalyst:

- FROM-first queries: ``FROM t SELECT a, b`` (SelectTest.java:92)
- ``SELECT TOP n ...`` (Parser.java:1596)
- ``SYSTEM_RANGE(a, b[, step])`` table (RangeTable.java:24-29)
- ``GROUP_CONCAT(x [ORDER BY o] [SEPARATOR s])`` (Aggregate.java:61)
- ``CSVREAD('file')`` in FROM (Function.java:352)
- ``@var`` session variables (Variable.java:20)
- ``ROWNUM`` pseudo-column (Rownum.java:21)
- ``MINUS`` set operation → EXCEPT (Parser.java:1464)
- ``STRING_AGG(x, sep)`` PostgreSQL-compat aggregate (Parser.java:2164)
- ``SYSDATE``/``SYSTIMESTAMP``/``SYSTIME``/``TODAY`` datetime keywords
  (Parser.java:3632-3643: SYSDATE and SYSTIMESTAMP are both
  CURRENT_TIMESTAMP; TODAY is CURRENT_DATE)
- ``//`` line comments (H2 accepts them)
- no-op statements: transactions, FOR UPDATE (documented shims)

Rewrites are token-aware regex transforms — enough for the reference's
test-suite grammar; genuinely ambiguous SQL should use the DataFrame API.
Every pass matches over a same-length copy of the text whose string
literals, quoted names and comments are masked (:func:`_mask_literals`)
and splices its replacement into the original: a literal is never
rewritten.
"""

from __future__ import annotations

import functools
import re
from typing import TYPE_CHECKING, Optional

if TYPE_CHECKING:
    from .session import EngineSession

_WS = r"\s+"

# statements that are no-ops on an immutable-snapshot engine
# (Parser.java:557-640 transaction grammar: BEGIN/COMMIT/ROLLBACK with
# optional WORK/TRANSACTION <name>, SAVEPOINT / ROLLBACK TO SAVEPOINT /
# RELEASE SAVEPOINT, CHECKPOINT [SYNC])
NOOP_STATEMENTS = re.compile(
    r"^\s*(BEGIN(\s+WORK|\s+TRANSACTION)?"
    r"|COMMIT(\s+WORK|\s+TRANSACTION\s+\w+)?"
    r"|ROLLBACK(\s+WORK|\s+TRANSACTION\s+\w+|\s+TO\s+SAVEPOINT\s+\w+)?"
    r"|SAVEPOINT\s+\w+|RELEASE\s+SAVEPOINT\s+\w+"
    r"|CHECKPOINT(\s+SYNC)?|SET\s+AUTOCOMMIT.*)\s*;?\s*$",
    re.IGNORECASE,
)


def _strip_line_comments(sql: str) -> str:
    return _sub_outside_literals(r"//[^\n]*", "", sql)


def _rewrite_from_first(sql: str) -> str:
    """``FROM t SELECT cols ...`` → ``SELECT cols FROM t ...``."""

    def repl(m) -> str:
        select_part = m.group("select")
        # split projection from trailing clauses (WHERE/GROUP/ORDER/LIMIT/...)
        tail_match = re.search(
            r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|OFFSET|UNION|EXCEPT|INTERSECT)\b",
            _mask_literals(select_part),
            re.IGNORECASE,
        )
        if tail_match:
            proj = select_part[: tail_match.start()].rstrip()
            tail = select_part[tail_match.start() :]
            return f"SELECT {proj} FROM {m.group('from')} {tail}"
        return f"SELECT {select_part} FROM {m.group('from')}"

    return _sub_outside_literals(
        r"^\s*FROM\s+(?P<from>.+?)\s+SELECT\s+(?P<select>.+)$",
        repl,
        sql,
        re.IGNORECASE | re.DOTALL,
    )


def _rewrite_top(sql: str) -> str:
    """``SELECT TOP n ...`` → ``SELECT ... LIMIT n`` (Parser.java:1596),
    also as the query of ``CREATE TABLE … AS``."""
    return _sub_outside_literals(
        r"^(\s*(?:CREATE\b.*?\bAS\s+)?SELECT)\s+TOP\s+(\d+)\s+(.*)$",
        lambda m: f"{m.group(1)} {m.group(3)} LIMIT {m.group(2)}",
        sql,
        re.IGNORECASE | re.DOTALL,
    )


def _rewrite_system_range(sql: str) -> str:
    """SYSTEM_RANGE(a,b[,step]) → range(a, b+1 [, step]) table function.

    The reference's SYSTEM_RANGE is inclusive of both endpoints
    (RangeTable.java:24-29); Spark's range(start, end) is end-exclusive.
    The generated column X matches the reference's column name.
    """

    def repl(m: re.Match) -> str:
        a, b = m.group(1).strip(), m.group(2).strip()
        step = m.group(3)
        if step:
            return (
                f"(SELECT id AS X FROM range({a}, ({b}) + 1, {step.strip()}))"
            )
        return f"(SELECT id AS X FROM range({a}, ({b}) + 1))"

    return _sub_outside_literals(
        r"SYSTEM_RANGE\s*\(\s*([^,()]+)\s*,\s*([^,()]+?)\s*(?:,\s*([^,()]+?)\s*)?\)",
        repl,
        sql,
        flags=re.IGNORECASE,
    )


def _rewrite_group_concat(sql: str) -> str:
    """GROUP_CONCAT(x [ORDER BY o] [SEPARATOR s]) →
    array_join(array_sort-or-collect, sep) (Aggregate.java:61,358-395)."""

    def repl(m: re.Match) -> str:
        distinct = m.group("distinct") or ""
        expr = m.group("expr").strip()
        order = m.group("order")
        sep = m.group("sep") or "','"
        inner = f"collect_list({distinct}{expr})"
        if order:
            inner = f"array_sort({inner})"
        return f"array_join({inner}, {sep})"

    return _sub_outside_literals(
        r"GROUP_CONCAT\s*\(\s*(?P<distinct>DISTINCT\s+)?(?P<expr>[^()]+?)"
        r"(?:\s+ORDER\s+BY\s+(?P<order>[^()]+?))?"
        r"(?:\s+SEPARATOR\s+(?P<sep>'[^']*'))?\s*\)",
        repl,
        sql,
        flags=re.IGNORECASE,
    )


def _rewrite_minus(sql: str) -> str:
    """``q1 MINUS q2`` → ``q1 EXCEPT q2`` (Parser.java:1464 treats the
    two as synonyms). Only the set-op position (followed by SELECT, an
    opening paren, or ALL) is rewritten, so identifiers containing the
    word are untouched."""
    return _sub_outside_literals(
        r"\bMINUS\s+(?=(?:ALL\s+)?(?:SELECT|\())",
        "EXCEPT ",
        sql,
        flags=re.IGNORECASE,
    )


def _rewrite_string_agg(sql: str) -> str:
    """``STRING_AGG(expr, 'sep')`` → GROUP_CONCAT-equivalent
    (Parser.java:2164: PostgreSQL-compat alias with mandatory
    delimiter)."""
    return _sub_outside_literals(
        r"STRING_AGG\s*\(\s*(?P<distinct>DISTINCT\s+)?(?P<expr>[^(),]+?)\s*,"
        r"\s*(?P<sep>'[^']*')\s*\)",
        lambda m: (
            f"array_join(collect_list({m.group('distinct') or ''}"
            f"{m.group('expr').strip()}), {m.group('sep')})"
        ),
        sql,
        flags=re.IGNORECASE,
    )


def _rewrite_datetime_keywords(sql: str) -> str:
    """Bare SYSDATE / SYSTIMESTAMP / SYSTIME / TODAY keyword tokens
    (Parser.java:3632-3643). SYSTIME maps through the engine's TIME
    convention ('HH:mm:ss' string — Spark has no TimeType)."""
    sql = _sub_outside_literals(
        r"\b(SYSDATE|SYSTIMESTAMP)\b(?!\s*\()", "CURRENT_TIMESTAMP", sql,
        flags=re.IGNORECASE,
    )
    sql = _sub_outside_literals(
        r"\bSYSTIME\b(?!\s*\()",
        "date_format(current_timestamp(), 'HH:mm:ss')", sql, flags=re.IGNORECASE,
    )
    sql = _sub_outside_literals(
        r"\bTODAY\b(?!\s*\()", "CURRENT_DATE", sql, flags=re.IGNORECASE
    )
    return sql


def _rewrite_csvread(sql: str, session: Optional["EngineSession"]) -> str:
    """CSVREAD('path') in FROM (Function.java:352).

    With a session: the file is registered as a temp view through the
    csv source (header applied, reference's all-VARCHAR typing) and the
    call is replaced by the view name. Without a session: falls back to
    Spark's schema-inferring ``csv.`path``` table syntax (headers become
    row one — prefer the session path).
    """

    def repl(m: re.Match) -> str:
        path = m.group(1)
        if session is not None:
            from .sources.csv_io import csvread

            view = "csvread_" + re.sub(r"[^A-Za-z0-9]", "_", path).strip("_")
            csvread(session.spark, path).createOrReplaceTempView(view)
            return view
        return f"csv.`{path}`"

    return _sub_outside_literals(
        r"CSVREAD\s*\(\s*'([^']+)'\s*\)", repl, sql, flags=re.IGNORECASE
    )


def _rewrite_table_constructor(sql: str) -> str:
    """TABLE(c1 T1=ARRAY[...], c2 T2=ARRAY[...]) table-valued constructor
    (TableFunction.java:32, FunctionTable.java:33) → inline explode of
    arrays_zip so positional rows align across columns."""

    def repl(m: re.Match) -> str:
        distinct = "DISTINCT " if m.group(1) else ""
        cols = []
        for part in re.split(r",(?![^\[]*\])", m.group(2)):
            cm = re.match(
                rf"\s*({_IDENT_RE})\s+\w+(?:\s*\(\s*\d+\s*\))?\s*=\s*"
                rf"(?:ARRAY\s*)?\[(.*)\]\s*$",
                part,
                re.IGNORECASE | re.DOTALL,
            )
            if not cm:
                return m.group(0)  # leave unrecognized forms untouched
            cols.append((cm.group(1), cm.group(2)))
        if len(cols) == 1:
            name, vals = cols[0]
            return f"(SELECT {distinct}v AS {name} FROM (SELECT explode(array({vals})) AS v))"
        zipped = ", ".join(f"array({vals})" for _, vals in cols)
        names = ", ".join(f"z.`{i}` AS {name}" for i, (name, _) in enumerate(cols))
        # arrays_zip names struct fields 0..n-1
        return (
            f"(SELECT {distinct}{names} FROM "
            f"(SELECT explode(arrays_zip({zipped})) AS z))"
        )

    return _sub_outside_literals(
        r"TABLE(_DISTINCT)?\s*\(((?:[^()]|\([^()]*\))*)\)",
        repl,
        sql,
        flags=re.IGNORECASE | re.DOTALL,
    )


_IDENT_RE = r"[A-Za-z_][A-Za-z0-9_]*"


def _rewrite_rownum(sql: str) -> str:
    """ROWNUM / ROWNUM() → row_number() over a pinned deterministic order.

    The reference numbers rows in scan order (Rownum.java:21-31,
    StatementBase.getCurrentRowNumber); our documented semantics pin
    monotonically-increasing order of the underlying scan.
    """
    return _sub_outside_literals(
        r"\bROWNUM\s*(\(\s*\))?",
        "(row_number() OVER (ORDER BY monotonically_increasing_id()))",
        sql,
        flags=re.IGNORECASE,
    )


def _substitute_variables(sql: str, session: Optional["EngineSession"]) -> str:
    """@var → literal value from the session shell (Variable.java:20)."""
    if session is None:
        return sql

    def repl(m: re.Match) -> str:
        val = session.get_variable(m.group(1))
        if val is None:
            return "NULL"
        if isinstance(val, str):
            escaped = val.replace("'", "''")
            return f"'{escaped}'"
        return str(val)

    return _sub_outside_literals(r"@(\w+)", repl, sql)


def _substitute_constants(sql: str, session: Optional["EngineSession"]) -> str:
    """CREATE CONSTANT names → their defining expression (parenthesized).

    The reference resolves constants at parse time (ddl/CreateConstant.java,
    expression lookup in Schema.getConstant); we substitute textually on
    word boundaries. A constant name shadowing a column name is a user
    error in the reference too (names share the schema namespace).
    """
    if session is None or not getattr(session, "catalog", None):
        return sql
    consts = session.catalog.constants
    if not consts:
        return sql

    def repl(m: re.Match) -> str:
        expr = consts.get(m.group(0).lower())
        return f"({expr})" if expr is not None else m.group(0)

    pattern = r"\b(" + "|".join(re.escape(k) for k in consts) + r")\b"
    return _sub_outside_literals(pattern, repl, sql, flags=re.IGNORECASE)


def _rewrite_sequence_calls(sql: str, session: Optional["EngineSession"]) -> str:
    """NEXTVAL('seq') / CURRVAL('seq') (SequenceValue.java:22).

    Evaluated driver-side at rewrite time: one NEXTVAL occurrence bumps
    the sequence once PER STATEMENT (not per row — a documented semantic
    refinement; per-row distributed sequence values cannot be both gapless
    and coordination-free, and the reference itself allows gaps).
    """
    if session is None:
        return sql

    def next_repl(m: re.Match) -> str:
        return str(session.sequence(m.group(1)).next_value())

    def curr_repl(m: re.Match) -> str:
        seq = session.sequence(m.group(1))
        return str(seq._next - seq.increment)

    sql = _sub_outside_literals(
        r"NEXTVAL\s*\(\s*'([^']+)'\s*\)", next_repl, sql, flags=re.IGNORECASE
    )
    sql = _sub_outside_literals(
        r"CURRVAL\s*\(\s*'([^']+)'\s*\)", curr_repl, sql, flags=re.IGNORECASE
    )
    return sql


def _strip_for_update(sql: str) -> str:
    """FOR UPDATE is a lock hint — meaningless on snapshots; strip it."""
    return _sub_outside_literals(
        r"\s+FOR\s+UPDATE\s*$", "", sql, flags=re.IGNORECASE
    )


# engine-shell nullary functions (reference Function.java system group):
# rewritten to literals only in explicit call form NAME() — a column that
# happens to share the name is never touched
_NULLARY_LITERALS = {
    "LEALONE_VERSION": None,  # filled lazily (engine __version__)
    "DATABASE": "'spark'",
    "CURRENT_USER": "'spark'",
    "SCHEMA": "'default'",
    "SESSION_ID": "0",
    "AUTOCOMMIT": "true",
    "READONLY": "false",
    "LOCK_TIMEOUT": "0",
    "MEMORY_FREE": "0",
    "MEMORY_USED": "0",
}


# a string literal (''-escaped), a double-quoted or backquoted name, or a
# comment: text that no rewrite reads into or edits
_OPAQUE_SPAN = re.compile(
    r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|`(?:[^`]|``)*`|--[^\n]*|/\*.*?\*/",
    re.DOTALL,
)


def _blank(m: re.Match) -> str:
    t = m.group(0)
    if t[0] in "'\"`":
        return t[0] + "\0" * (len(t) - 2) + t[-1]
    return "\0" * len(t)


@functools.lru_cache(maxsize=4)
def _mask_literals(sql: str) -> str:
    """``sql`` with the inside of every string literal, quoted name and
    comment replaced by NUL. Same length, so a match over the mask
    indexes ``sql``; a literal keeps its quotes, so a pattern that holds
    one (``CSVREAD('f')``) still matches."""
    return _OPAQUE_SPAN.sub(_blank, sql)


class _Spliced:
    """A match over the mask whose groups read the original text."""

    __slots__ = ("m", "sql")

    def __init__(self, m: re.Match, sql: str):
        self.m, self.sql = m, sql

    def group(self, g=0):
        a, b = self.m.span(g)
        return None if a < 0 else self.sql[a:b]


def _sub_outside_literals(pattern, repl, sql: str, flags: int = 0) -> str:
    """``re.sub`` that never matches into a string literal, quoted name
    or comment: ``pattern`` runs over :func:`_mask_literals` and every
    replacement is spliced into ``sql``. A callable ``repl`` gets a match
    whose groups read ``sql``; a string ``repl`` is inserted as is."""
    out, pos = [], 0
    for m in re.compile(pattern, flags).finditer(_mask_literals(sql)):
        out.append(sql[pos:m.start()])
        out.append(repl if isinstance(repl, str) else repl(_Spliced(m, sql)))
        pos = m.end()
    if not out:
        return sql
    out.append(sql[pos:])
    return "".join(out)


def _mask_nested(s: str) -> str:
    """``s`` with every character of a string literal, quoted name,
    comment or parenthesized group, delimiters included, replaced by NUL.
    A regex over the mask sees only top-level keywords and commas, and
    its spans index ``s``."""
    flat = _OPAQUE_SPAN.sub(lambda m: "\0" * len(m.group(0)), s)
    out, depth, pos = [], 0, 0
    for m in re.finditer(r"[()]", flat):
        i = m.start()
        out.append("\0" * (i - pos) if depth > 0 else flat[pos:i])
        out.append("\0")
        depth += 1 if flat[i] == "(" else -1
        pos = i + 1
    out.append("\0" * (len(flat) - pos) if depth > 0 else flat[pos:])
    return "".join(out)


def _split_top_level(s: str) -> list[str]:
    """The non-empty, stripped pieces of ``s`` between its top-level
    commas (see :func:`_mask_nested`)."""
    cuts = [i for i, ch in enumerate(_mask_nested(s)) if ch == ","]
    parts = [s[a + 1:b] for a, b in zip([-1, *cuts], [*cuts, len(s)])]
    return [p.strip() for p in parts if p.strip()]


def _rewrite_nullary_system_fns(sql: str) -> str:
    def repl(m: re.Match) -> str:
        name = m.group(1).upper()
        lit = _NULLARY_LITERALS[name]
        if lit is None:
            from . import __version__

            lit = f"'{__version__}'"
        return lit

    pattern = (
        r"\b(" + "|".join(_NULLARY_LITERALS) + r")\s*\(\s*\)"
    )
    return _sub_outside_literals(pattern, repl, sql, flags=re.IGNORECASE)


def _rewrite_fn_aliases(sql: str, session: Optional["EngineSession"]) -> str:
    """CREATE ALIAS names bound to Java Math methods rewrite to the
    equivalent Spark builtin call (CreateFunctionAlias.java FOR form) —
    no UDF, stays inside whole-stage codegen. Python-backed aliases are
    registered in Spark's own function registry and need no rewrite."""
    aliases = getattr(session, "fn_alias_builtins", None)
    if not aliases:
        return sql

    def repl(m: re.Match) -> str:
        return aliases[m.group(1).upper()] + "("

    pattern = (
        r"\b(" + "|".join(re.escape(k) for k in aliases) + r")\s*\("
    )
    return _sub_outside_literals(pattern, repl, sql, flags=re.IGNORECASE)


def rewrite(sql: str, session: Optional["EngineSession"] = None) -> str:
    """Normalize reference-dialect SQL to Spark SQL."""
    sql = _strip_line_comments(sql)
    if NOOP_STATEMENTS.match(sql):
        return "SELECT 'ok' AS status"  # transaction shims: harmless no-op
    sql = _substitute_variables(sql, session)
    sql = _substitute_constants(sql, session)
    sql = _rewrite_from_first(sql)
    sql = _rewrite_top(sql)
    sql = _rewrite_system_range(sql)
    sql = _rewrite_minus(sql)
    sql = _rewrite_string_agg(sql)
    sql = _rewrite_datetime_keywords(sql)
    sql = _rewrite_group_concat(sql)
    sql = _rewrite_csvread(sql, session)
    sql = _rewrite_pipeline_tvf(sql, session)
    sql = _rewrite_table_constructor(sql)
    sql = _rewrite_sequence_calls(sql, session)
    sql = _rewrite_rownum(sql)
    sql = _strip_for_update(sql)
    sql = _rewrite_nullary_system_fns(sql)
    sql = _rewrite_fn_aliases(sql, session)
    return sql


# ---------------------------------------------------------------------------
# built-in pipeline table functions (extension surface in pure SQL):
# the corpus/graph/IR operators callable straight from FROM, the same
# registration style as CSVREAD (materialize -> temp view -> substitute).
# ---------------------------------------------------------------------------
def _rewrite_pipeline_tvf(sql: str, session: Optional["EngineSession"]) -> str:
    """``FROM DEDUP_PAIRS('t'[, 0.7]) / PHRASE_SEARCH('t', 'a b') /
    QUALITY_FILTER('t') / PAGERANK('t', 'src', 'dst'[, iters])`` —
    pipeline operators as SQL table functions. Each call runs the
    operator over the named session table/view, registers the result as
    a deterministic temp view, and substitutes the view name.
    """
    if session is None:
        return sql

    import hashlib as _hashlib

    def _clean(name: str) -> str:
        return re.sub(r"[^A-Za-z0-9]", "_", name).strip("_").lower()

    def _view(prefix: str, *args) -> str:
        # readable prefix + md5 of the RAW arguments: distinct calls can
        # never collide on a lossy cleaned name (e.g. 'big cat' vs
        # 'big.cat', or thresholds 0.7 vs 0.705)
        tag = _hashlib.md5("|".join(str(a) for a in args).encode()).hexdigest()[:10]
        return f"{prefix}_{tag}"

    def _tbl(name: str):
        return session.spark.table(name)

    def r_dedup(m: re.Match) -> str:
        from .operators.dedup import minhash_lsh_pairs

        t, thr = m.group(1), float(m.group(2) or 0.7)
        view = _view(f"dedup_pairs_{_clean(t)}", t, thr)
        minhash_lsh_pairs(_tbl(t), threshold=thr).createOrReplaceTempView(view)
        return view

    def r_phrase(m: re.Match) -> str:
        from .operators.ranking import phrase_search

        t, phrase = m.group(1), m.group(2)
        view = _view(f"phrase_{_clean(t)}", t, phrase)
        phrase_search(_tbl(t), phrase.split()).createOrReplaceTempView(view)
        return view

    def r_quality(m: re.Match) -> str:
        from .operators.textops import quality_filter

        t = m.group(1)
        view = _view(f"quality_{_clean(t)}", t)
        quality_filter(_tbl(t)).createOrReplaceTempView(view)
        return view

    def r_pagerank(m: re.Match) -> str:
        from .operators.graph import pagerank

        t, src, dst = m.group(1), m.group(2), m.group(3)
        iters = int(m.group(4) or 10)
        view = _view(f"pagerank_{_clean(t)}", t, src, dst, iters)
        pagerank(_tbl(t), src=src, dst=dst, iters=iters).createOrReplaceTempView(
            view
        )
        return view

    sql = _sub_outside_literals(
        r"DEDUP_PAIRS\s*\(\s*'([^']+)'\s*(?:,\s*([0-9.]+)\s*)?\)",
        r_dedup,
        sql,
        flags=re.IGNORECASE,
    )
    sql = _sub_outside_literals(
        r"PHRASE_SEARCH\s*\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)",
        r_phrase,
        sql,
        flags=re.IGNORECASE,
    )
    sql = _sub_outside_literals(
        r"QUALITY_FILTER\s*\(\s*'([^']+)'\s*\)",
        r_quality,
        sql,
        flags=re.IGNORECASE,
    )
    sql = _sub_outside_literals(
        r"PAGERANK\s*\(\s*'([^']+)'\s*,\s*'([^']+)'\s*,\s*'([^']+)'\s*"
        r"(?:,\s*([0-9]+)\s*)?\)",
        r_pagerank,
        sql,
        flags=re.IGNORECASE,
    )
    return sql

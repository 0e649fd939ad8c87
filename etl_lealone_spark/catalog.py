"""Engine catalog + SQL statement router (SURVEY.md §2.9, §3).

The reference executes ~50 DDL statement types plus INSERT/UPDATE/DELETE/
MERGE through its parser (lealone-sql/.../ddl/, dml/); this module is the
Spark-native statement surface: a :class:`Catalog` of snapshot-versioned
parquet tables plus a router that turns statement text into DataFrame
operations. Any statement that is not a Lealone-only command goes
through the dialect rewriter and is parsed once by Spark's parser; DML
plan nodes become snapshot writes, any other plan the DataFrame.
CREATE TABLE is parsed by Spark too: its Lealone-only forms (type
names, IDENTITY, ``AS (expr)``, COLLATE, the prefixes and trailing
clauses) are turned into ANSI text first, and the columns and
constraints are read from the CreateTable node. The query of a CTAS,
view, materialized view, CALL or REFRESH takes the same rewrites and
the same one parse.

Supported statements (reference file cites):
- CREATE TABLE / DROP TABLE / TRUNCATE TABLE (CreateTable.java,
  DropTable.java, TruncateTable.java)
- INSERT VALUES / INSERT SELECT (Insert.java:33,127)
- UPDATE ... SET ... [WHERE] (Update.java:125-200)
- DELETE FROM ... [WHERE] (Delete.java:84-130)
- MERGE INTO t [(cols)] KEY(cols) VALUES ... / SELECT (Merge.java:35)
- CREATE [OR REPLACE] VIEW / DROP VIEW (CreateView.java)
- CREATE INDEX / DROP INDEX — metadata-only (CreateIndex.java; an LSM/
  BTree index has no meaning over parquet + Catalyst, recorded for
  introspection)
- CREATE SEQUENCE / DROP SEQUENCE (CreateSequence.java)
- EXPLAIN <query> (Explain.java:30)
- SET name value (dml/Set.java)
- CALL <expr> (Call.java:23)
- SCRIPT (dump DDL; Script.java) — returns the DDL as rows

Everything here is driver-side metadata + Spark jobs; no OLTP machinery.
"""

from __future__ import annotations

import copy
import os
import re
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Mapping, Optional, Sequence

from py4j.protocol import Py4JJavaError
from pyspark.errors import ParseException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    IntegralType,
    StringType,
    StructField,
    StructType,
    _parse_datatype_json_string,
)

from .dialect import (
    _mask_literals,
    _mask_nested,
    _split_top_level,
    _sub_outside_literals,
    rewrite,
)
from .operators.dml import SnapshotTable, merge_by_key
from .services import ServiceMeta, generate_model_code, generate_service_code, parse_methods

if TYPE_CHECKING:
    from .session import EngineSession

# H2/reference type name → Spark SQL type (SURVEY.md §1.2 mapping table)
TYPE_MAP = {
    "int": "int", "integer": "int", "mediumint": "int", "int4": "int",
    "signed": "int",
    "long": "bigint", "bigint": "bigint", "int8": "bigint",
    "identity": "bigint", "serial": "bigint",
    "tinyint": "tinyint", "smallint": "smallint", "int2": "smallint",
    "year": "smallint",
    "double": "double", "float": "double", "float8": "double",
    "real": "float", "float4": "float",
    "decimal": "decimal(18,2)", "numeric": "decimal(18,2)", "dec": "decimal(18,2)",
    "number": "decimal(18,2)",
    "boolean": "boolean", "bool": "boolean", "bit": "boolean",
    "varchar": "string", "char": "string", "character": "string",
    "varchar2": "string", "nvarchar": "string", "nvarchar2": "string",
    "varchar_casesensitive": "string",
    # reference STRING_IGNORECASE (Value.java:118): case-insensitive at
    # every compare site — Spark 4 native collation gives exactly that,
    # JVM-side (no lower() wrappers needed)
    "varchar_ignorecase": "string collate UTF8_LCASE",
    "longvarchar": "string", "clob": "string", "text": "string",
    "ntext": "string", "nclob": "string", "string": "string",
    "uuid": "string",
    "binary": "binary", "varbinary": "binary", "blob": "binary",
    "bytea": "binary", "raw": "binary", "longvarbinary": "binary",
    "other": "binary",
    "date": "date", "time": "string",  # no Spark TimeType → 'HH:mm:ss' strings
    "timestamp": "timestamp", "datetime": "timestamp", "smalldatetime": "timestamp",
    "array": "array<string>",
}

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


def _sql_literal(v) -> str:
    """Python value → SQL literal for SCRIPT dumps (reference Script.java
    delegates to each Value type's getSQL())."""
    import datetime as _dt
    from decimal import Decimal as _Dec

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float, _Dec)):
        return str(v)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    if isinstance(v, (list, tuple)):
        return "ARRAY[" + ", ".join(_sql_literal(x) for x in v) + "]"
    s = str(v).replace("'", "''")
    return f"'{s}'"


def _driver_keyable(t: DataType) -> bool:
    """Whether key values of type ``t`` compare on the driver exactly as
    Spark compares them: no NaN or -0.0 rules (floats), no session time
    zone round trip (timestamps), no collation (non-binary strings), no
    unhashable values (binary)."""
    if isinstance(t, StringType):
        return t.collation == "UTF8_BINARY"
    return isinstance(t, (IntegralType, DecimalType, DateType, BooleanType))


def _key_literal(v, t: DataType) -> str:
    """SQL literal of a collected key value of a ``_driver_keyable`` type
    ``t``, cast to ``t`` so that an ``IN`` list of them pushes down to the
    scan. A string goes through its UTF-8 hex, so no character in it
    needs escaping."""
    if isinstance(t, StringType):
        raw = f"X'{v.encode().hex()}'"
    elif isinstance(t, DecimalType):
        raw = f"'{v:f}'"
    elif isinstance(t, DateType):
        raw = f"DATE '{v.isoformat()}'"
    else:  # integral or boolean
        raw = str(v).lower()
    return f"CAST({raw} AS {t.simpleString()})"


def _import_dotted(path: str):
    """Resolve ``module.sub.attr`` to the attribute (CREATE ALIAS /
    CREATE AGGREGATE ``FOR`` targets — the reference resolves Java
    class/method names the same way, CreateFunctionAlias.java:71)."""
    import importlib

    mod_name, _, attr = path.rpartition(".")
    if not mod_name:
        raise ValueError(f"not a dotted path: {path}")
    try:
        mod = importlib.import_module(mod_name)
    except ImportError as exc:
        raise ValueError(f"cannot import {mod_name}: {exc}") from exc
    try:
        return getattr(mod, attr)
    except AttributeError as exc:
        raise ValueError(f"{mod_name} has no attribute {attr}") from exc


@dataclass
class IndexMeta:
    name: str
    table: str
    columns: list[str]
    unique: bool = False


@dataclass
class TableConstraints:
    """Column semantics beyond the storage schema (reference Column.java:
    70-81 — defaults, computed columns, CHECK, NOT NULL; enforcement at
    write time, since parquet itself enforces nothing)."""

    not_null: list[str] = field(default_factory=list)
    defaults: dict[str, str] = field(default_factory=dict)  # col → SQL expr
    computed: dict[str, str] = field(default_factory=dict)  # col → SQL expr
    checks: list[str] = field(default_factory=list)  # SQL boolean exprs
    identity: list[str] = field(default_factory=list)  # auto-fill columns
    # FOREIGN KEY metadata (ConstraintReferential.java): recorded, not
    # enforced — (fk_name, fk_columns, ref_table, ref_columns)
    foreign_keys: list[tuple[str, list[str], str, list[str]]] = field(
        default_factory=list
    )


@dataclass
class Catalog:
    """Schema-object registry: tables (snapshot-backed), views, indexes,
    sequences metadata (sequences themselves live on EngineSession)."""

    spark: SparkSession
    warehouse: str
    tables: dict[str, SnapshotTable] = field(default_factory=dict)
    table_ddl: dict[str, str] = field(default_factory=dict)
    views: dict[str, str] = field(default_factory=dict)
    indexes: dict[str, IndexMeta] = field(default_factory=dict)
    domains: dict[str, str] = field(default_factory=dict)
    principals: set[str] = field(default_factory=set)
    constraints: dict[str, TableConstraints] = field(default_factory=dict)
    # schema-level objects (reference: Schema.java / CreateSchema.java,
    # CreateConstant.java, CreateRole.java, GrantRevoke.java, Comment-
    # Statement) — a flat namespace registry; table names stay unqualified
    # like the reference's default PUBLIC-schema usage
    schemas: dict[str, str] = field(default_factory=lambda: {"public": "sa"})
    constants: dict[str, str] = field(default_factory=dict)  # name → SQL expr
    roles: set[str] = field(default_factory=lambda: {"public"})
    # (grantee, rights, object) from GRANT/REVOKE
    grants: list[tuple[str, str, str]] = field(default_factory=list)
    comments: dict[str, str] = field(default_factory=dict)  # object → remark
    triggers: dict[str, str] = field(default_factory=dict)  # name → DDL text
    # CREATE SERVICE registry (services.py; Parser.java:4252)
    services: dict[str, "ServiceMeta"] = field(default_factory=dict)
    # materialized views: name → defining query (extension; the stored
    # result lives in ``tables`` as a snapshot table)
    mat_views: dict[str, str] = field(default_factory=dict)
    # incremental-refresh state: mv name → (base table, base version the
    # stored result reflects) — set when the MV's base is a catalog
    # snapshot table, advanced by every refresh
    mv_base: dict[str, tuple[str, int]] = field(default_factory=dict)

    def table(self, name: str) -> SnapshotTable:
        key = name.lower()
        if key not in self.tables:
            raise KeyError(f"table not found: {name}")
        return self.tables[key]

    def refresh_view(self, name: str) -> None:
        """Re-register the temp view over the table's CURRENT snapshot so
        subsequent SELECTs observe the mutation. Dependent SQL views are
        re-resolved too (a Spark temp view freezes its plan at creation,
        so stored definitions must be replayed in creation order)."""
        key = name.lower()
        self.tables[key].read().createOrReplaceTempView(key)
        for vname, vquery in self.views.items():
            self.spark.sql(vquery).createOrReplaceTempView(vname)


# Named-collation mapping (reference: lealone-common/.../db/value/
# CompareMode.java + CompareModeIcu4J.java; dml/Set.java COLLATION).
# Language names map to ICU locales; STRENGTH PRIMARY ignores
# case+accents (_CI_AI), SECONDARY ignores case (_CI), TERTIARY /
# IDENTICAL keep full sensitivity. Used by both SET COLLATION
# (database-level, applies to new tables) and per-column
# ``COLLATE <name>`` in CREATE TABLE DDL.
_COLLATION_LOCALES = {
    "ENGLISH": "en", "FRENCH": "fr", "GERMAN": "de", "SPANISH": "es",
    "ITALIAN": "it", "PORTUGUESE": "pt", "CHINESE": "zh",
    "JAPANESE": "ja", "KOREAN": "ko", "RUSSIAN": "ru", "DUTCH": "nl",
    "SWEDISH": "sv", "NORWEGIAN": "no", "DANISH": "da",
    "FINNISH": "fi", "POLISH": "pl", "TURKISH": "tr",
}


# ISO 3166 alpha-2 -> alpha-3 for the country part of ICU locale ids:
# the reference (CompareModeIcu4J.java) accepts `de_AT`-style ids, but
# Spark 4 collation names use alpha-3 (`de_AUT`). Script subtags (4
# letters: Hant, Cyrl, Latn) pass through untouched. Countries not
# listed pass through and get Spark's typed validation at DDL time.
_COUNTRY_A2_TO_A3 = {
    "AT": "AUT", "AU": "AUS", "BE": "BEL", "BR": "BRA", "CA": "CAN",
    "CH": "CHE", "CN": "CHN", "CZ": "CZE", "DE": "DEU", "DK": "DNK",
    "ES": "ESP", "FI": "FIN", "FR": "FRA", "GB": "GBR", "GR": "GRC",
    "HK": "HKG", "IE": "IRL", "IN": "IND", "IT": "ITA", "JP": "JPN",
    "KR": "KOR", "MX": "MEX", "NL": "NLD", "NO": "NOR", "NZ": "NZL",
    "PL": "POL", "PT": "PRT", "RS": "SRB", "RU": "RUS", "SE": "SWE",
    "SG": "SGP", "TR": "TUR", "TW": "TWN", "UA": "UKR", "US": "USA",
}


def collation_to_spark(name: str, strength: str | None = None) -> str | None:
    """H2/ICU collation name [+ strength] → Spark 4 collation identifier
    (None = UTF8_BINARY, the default). Unknown language names pass
    through lowercased as ICU locale ids — `de_AT`-style country
    variants are rewritten to Spark's alpha-3 form (`de_AUT`), script
    subtags (`zh_Hant`) pass through — and Spark validates the result at
    the compare/DDL site; the caller converts that to a typed error."""
    up = name.upper()
    if up in ("OFF", "BINARY"):
        return None  # UTF8_BINARY, the default
    if up.startswith("ICU4J_"):
        up = up[len("ICU4J_"):]
    base = _COLLATION_LOCALES.get(up)
    if base is None:
        # fall back on the PREFIX-STRIPPED name: ICU4J_EN must map to
        # locale 'en', not 'icu4j_en' (r6 review finding)
        if up in ("DEFAULT", "UNICODE"):
            base = "UNICODE"
        else:
            parts = up.split("_")
            out = [parts[0].lower()]
            for p in parts[1:]:
                if len(p) == 4 and p.isalpha():
                    out.append(p.title())  # script subtag: Hant, Cyrl
                elif len(p) == 2 and p.upper() in _COUNTRY_A2_TO_A3:
                    out.append(_COUNTRY_A2_TO_A3[p.upper()])
                else:
                    out.append(p.upper() if p.isalpha() else p)
            base = "_".join(out)
    suffix = {
        "PRIMARY": "_CI_AI",
        "SECONDARY": "_CI",
        "TERTIARY": "",
        "IDENTICAL": "",
    }.get((strength or "").upper(), "")
    return f"{base}{suffix}"


def _spark_type(typ: str, args: str, domains: Mapping[str, str]) -> str:
    """The Spark type of Lealone type name ``typ`` with its ``(p[,s])``
    ``args`` (which only the decimal family keeps), or of a CREATE
    DOMAIN name. An unknown name raises."""
    t = typ.lower()
    if t in ("decimal", "numeric", "dec", "number") and args:
        return "decimal" + re.sub(r"\s+", "", args)
    spark_type = TYPE_MAP.get(t) or domains.get(t)
    if spark_type is None:
        raise ValueError(f"unknown type: {typ}")
    return spark_type


def _names(s) -> list[str]:
    """The lowercased names of a Scala Seq of column names."""
    return [c.lower() for c in _seq(s)]


# CREATE TABLE's head up to its element list, matched over the top-level
# mask: the element list is one run of NULs there
_CREATE_TABLE = re.compile(
    r"CREATE\s+(?P<prefix>(?:CACHED|MEMORY|(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?)\s+)?"
    r"TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[^\s\0]+\s*(?P<elems>\0*)",
    re.IGNORECASE,
)
# a column's name, type and (p[,s]), over the column's mask
_COLUMN_HEAD = re.compile(r"\s*(?:[^\s\0]+|\0+)\s+(?P<type>[A-Za-z_]\w*)(?P<args>\s*\0+)?")
_TYPE_ARGS = re.compile(r"\(\s*\d+\s*(?:,\s*\d+\s*)?\)")
# the Lealone clauses of a column or table constraint; the first
# alternative is Spark's own text that the others must not touch
_LEALONE_CLAUSE = re.compile(
    r"\b(?P<keep>(?:NOT|DEFAULT|SET|IS)\s+NULL"
    r"|GENERATED\s+(?:ALWAYS|BY\s+DEFAULT)\s+AS\s+(?:IDENTITY\b|\0+))"
    r"|\bNULL\b|\bSELECTIVITY\s+\d+"
    r"|\b(?P<identity>AUTO_INCREMENT|IDENTITY)\b"
    r"|\b(?P<computed>AS)(?=\s*\0)"
    r"|\bCOLLATE\s+(?P<collation>[A-Za-z_]\w*)(?:\s+STRENGTH\s+(?P<strength>[A-Za-z]+))?"
    r"|\bREFERENCES\s+(?P<ref>[A-Za-z_][\w.]*)\b(?!\s*\0)",
    re.IGNORECASE,
)
# one clause after the element list of CREATE TABLE / CREATE SERVICE
# (Parser.java:4271-4293), over the top-level mask
_CREATE_TAIL = re.compile(
    r"\s*(?:PACKAGE\s+(?P<package>\0+)|GENERATE\s+CODE\s+(?P<code>\0+)"
    r"|IMPLEMENT\s+BY\s+(?P<implement>\0+)|ENGINE\s*=?\s*\w+|HIDDEN\b)",
    re.IGNORECASE,
)


def _create_tail(s: str, mask: str, pos: int) -> tuple[dict, int]:
    """The literals of the PACKAGE, GENERATE CODE and IMPLEMENT BY
    clauses of ``s`` from ``pos`` on, by key, and where the clauses end;
    ENGINE and HIDDEN are accepted and dropped."""
    out = {}
    while m := _CREATE_TAIL.match(mask, pos):
        out.update({k: s[m.start(k) + 1 : m.end(k) - 1] for k, v in m.groupdict().items() if v})
        pos = m.end()
    return out, pos

# leading whitespace and comments: the head keyword comes after them
_LEADING_COMMENTS = re.compile(r"(?:\s+|--[^\n]*|/\*.*?\*/)*", re.DOTALL)

# Lealone's DML forms that Spark's grammar lacks, matched over the
# top-level mask (see _ansi_dml)
_LEALONE_DML = re.compile(
    r"(?:UPDATE|DELETE)\b.*?(?P<limit>\s+LIMIT\s+(?P<n>\d+))\s*$"
    r"|INSERT\s+INTO\s+[^\s\0]+\s*\0*\s*"
    r"(?:(?P<direct>DIRECT)\s|(?P<set>SET)\s|(?P<default>DEFAULT\s+VALUES)\s*$)"
    r"|(?P<merge>MERGE)\s+INTO\s+[^\s\0]+\s*\0*\s*(?P<key>KEY\s*(?P<keys>\0+))",
    re.IGNORECASE | re.DOTALL,
)


def _ansi_dml(s: str) -> tuple[str, dict]:
    """Lealone's DML extensions as ANSI text that Spark parses, plus what
    the text no longer says: ``UPDATE/DELETE … LIMIT n`` (the limit),
    ``INSERT … DIRECT`` (a buffering hint, dropped), ``INSERT … SET a =
    x`` (as ``(a) VALUES (x)``), ``DEFAULT VALUES`` (a one-row VALUES,
    flagged) and ``MERGE INTO t [(cols)] KEY(k) src`` (as ``INSERT INTO
    t [(cols)] src``, with the keys). One match over the top-level mask
    (Parser.java:1014-1070)."""
    m = _LEALONE_DML.match(_mask_nested(s), _LEADING_COMMENTS.match(s).end())
    if m is None:
        return s, {}
    if m.group("n"):
        return s[: m.start("limit")], {"limit": int(m.group("n"))}
    if m.group("direct"):
        return s[: m.start("direct")] + s[m.end("direct"):], {}
    if m.group("set"):
        pairs = [p.split("=", 1) for p in _split_top_level(s[m.end("set"):])]
        cols, vals = (", ".join(x.strip() for x in side) for side in zip(*pairs))
        return f"{s[: m.start('set')]}({cols}) VALUES ({vals})", {}
    if m.group("default"):
        return s[: m.start("default")] + "VALUES (1)", {"default": True}
    keys = s[m.start("keys") + 1 : m.end("keys") - 1].split(",")
    text = s[: m.start("merge")] + "INSERT" + s[m.end("merge"): m.start("key")]
    return text + s[m.end("key"):], {"keys": [k.strip().lower() for k in keys]}


# the parsed plans of a VALUES list: its rows are in the statement text
_VALUES_PLANS = ("LocalRelation", "UnresolvedInlineTable")

# parsed DML plan class -> StatementRouter handler
_DML_HANDLERS = {
    "InsertIntoStatement": "_insert",
    "UpdateTable": "_update",
    "DeleteFromTable": "_delete",
    "MergeIntoTable": "_merge",
}


def _head(s: str) -> tuple[str, str]:
    """``s`` without its leading comments, and its head keyword."""
    body = s[_LEADING_COMMENTS.match(s).end():]
    return body, (body.split(None, 1)[0].upper() if body else "")


def _seq(s) -> list:
    """The items of a Scala Seq."""
    return [s.apply(i) for i in range(s.size())]


def _span(e, text: str) -> str:
    """The text of parsed expression ``e``: its origin's character span in
    ``text``, widened over its leftmost children (a predicate such as
    ``x IN (…)`` has its origin start at IN)."""
    o = e.origin()
    start, stop = o.startIndex(), o.stopIndex()
    if start.isEmpty() or stop.isEmpty():
        raise ValueError(f"no source position for {e.toString()}")
    start = start.get()
    while e.children().nonEmpty():
        e = e.children().head()
        at = e.origin().startIndex()
        if at.isDefined():
            start = min(start, at.get())
    return text[start : stop.get() + 1]


def _target(rel) -> tuple[str, str]:
    """(table name, alias) of a parsed ``t`` or ``t [AS] alias``; the
    alias defaults to the name."""
    alias = None
    if rel.getClass().getSimpleName() == "SubqueryAlias":
        alias, rel = rel.alias(), rel.child()
    name = ".".join(_seq(rel.multipartIdentifier())).lower()
    return name, (alias or name).lower()


def _column(key, name: str, alias: str, columns: Sequence[str]) -> str:
    """The column an assignment sets: ``c``, or ``q.c`` where ``q`` is the
    table or its alias. Anything else raises."""
    parts = [p.lower() for p in _seq(key.nameParts())]
    if len(parts) == 2 and parts[0] in (name, alias):
        parts = parts[1:]
    if len(parts) != 1 or parts[0] not in columns:
        raise ValueError(f"table {name} has no column {'.'.join(parts)}")
    return parts[0]


class StatementRouter:
    """Routes a SQL statement to catalog DDL, snapshot DML, or Spark SQL.

    The head keyword, read after any leading comments, picks the handler
    of a Lealone-only command. Every other statement passes the dialect
    rewrites and is then parsed once by Spark's own parser, and the class
    of the plan node decides: INSERT (also behind WITH), UPDATE, DELETE
    and MERGE run as snapshot writes, any other plan becomes the
    DataFrame. Lealone's DML forms that Spark's grammar lacks are turned
    into ANSI text before the parse (:func:`_ansi_dml`). A DML plan never
    reaches ``spark.sql``: a form the handlers do not implement, and DML
    with parameters, raise ValueError.
    """

    def __init__(self, session: "EngineSession", catalog: Catalog):
        self.session = session
        self.catalog = catalog
        self.spark = session.spark
        self._parser = self.spark._jsparkSession.sessionState().sqlParser()
        self._dataset = self.spark._jvm.org.apache.spark.sql.classic.Dataset

    # -- entry ----------------------------------------------------------
    def execute(self, sql: str, args=None) -> DataFrame:
        s = sql.strip().rstrip(";").strip()
        body, head = _head(s)
        handler = None if args is not None else {
            "CREATE": self._create,
            "DROP": self._drop,
            "TRUNCATE": self._truncate,
            "EXPLAIN": self._explain,
            "SET": self._set,
            "CALL": self._call,
            "SCRIPT": self._script,
            "ANALYZE": self._analyze,
            "ALTER": self._alter,
            "RUNSCRIPT": self._runscript,
            "PREPARE": self._prepare,
            "EXECUTE": self._execute_prepared,
            "DEALLOCATE": self._deallocate,
            "GRANT": self._grant_revoke,
            "REVOKE": self._grant_revoke,
            "COMMENT": self._comment,
            "BACKUP": self._backup,
            "SHOW": self._show,
            "DESCRIBE": self._describe,
            "DESC": self._describe,
            "OPTIMIZE": self._optimize,
            "RESTORE": self._restore,
            "VACUUM": self._vacuum,
            "REFRESH": self._refresh,
            "CHECKSUM": self._checksum,
            "USE": self._use,
            "SHUTDOWN": self._shutdown,
            # DECLARE GLOBAL TEMPORARY TABLE … is CREATE in the reference
            # grammar (Parser.java:367-369)
            "DECLARE": lambda stmt: self._create(
                "CREATE " + stmt.split(None, 1)[1]
            ),
        }.get(head)
        if handler:
            result = handler(body)
            if head in ("CREATE", "DECLARE", "DROP", "TRUNCATE", "ALTER", "RUNSCRIPT"):
                self.session.invalidate_cache()
            return result
        plan, kind, s, extra = self._parse(s)
        if kind not in _DML_HANDLERS:
            if args is not None:
                return self.spark.sql(s, args=args)
            return self._frame(plan)
        if args is not None:
            raise ValueError(
                f"DML with parameters is not supported; write the values "
                f"into the statement: {s[:80]}"
            )
        result = getattr(self, _DML_HANDLERS[kind])(plan, s, extra)
        self.session.invalidate_cache()
        return result

    def _parse(self, s: str) -> tuple:
        """(plan, plan class, text, extra) of a statement that is not a
        Lealone-only command: the dialect rewrites, then one parse. A CTE
        ahead of an INSERT is moved into its query. CREATE TABLE's forms
        are read before the rewrites, which would run a sequence call in
        a column definition once, at CREATE."""
        extra = {}
        if _head(s)[1] == "CREATE":
            s, extra = self._ansi_create(s)
        s = self._rewrite_info_schema(s)
        s = self._rewrite_time_travel(s)
        s = self._rewrite_table_diff(s)
        s = rewrite(s, session=self.session)
        if _head(s)[1] in ("INSERT", "UPDATE", "DELETE", "MERGE"):
            s, extra = _ansi_dml(s)
        plan = self._parser.parsePlan(s)
        kind = plan.getClass().getSimpleName()
        if kind == "UnresolvedWith":
            inner = plan.child()
            kind = inner.getClass().getSimpleName()
            if kind == "InsertIntoStatement":
                # the CTEs ahead of an INSERT belong to its query
                seq = self.spark._jvm.PythonUtils.toSeq
                plan = inner.withNewChildren(
                    seq([plan.withNewChildren(seq([inner.query()]))])
                )
            elif kind in _DML_HANDLERS:
                raise ValueError(f"WITH is supported only ahead of INSERT: {s[:80]}")
        return plan, kind, s, extra

    def _query(self, q: str) -> tuple[DataFrame, str]:
        """The DataFrame of the query text inside a DDL statement, and
        that text after the dialect rewrites: the one parse of
        :meth:`_parse`, never ``spark.sql``. DML raises."""
        plan, kind, text, _ = self._parse(q)
        if kind in _DML_HANDLERS:
            raise ValueError(f"a query is expected, not DML: {text[:80]}")
        return self._frame(plan), text

    def _ansi_create(self, s: str) -> tuple[str, dict]:
        """CREATE TABLE's Lealone forms as ANSI text that Spark parses,
        plus what the text no longer says (Parser.java:5700-5800). The
        CACHED/MEMORY/TEMPORARY prefix goes; the names of a CTAS column
        list go to ``extra["columns"]``. Each element of a column list
        passes :meth:`_ansi_element`; the clauses after the list go, and
        their literals to ``extra`` (:func:`_create_tail`)."""
        mask = _mask_nested(s)
        m = _CREATE_TABLE.match(mask, _LEADING_COMMENTS.match(s).end())
        if m is None:
            return s, {}
        a, end = m.span("elems")
        extra, elems = {}, None
        if a < end and re.match(r"\s*AS\b", mask[end:], re.IGNORECASE):
            names = _split_top_level(s[a + 1 : end - 1])
            if all(re.fullmatch(_IDENT, n) for n in names):
                extra["columns"], elems = [n.lower() for n in names], ""
        elif a < end:
            parts = _split_top_level(s[a + 1 : end - 1])
            elems = f"({', '.join(self._ansi_element(e) for e in parts)})"
            extra, end = _create_tail(s, mask, end)
        if elems is not None:
            s = s[:a] + elems + s[end:]
        if m.group("prefix"):
            s = s[: m.start("prefix")] + s[m.end("prefix"):]
        return s, extra

    def _ansi_element(self, e: str) -> str:
        """One column definition or table constraint of CREATE TABLE as
        ANSI text, by one match over its top-level mask. A column's type
        name and ``(p[,s])`` become its Spark type (:func:`_spark_type`);
        a COLLATE anywhere in the column moves next to it (else the
        session's SET COLLATION applies to a string); IDENTITY/SERIAL and
        AUTO_INCREMENT become GENERATED BY DEFAULT AS IDENTITY; ``AS
        (expr)`` becomes GENERATED ALWAYS AS (expr); SELECTIVITY and a
        bare NULL go; REFERENCES t without columns names t's primary
        key. A NEXTVAL/CURRVAL call raises: the dialect runs it once per
        statement, not once per row."""
        if re.search(r"\b(?:NEXTVAL|CURRVAL)\s*\(", _mask_literals(e), re.IGNORECASE):
            raise ValueError(f"a sequence call runs once per statement, not per row: {e!r}")
        mask = _mask_nested(e)
        head = None
        if not re.match(r"(?:CONSTRAINT|PRIMARY|UNIQUE|CHECK|FOREIGN)\b", mask, re.IGNORECASE):
            head = _COLUMN_HEAD.match(mask)
            if head is None:
                raise ValueError(f"cannot parse column definition: {e!r}")
        out, pos = [], head.end() if head else 0
        identity, collation = False, None
        for c in _LEALONE_CLAUSE.finditer(mask, pos):
            if c.group("keep"):
                continue
            out.append(e[pos : c.start()])
            pos = c.end()
            if c.group("identity"):
                identity = True
            elif c.group("computed"):
                out.append("GENERATED ALWAYS AS")
            elif c.group("collation"):
                collation = collation_to_spark(c.group("collation"), c.group("strength"))
                collation = collation or "UTF8_BINARY"
            elif c.group("ref"):
                pk = self.catalog.indexes.get(f"__pk_{c.group('ref').lower()}")
                if pk is None:
                    raise ValueError(f"REFERENCES {c.group('ref')}: no primary key")
                out.append(f"{e[c.start() : c.end()]} ({', '.join(pk.columns)})")
        out.append(e[pos:])
        if head is None:
            return "".join(out)
        typ = head.group("type")
        args = e[head.start("args") : head.end("args")].strip()  # "" when absent
        if args and not _TYPE_ARGS.fullmatch(args):
            raise ValueError(f"cannot parse column type: {e!r}")
        spark_type = _spark_type(typ, args, self.catalog.domains)
        if collation is None and spark_type == "string":
            collation = self.session.collation
        if collation:
            spark_type += f" collate {collation}"
        if identity or typ.lower() in ("identity", "serial"):
            spark_type += " GENERATED BY DEFAULT AS IDENTITY"
        return e[: head.start("type")] + spark_type + "".join(out)

    def _rewrite_time_travel(self, s: str) -> str:
        """``FROM t VERSION AS OF n`` / ``FROM t TIMESTAMP AS OF 'ts'``
        — AS-OF reads over snapshot tables.

        Each pinned version registers a dedicated temp view over
        ``SnapshotTable.read(version=n)`` (a self-contained parquet dir,
        so the historical scan costs the same as a current one) and the
        reference is rewritten to it. TIMESTAMP AS OF resolves to the
        latest version committed at or before the literal (Delta's
        resolution rule; commit time = the _SUCCESS marker's mtime, see
        SnapshotTable.commit_ts) and then shares the VERSION AS OF view
        machinery. Naive literals are interpreted as UTC. Unknown
        tables/versions/too-early timestamps raise via the lookups.
        """
        pat_ts = re.compile(
            r"\b([A-Za-z_][A-Za-z0-9_]*)\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'",
            re.IGNORECASE,
        )

        def sub_ts(m: "re.Match[str]") -> str:
            from datetime import datetime, timezone

            name, lit = m.group(1).lower(), m.group(2)
            dt = datetime.fromisoformat(lit)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            st = self.catalog.table(name)
            ver = st.version_as_of_timestamp(dt.timestamp())
            view = f"{name}__asof_{ver}"
            st.read(version=ver).createOrReplaceTempView(view)
            return view

        s = _sub_outside_literals(pat_ts, sub_ts, s)
        pat = re.compile(
            r"\b([A-Za-z_][A-Za-z0-9_]*)\s+VERSION\s+AS\s+OF\s+(\d+)",
            re.IGNORECASE,
        )

        def sub(m: "re.Match[str]") -> str:
            name, ver = m.group(1).lower(), int(m.group(2))
            view = f"{name}__asof_{ver}"
            self.catalog.table(name).read(version=ver).createOrReplaceTempView(
                view
            )
            return view

        return _sub_outside_literals(pat, sub, s)

    def _rewrite_table_diff(self, s: str) -> str:
        """``FROM DIFF(t, v1, v2)`` — CDC read between two retained
        snapshot versions (operators/dml.py:snapshot_diff): rewritten to
        a temp view of the classified change rows (columns of ``t`` +
        ``change_type`` in insert/delete/update)."""
        pat = re.compile(
            rf"\bDIFF\s*\(\s*(?P<name>{_IDENT})\s*,\s*(?P<v1>\d+)\s*,"
            r"\s*(?P<v2>\d+)\s*\)",
            re.IGNORECASE,
        )

        def sub(m: "re.Match[str]") -> str:
            from .operators.dml import snapshot_diff

            name = m.group("name").lower()
            v1, v2 = int(m.group("v1")), int(m.group("v2"))
            st = self.catalog.table(name)
            pk = self._pk_of(name)
            if not pk:
                raise ValueError(f"DIFF requires a primary key on {name}")
            view = f"{name}__diff_{v1}_{v2}"
            snapshot_diff(st.read(v1), st.read(v2), pk).createOrReplaceTempView(
                view
            )
            return view

        return _sub_outside_literals(pat, sub, s)

    def _rewrite_info_schema(self, s: str) -> str:
        """Support the reference's dotted ``INFORMATION_SCHEMA.X`` table
        references (MetaTable.java:68): (re)build the meta views from the
        current catalog state, then rewrite to the registered flat
        ``information_schema_x`` temp-view names."""
        if not re.search(r"\bINFORMATION_SCHEMA\s*\.", s, re.IGNORECASE):
            return s
        from .sources.info_schema import information_schema

        information_schema(self.session)
        return re.sub(
            r"\bINFORMATION_SCHEMA\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)",
            lambda m: "information_schema_" + m.group(1).lower(),
            s,
            flags=re.IGNORECASE,
        )

    def _restore(self, s: str) -> DataFrame:
        """``RESTORE TABLE t TO VERSION AS OF n`` — roll back by
        committing a link-clone of the target version
        (SnapshotTable.restore; metadata-only, history-preserving)."""
        m = re.match(
            rf"RESTORE\s+TABLE\s+(?P<name>{_IDENT})\s+TO\s+VERSION\s+AS\s+OF"
            r"\s+(?P<v>\d+)\s*$",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse RESTORE: {s[:80]}")
        name = m.group("name").lower()
        t = self.catalog.table(name)
        new_v = t.restore(int(m.group("v")))
        self.catalog.refresh_view(name)
        self.session.invalidate_cache()
        return self._ok(
            f"restored {name} to version "
            f"{int(m.group('v'))} as v{new_v}"
        )

    def _describe(self, s: str) -> DataFrame:
        """``DESCRIBE HISTORY t`` — introspect the snapshot-version chain
        (the lakehouse twin of the reference's MVCC version metadata;
        extension: the reference keeps versions in-memory per
        transaction, this engine keeps them as readable directories).
        Returns one row per COMMITTED version: version, n_files (logical
        reader tasks — links count, exactly like compact()'s threshold
        input), size_bytes (resolved physical bytes; files shared with
        older versions via links are attributed to every version that
        references them), is_current. Metadata-only: no table scan.

        Plain ``DESCRIBE t`` / ``DESC t`` routes to the SHOW COLUMNS
        surface (MySQL-compat, like the reference's parseShow)."""
        m = re.match(
            rf"DESC(?:RIBE)?\s+HISTORY\s+(?P<name>{_IDENT})\s*$",
            s,
            re.IGNORECASE,
        )
        if m:
            from datetime import datetime, timezone

            t = self.catalog.table(m.group("name").lower())
            cur = t.version
            rows = []
            for v in t.versions():
                fm = t._file_map(v)
                size = 0
                for resolved in fm:
                    try:
                        size += os.path.getsize(resolved)
                    except OSError:
                        pass
                cts = datetime.fromtimestamp(
                    t.commit_ts(v), tz=timezone.utc
                ).replace(tzinfo=None)
                rows.append((v, len(fm), size, cts, v == cur))
            return self.spark.createDataFrame(
                rows,
                "version int, n_files int, size_bytes bigint, "
                "commit_ts timestamp_ntz, is_current boolean",
            )
        m = re.match(
            rf"DESC(?:RIBE)?\s+(?:TABLE\s+)?(?P<name>{_IDENT})\s*$",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse DESCRIBE: {s[:80]}")
        name = m.group("name").lower()
        if name not in self.catalog.tables and name not in self.catalog.views:
            # Not a catalog object — a Spark-native temp view (or an
            # error Spark will phrase better than we can): fall through.
            return self.spark.sql(s)
        return self._show(f"SHOW COLUMNS FROM {name}")

    def _show(self, s: str) -> DataFrame:
        """SHOW … — rewritten to INFORMATION_SCHEMA selects exactly like
        the reference (Parser.java:884 parseShow: MySQL/PostgreSQL
        compatibility surface)."""
        m = re.match(
            r"SHOW\s+(?P<what>DATABASES|SCHEMAS|TABLES|COLUMNS"
            r"|CLIENT_ENCODING|DEFAULT_TRANSACTION_ISOLATION"
            r"|TRANSACTION\s+ISOLATION\s+LEVEL|DATESTYLE"
            r"|SERVER_VERSION|SERVER_ENCODING)"
            rf"(?:\s+FROM\s+(?P<obj>{_IDENT}))?"
            rf"(?:\s+FROM\s+(?P<schema>{_IDENT}))?\s*$",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse SHOW: {s[:80]}")
        what = re.sub(r"\s+", " ", m.group("what").upper())
        pg_constants = {
            "CLIENT_ENCODING": ("'UNICODE'", "client_encoding"),
            "DEFAULT_TRANSACTION_ISOLATION": (
                "'read committed'", "default_transaction_isolation"),
            "TRANSACTION ISOLATION LEVEL": (
                "'read committed'", "transaction_isolation"),
            "DATESTYLE": ("'ISO'", "datestyle"),
            "SERVER_VERSION": ("'8.1.4'", "server_version"),
            "SERVER_ENCODING": ("'UTF8'", "server_encoding"),
        }
        if what in pg_constants:
            val, alias = pg_constants[what]
            return self.spark.sql(f"SELECT {val} AS {alias}")
        if what == "DATABASES":
            q = "SELECT database_name FROM INFORMATION_SCHEMA.DATABASES"
        elif what == "SCHEMAS":
            q = ("SELECT schema_name FROM INFORMATION_SCHEMA.SCHEMATA "
                 "ORDER BY schema_name")
        elif what == "TABLES":
            q = ("SELECT table_name, 'public' AS table_schema FROM "
                 "INFORMATION_SCHEMA.TABLES ORDER BY table_name")
        else:  # COLUMNS FROM t
            table = m.group("obj")
            if not table:
                raise ValueError("SHOW COLUMNS requires FROM <table>")
            q = (
                "SELECT column_name AS field, data_type AS type, "
                "CASE WHEN is_nullable THEN 'YES' ELSE 'NO' END AS `null` "
                f"FROM INFORMATION_SCHEMA.COLUMNS WHERE table_name = "
                f"'{table.lower()}' ORDER BY ordinal_position"
            )
        return self.spark.sql(self._rewrite_info_schema(q))

    def _ok(self, msg: str = "ok") -> DataFrame:
        """A statement's one-row ``status`` result, as a LocalRelation:
        showing it runs no job."""
        return self.spark.sql(
            "SELECT * FROM VALUES (:msg) AS t(status)", args={"msg": msg}
        )

    # -- DDL -------------------------------------------------------------
    def _create(self, s: str) -> DataFrame:
        # CREATE TABLE t2 [SHALLOW] CLONE t1 — zero-copy table clone
        # (extension; Delta shallow-clone semantics over the snapshot
        # layout). Metadata-only: SnapshotTable.clone_from link-clones
        # the source's current snapshot; schema/constraints/PK metadata
        # are copied; VACUUM on the source protects clone-referenced
        # versions (see _vacuum's cross-table scan).
        m = re.match(
            rf"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>{_IDENT})\s+"
            rf"(?:SHALLOW\s+)?CLONE\s+(?P<src>{_IDENT})\s*$",
            s,
            re.IGNORECASE,
        )
        if m:
            name, src_name = m.group("name").lower(), m.group("src").lower()
            if name in self.catalog.tables:
                if re.search(r"IF\s+NOT\s+EXISTS", s, re.IGNORECASE):
                    return self._ok("exists")
                raise ValueError(f"table already exists: {name}")
            src = self.catalog.table(src_name)
            st = SnapshotTable(
                self.spark, self.catalog.warehouse, name,
                partition_by=src.partition_by,
            )
            st.clone_from(src)
            self.catalog.tables[name] = st
            self.catalog.table_ddl[name] = s
            # Deep-copy: ALTER TABLE mutates TableConstraints in place
            # (setdefault returns the live object), so sharing the
            # source's instance would let a later ALTER on either table
            # silently rewrite the other's write-time enforcement.
            self.catalog.constraints[name] = copy.deepcopy(
                self.catalog.constraints.get(src_name, TableConstraints())
            )
            src_pk = self.catalog.indexes.get(f"__pk_{src_name}")
            if src_pk:
                self.catalog.indexes[f"__pk_{name}"] = IndexMeta(
                    f"__pk_{name}", name, src_pk.columns, unique=True
                )
            self.catalog.refresh_view(name)
            return self._ok(f"created table {name} as clone of {src_name}")

        if _CREATE_TABLE.match(_mask_nested(s)):
            return self._create_table(s)

        mask = _mask_nested(s)
        m = re.match(
            rf"CREATE\s+SERVICE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>{_IDENT})"
            r"\s*(?P<methods>\0*)",
            mask,
            re.IGNORECASE,
        )
        tail, end = _create_tail(s, mask, m.end()) if m else ({}, 0)
        if m and not s[end:].strip():
            # CREATE SERVICE (Parser.java:4252; services.py)
            name = m.group("name").lower()
            if name in self.catalog.services:
                if m.group("ine"):
                    return self._ok("exists")
                raise ValueError(f"service already exists: {name}")
            meta = ServiceMeta(
                name=name,
                methods=parse_methods(s[m.start("methods") + 1 : m.end("methods") - 1]),
                package=tail.get("package", ""),
                implement_by=tail.get("implement", ""),
                code_path=tail.get("code", ""),
                ddl=s,
            )
            self.catalog.services[name] = meta
            if meta.code_path:
                generate_service_code(meta)
            return self._ok(f"created service {name}")

        m = re.match(
            rf"CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            rf"(?P<name>{_IDENT})\s+AS\s+(?P<query>.+)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # Materialized view (extension — the reference has only
            # virtual views, TableView.java): the defining query runs
            # once into a snapshot table; reads scan the stored result;
            # REFRESH re-runs the query into a new snapshot.
            name = m.group("name").lower()
            if name in self.catalog.mat_views:
                if re.search(r"IF\s+NOT\s+EXISTS", s, re.IGNORECASE):
                    return self._ok("exists")
                raise ValueError(f"materialized view already exists: {name}")
            q = m.group("query").strip()
            df, _ = self._query(q)
            st = SnapshotTable(self.spark, self.catalog.warehouse, name)
            st.create(df)
            self.catalog.tables[name] = st
            self.catalog.mat_views[name] = q
            base = self._mv_base_table(q)
            if base is not None:
                self.catalog.mv_base[name] = (
                    base,
                    self.catalog.tables[base].version,
                )
            self.catalog.table_ddl[name] = s
            self.catalog.constraints[name] = TableConstraints()
            self.catalog.refresh_view(name)
            return self._ok(f"created materialized view {name}")

        m = re.match(
            rf"CREATE\s+(?P<or_replace>OR\s+REPLACE\s+)?(?:FORCE\s+)?VIEW\s+"
            rf"(?P<name>{_IDENT})\s*(?:\([^)]*\)\s*)?AS\s+(?P<query>.+)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            name = m.group("name").lower()
            if name in self.catalog.views and not m.group("or_replace"):
                raise ValueError(f"view already exists: {name}")
            df, self.catalog.views[name] = self._query(m.group("query"))
            df.createOrReplaceTempView(name)
            return self._ok(f"created view {name}")

        m = re.match(
            rf"CREATE\s+(?P<unique>UNIQUE\s+)?(?:HASH\s+)?INDEX\s+"
            rf"(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>{_IDENT})\s+ON\s+"
            rf"(?P<table>{_IDENT})\s*\((?P<cols>[^)]*)\)\s*$",
            s,
            re.IGNORECASE,
        )
        if m:
            # indexes are metadata-only: Catalyst + parquet stats subsume
            # BTree access paths (SURVEY.md §2.1). A unique index checks
            # the rows the table already has, once: writes then check
            # only the rows they change (_validate_write)
            name = m.group("name").lower()
            meta = IndexMeta(
                name,
                m.group("table").lower(),
                [c.strip().lower() for c in m.group("cols").split(",")],
                unique=bool(m.group("unique")),
            )
            st = self.catalog.tables.get(meta.table)
            if meta.unique and st is not None and st.exists():
                self._check_unique(meta.table, st.read(), meta.columns)
            self.catalog.indexes[name] = meta
            return self._ok(f"created index {name} (metadata only)")

        m = re.match(
            rf"CREATE\s+SEQUENCE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>{_IDENT})"
            rf"(?:\s+START\s+WITH\s+(?P<start>-?\d+))?"
            rf"(?:\s+INCREMENT\s+BY\s+(?P<inc>-?\d+))?"
            rf"(?:\s+CACHE\s+(?P<cache>\d+))?\s*$",
            s,
            re.IGNORECASE,
        )
        if m:
            self.session.create_sequence(
                m.group("name"),
                start=int(m.group("start") or 1),
                increment=int(m.group("inc") or 1),
                cache=int(m.group("cache") or 32),
            )
            return self._ok(f"created sequence {m.group('name').lower()}")

        m = re.match(
            rf"CREATE\s+DOMAIN\s+(?P<name>{_IDENT})\s+AS\s+(?P<base>{_IDENT})"
            r"(?P<args>\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?",
            s,
            re.IGNORECASE,
        )
        if m:
            # CREATE DOMAIN (UserDataType.java): alias for a base type;
            # its constraints are not kept
            self.catalog.domains[m.group("name").lower()] = _spark_type(
                m.group("base"), (m.group("args") or "").strip(), self.catalog.domains
            )
            return self._ok(f"created domain {m.group('name').lower()}")

        m = re.match(
            rf"CREATE\s+SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>{_IDENT})"
            rf"(?:\s+AUTHORIZATION\s+(?P<owner>{_IDENT}))?\s*$",
            s,
            re.IGNORECASE,
        )
        if m:
            # CREATE SCHEMA (ddl/CreateSchema.java): namespace registry
            # entry; objects remain flat-named like the reference's default
            # PUBLIC-schema usage
            name = m.group("name").lower()
            if name in self.catalog.schemas:
                if re.search(r"IF\s+NOT\s+EXISTS", s, re.IGNORECASE):
                    return self._ok("exists")
                raise ValueError(f"schema already exists: {name}")
            self.catalog.schemas[name] = (m.group("owner") or "sa").lower()
            return self._ok(f"created schema {name}")

        m = re.match(
            rf"CREATE\s+CONSTANT\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>{_IDENT})"
            rf"\s+VALUE\s+(?P<expr>.+)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # CREATE CONSTANT (ddl/CreateConstant.java): named scalar bound
            # at definition time, substituted by the dialect rewriter
            name = m.group("name").lower()
            if name in self.catalog.constants and not re.search(
                r"IF\s+NOT\s+EXISTS", s, re.IGNORECASE
            ):
                raise ValueError(f"constant already exists: {name}")
            self.catalog.constants[name] = m.group("expr").strip()
            return self._ok(f"created constant {name}")

        m = re.match(
            rf"CREATE\s+USER\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>{_IDENT}).*$",
            s,
            re.IGNORECASE,
        )
        if m:
            # auth objects: catalog-level stubs (SURVEY.md §2.11)
            self.catalog.principals.add(m.group("name").lower())
            return self._ok(f"created principal {m.group('name').lower()}")

        m = re.match(
            rf"CREATE\s+ROLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>{_IDENT}).*$",
            s,
            re.IGNORECASE,
        )
        if m:
            self.catalog.roles.add(m.group("name").lower())
            return self._ok(f"created role {m.group('name').lower()}")

        m = re.match(
            rf"CREATE\s+(?:FORCE\s+)?TRIGGER\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            rf"(?P<name>{_IDENT})\b.*$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # triggers have no meaning without OLTP row events (SURVEY
            # §2.11) — recorded for INFORMATION_SCHEMA.TRIGGERS, never fired
            self.catalog.triggers[m.group("name").lower()] = s
            return self._ok("ok (trigger recorded: no row-event runtime)")

        m = re.match(
            rf"CREATE\s+(?:FORCE\s+)?ALIAS\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
            rf"(?P<name>{_IDENT})\s+(?:DETERMINISTIC\s+)?"
            rf"(?:FOR\s+\"(?P<target>[^\"]+)\"|AS\s+(?P<src>\$\$.*\$\$|'(?:[^']|'')*'))\s*$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            return self._create_alias(s, m)

        m = re.match(
            rf"CREATE\s+(?:FORCE\s+)?AGGREGATE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
            rf"(?P<name>{_IDENT})\s+FOR\s+\"(?P<target>[^\"]+)\"\s*$",
            s,
            re.IGNORECASE,
        )
        if m:
            # CREATE AGGREGATE (ddl/CreateAggregate.java): the named class
            # must implement the 4-method protocol (AggregateFunction.java:
            # 16-50); registered as a grouped-agg pandas UDF so plain SQL
            # GROUP BY can call it
            name = m.group("name").upper()
            if name in self.session.udfs.aggregates:
                if m.group("ine"):
                    return self._ok("exists")
                raise ValueError(f"function alias already exists: {name}")
            cls = _import_dotted(m.group("target"))
            self.session.udfs.create_sql_aggregate(name, cls)
            self.session.fn_alias_ddl[name] = s
            return self._ok(f"created aggregate {name}")

        raise ValueError(f"unsupported CREATE statement: {s[:80]}")

    def _create_table(self, s: str) -> DataFrame:
        """CREATE TABLE with a column list (CreateTable.java) or ``AS
        query`` (Parser.java:5777), read from the plan node of the one
        parse: the columns and constraints (:meth:`_columns`), or the
        query's DataFrame. A parse error or a storage clause (USING,
        LOCATION, PARTITIONED BY, …) raises ValueError."""
        try:
            plan, kind, _, extra = self._parse(s)
        except (Py4JJavaError, ParseException) as exc:
            msg = exc.java_exception.getMessage() if isinstance(exc, Py4JJavaError) else exc
            raise ValueError(f"cannot parse CREATE TABLE: {str(msg).strip()}") from exc
        if kind not in ("CreateTable", "CreateTableAsSelect"):
            raise ValueError(f"unsupported CREATE TABLE: {s[:80]}")
        spec, parts = plan.tableSpec(), _names(plan.name().nameParts())
        if (
            len(parts) != 1
            or any(o.isDefined() for o in (spec.provider(), spec.location(),
                                           spec.collation(), spec.serde()))
            or spec.external()
            or not spec.properties().isEmpty()
            or spec.optionExpression().options().nonEmpty()
            or plan.partitioning().nonEmpty()
        ):
            raise ValueError(f"unsupported CREATE TABLE clause: {s[:80]}")
        name = parts[0]
        if name in self.catalog.tables:
            if plan.ignoreIfExists():
                return self._ok("exists")
            raise ValueError(f"table already exists: {name}")
        st = SnapshotTable(self.spark, self.catalog.warehouse, name)
        if kind == "CreateTable":
            schema, pk, uniques, cons = self._columns(plan)
            st.create_empty(schema)
        else:
            df = self._frame(plan.query())
            if "columns" in extra:
                if len(extra["columns"]) != len(df.columns):
                    raise ValueError(
                        f"CTAS column list has {len(extra['columns'])} names for "
                        f"{len(df.columns)} query columns"
                    )
                df = df.toDF(*extra["columns"])
            st.create(df)
            schema, pk, uniques, cons = df.schema, [], {}, TableConstraints()
        self.catalog.tables[name] = st
        self.catalog.table_ddl[name] = s
        self.catalog.constraints[name] = cons
        if pk:
            self.catalog.indexes[f"__pk_{name}"] = IndexMeta(
                f"__pk_{name}", name, pk, unique=True
            )
        for uq, cols in uniques.items():
            index = f"__uq_{name}_{uq}"
            self.catalog.indexes[index] = IndexMeta(index, name, cols, unique=True)
        self.catalog.refresh_view(name)
        if "code" in extra:
            # GENERATE CODE (SqlScript.java:56-58): emit the typed Python
            # model class for this table
            cols_typed = [(f.name, f.dataType.simpleString()) for f in schema.fields]
            generate_model_code(name, cols_typed, extra.get("package", ""), extra["code"])
        return self._ok(f"created table {name}" + ("" if kind == "CreateTable" else " as select"))

    @staticmethod
    def _columns(plan) -> tuple[StructType, list[str], dict, TableConstraints]:
        """(schema, primary key, unique column lists by constraint name,
        constraints) of a parsed CreateTable: each column's type, NOT
        NULL (a primary key's columns too), DEFAULT, generation
        expression and IDENTITY, and the PRIMARY KEY, UNIQUE, CHECK and
        FOREIGN KEY constraints, column-level or not. The schema is
        nullable: the constraints are checked at write time."""
        fields, cons = [], TableConstraints()
        for c in _seq(plan.columns()):
            col = c.name().lower()
            fields.append(StructField(c.name(), _parse_datatype_json_string(c.dataType().json())))
            if not c.nullable():
                cons.not_null.append(col)
            if c.defaultValue().isDefined():
                cons.defaults[col] = c.defaultValue().get().originalSQL()
            if c.generationExpression().isDefined():
                cons.computed[col] = c.generationExpression().get()
            if c.identityColumnSpec().isDefined():
                cons.identity.append(col)
        pk, uniques = [], {}
        for k in _seq(plan.tableSpec().constraints()):
            kind = k.getClass().getSimpleName()
            if kind == "PrimaryKeyConstraint":
                pk = _names(k.columns())
            elif kind == "UniqueConstraint":
                cols = _names(k.columns())
                uniques[(k.userProvidedName() or "_".join(cols)).lower()] = cols
            elif kind == "CheckConstraint":
                cons.checks.append(k.condition())
            elif kind == "ForeignKeyConstraint":
                cons.foreign_keys.append((
                    (k.userProvidedName() or "").lower(),
                    _names(k.childColumns()),
                    ".".join(_names(k.parentTableId())),
                    _names(k.parentColumns()),
                ))
            else:
                raise ValueError(f"unsupported constraint: {k.toString()}")
        return StructType(fields), pk, uniques, cons

    # java.lang.Math/StrictMath methods → the Spark builtin with matching
    # semantics (the reference's own test aliases are Math methods, e.g.
    # CreateFunctionAlias 'FOR "java.lang.Math.sqrt"'); calls rewrite to
    # the builtin name and stay inside whole-stage codegen
    _JAVA_BUILTINS = {
        "sqrt": "sqrt", "abs": "abs", "floor": "floor", "ceil": "ceil",
        "exp": "exp", "log": "ln", "log10": "log10", "sin": "sin",
        "cos": "cos", "tan": "tan", "asin": "asin", "acos": "acos",
        "atan": "atan", "atan2": "atan2", "pow": "power", "round": "round",
        "signum": "sign", "hypot": "hypot", "cbrt": "cbrt",
        "todegrees": "degrees", "toradians": "radians", "random": "rand",
        "max": "greatest", "min": "least",
    }

    def _create_alias(self, s: str, m: re.Match) -> DataFrame:
        """CREATE ALIAS (ddl/CreateFunctionAlias.java:25): the reference
        binds a Java method (``FOR "class.method"``) or compiles inline
        Java source (``AS '...'``). Spark-first mapping, in order:

        1. ``FOR "java.lang.Math.x"`` (and any method whose basename is a
           known builtin): pure rewrite to the Spark builtin — zero UDF
           cost, fully codegen'd.
        2. ``FOR "python.module.attr"``: import the callable, register it
           as a UDF (vectorized if it's annotated pd.Series → pd.Series).
        3. ``AS '<python source>'``: exec the source, register the first
           function it defines (the inline-source form, JavaMethod
           compilation in the reference).

        Result type for python UDFs comes from the callable's return
        annotation (default string, like H2's VARCHAR fallback).
        """
        name = m.group("name").upper()
        exists = (
            name in self.session.fn_alias_builtins
            or name in self.session.udfs.aliases
        )
        if exists:
            if m.group("ine"):
                return self._ok("exists")
            raise ValueError(f"function alias already exists: {name}")
        target, src = m.group("target"), m.group("src")
        if target:
            basename = target.rsplit(".", 1)[-1].lower()
            if (
                target.lower().startswith(("java.lang.math.", "java.lang.strictmath."))
                and basename in self._JAVA_BUILTINS
            ):
                self.session.fn_alias_builtins[name] = self._JAVA_BUILTINS[basename]
                self.session.fn_alias_ddl[name] = s
                return self._ok(f"created alias {name} -> {self._JAVA_BUILTINS[basename]}")
            fn = _import_dotted(target)
        else:
            text = src.strip()
            if text.startswith("$$"):
                code = text[2:-2]
            else:
                code = text[1:-1].replace("''", "'")
            ns: dict = {}
            # dont_inherit: this module's `from __future__ import
            # annotations` must not leak into the user source (it would
            # stringify the return annotation we type-map below)
            exec(compile(code, f"<alias {name}>", "exec", dont_inherit=True), ns)
            fns = [v for v in ns.values() if callable(v) and not isinstance(v, type)]
            if not fns:
                raise ValueError(f"alias source defines no function: {name}")
            fn = fns[0]
        ann = getattr(fn, "__annotations__", {}).get("return")
        rtype = {
            int: "bigint", float: "double", str: "string", bool: "boolean",
            bytes: "binary", "int": "bigint", "float": "double",
            "str": "string", "bool": "boolean", "bytes": "binary",
        }.get(ann, "string")
        import pandas as _pd

        vectorized = ann is _pd.Series or ann in ("pd.Series", "pandas.Series")
        if vectorized:
            rtype = "double"
        self.session.udfs.create_alias(name, fn, rtype, vectorized=vectorized)
        self.session.fn_alias_ddl[name] = s
        return self._ok(f"created alias {name}")

    def _alter(self, s: str) -> DataFrame:
        """ALTER TABLE ADD/DROP/RENAME/ALTER COLUMN, RENAME TO; ALTER
        SEQUENCE; ALTER VIEW — schema evolution as a snapshot projection
        (free at any scale vs. the reference's in-place row rewrite,
        AlterTableAlterColumn.java; ALTER COLUMN <type> is the one variant
        that must rewrite data, done as a distributed cast-projection)."""
        m = re.match(
            rf"ALTER\s+SEQUENCE\s+(?P<name>{_IDENT})\s+(?P<rest>.+)$",
            s,
            re.IGNORECASE,
        )
        if m:
            # AlterSequence.java: RESTART WITH / INCREMENT BY
            seq = self.session.sequences.get(m.group("name").lower())
            if seq is None:
                raise KeyError(f"sequence not found: {m.group('name').lower()}")
            rest = m.group("rest")
            rm = re.search(r"RESTART\s+WITH\s+(-?\d+)", rest, re.IGNORECASE)
            if rm:
                with seq._lock:
                    seq._next = int(rm.group(1))
            im = re.search(r"INCREMENT\s+BY\s+(-?\d+)", rest, re.IGNORECASE)
            if im:
                with seq._lock:
                    seq.increment = int(im.group(1))
            return self._ok(f"altered sequence {seq.name}")

        m = re.match(
            rf"ALTER\s+VIEW\s+(?P<name>{_IDENT})\s+(?:RECOMPILE|AS\s+"
            rf"(?P<query>.+))$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # AlterView.java: recompile (re-resolve) or redefine
            name = m.group("name").lower()
            if name not in self.catalog.views:
                raise KeyError(f"view not found: {name}")
            if m.group("query"):
                df, self.catalog.views[name] = self._query(m.group("query"))
            else:
                df = self.spark.sql(self.catalog.views[name])
            df.createOrReplaceTempView(name)
            return self._ok(f"altered view {name}")

        m = re.match(
            rf"ALTER\s+TABLE\s+(?P<name>{_IDENT})\s+"
            rf"ALTER\s+COLUMN\s+(?P<col>{_IDENT})\s+(?P<rest>.+)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            return self._alter_column(
                m.group("name").lower(), m.group("col").lower(), m.group("rest")
            )

        m = re.match(
            rf"ALTER\s+INDEX\s+(?P<name>{_IDENT})\s+RENAME\s+TO\s+"
            rf"(?P<new>{_IDENT})\s*$",
            s,
            re.IGNORECASE,
        )
        if m:
            # AlterIndexRename (Parser.java:4737)
            name, new = m.group("name").lower(), m.group("new").lower()
            if name not in self.catalog.indexes:
                raise KeyError(f"index not found: {name}")
            meta = self.catalog.indexes.pop(name)
            self.catalog.indexes[new] = IndexMeta(
                new, meta.table, meta.columns, unique=meta.unique
            )
            return self._ok(f"renamed index {name} to {new}")

        m = re.match(
            rf"ALTER\s+SCHEMA\s+(?P<name>{_IDENT})\s+RENAME\s+TO\s+"
            rf"(?P<new>{_IDENT})\s*$",
            s,
            re.IGNORECASE,
        )
        if m:
            # AlterSchemaRename (Parser.java:4699)
            name, new = m.group("name").lower(), m.group("new").lower()
            if name not in self.catalog.schemas:
                raise KeyError(f"schema not found: {name}")
            if name == "public":
                raise ValueError("cannot rename the public schema")
            self.catalog.schemas[new] = self.catalog.schemas.pop(name)
            return self._ok(f"renamed schema {name} to {new}")

        m = re.match(
            rf"ALTER\s+USER\s+(?P<name>{_IDENT})\s+"
            rf"(?P<op>SET\s+PASSWORD\s+.+|SET\s+SALT\s+.+|RENAME\s+TO\s+"
            rf"(?P<new>{_IDENT})|ADMIN\s+(?:TRUE|FALSE))\s*$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # AlterUser (Parser.java:4827): rename is real; password/
            # salt/admin are recorded-only like CREATE USER (no auth
            # plane on this engine — documented §2.11 shim)
            name = m.group("name").lower()
            if name not in self.catalog.principals:
                raise KeyError(f"user not found: {name}")
            if m.group("new"):
                self.catalog.principals.discard(name)
                self.catalog.principals.add(m.group("new").lower())
                return self._ok(f"renamed user {name}")
            return self._ok(f"altered user {name}")

        if re.match(r"ALTER\s+DATABASE\b", s, re.IGNORECASE):
            # AlterDatabase (Parser.java:4705) — engine/runmode knobs are
            # cluster-manager concerns here; accept and record
            self.session.set_setting("__ALTER_DATABASE", s)
            return self._ok("altered database (recorded)")

        m = re.match(
            rf"ALTER\s+TABLE\s+(?P<name>{_IDENT})\s+"
            rf"(?P<op>ADD(?:\s+COLUMN)?|DROP(?:\s+COLUMN)?|"
            rf"RENAME\s+COLUMN|RENAME\s+TO)\s+(?P<rest>.+)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"unsupported ALTER statement: {s[:80]}")
        name = m.group("name").lower()
        st = self.catalog.table(name)
        op = re.sub(r"\s+", " ", m.group("op").upper())
        rest = m.group("rest").strip()
        df = st.read()
        if op.startswith("ADD"):
            cm = re.match(
                rf"\(?\s*({_IDENT})\s+({_IDENT})(\s*\(\s*\d+(\s*,\s*\d+)?\s*\))?",
                rest,
                re.IGNORECASE,
            )
            spark_type = _spark_type(cm.group(2), (cm.group(3) or "").strip(), self.catalog.domains)
            st.write(df.withColumn(cm.group(1).lower(), F.lit(None).cast(spark_type)))
        elif op.startswith("DROP"):
            col = rest.split()[0].lower()
            st.write(df.drop(col))
        elif op == "RENAME COLUMN":
            cm = re.match(rf"({_IDENT})\s+TO\s+({_IDENT})", rest, re.IGNORECASE)
            return self._rename_column(name, cm.group(1).lower(), cm.group(2).lower())
        elif op == "RENAME TO":
            # logical rename only: catalog key changes, storage dir keeps
            # the original physical name (zero data movement); the
            # constraint metadata moves to the new key with it
            new = rest.split()[0].lower()
            cat = self.catalog
            cat.tables[new] = cat.tables.pop(name)
            if name in cat.constraints:
                cat.constraints[new] = cat.constraints.pop(name)
            if name in cat.table_ddl:
                cat.table_ddl[new] = re.sub(
                    rf"(\bTABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?){re.escape(name)}\b",
                    lambda mm: mm.group(1) + new,
                    cat.table_ddl.pop(name),
                    count=1,
                    flags=re.IGNORECASE,
                )
            for iname, meta in list(cat.indexes.items()):
                if meta.table == name:
                    del cat.indexes[iname]
                    if iname.startswith((f"__pk_{name}", f"__uq_{name}_")):
                        # a key declared in the table's DDL is named after it
                        iname = iname[:5] + new + iname[5 + len(name):]
                    cat.indexes[iname] = IndexMeta(
                        iname, new, meta.columns, unique=meta.unique
                    )
            self.spark.catalog.dropTempView(name)
            self.catalog.refresh_view(new)
            return self._ok(f"renamed {name} to {new}")
        self.catalog.refresh_view(name)
        return self._ok(f"altered {name}")

    def _alter_column(self, name: str, col: str, rest: str) -> DataFrame:
        """ALTER TABLE t ALTER COLUMN c ... (AlterTableAlterColumn.java):
        SET/DROP DEFAULT and NOT NULL are metadata flips; RENAME TO is a
        projection; a type change is the only data rewrite — a distributed
        cast-projection over the snapshot (map-only, no shuffle)."""
        st = self.catalog.table(name)
        cons = self.catalog.constraints.setdefault(name, TableConstraints())
        rest = rest.strip()

        m = re.match(r"SET\s+DEFAULT\s+(?P<expr>.+)$", rest, re.IGNORECASE | re.DOTALL)
        if m:
            cons.defaults[col] = m.group("expr").strip()
            return self._ok(f"altered {name}.{col} default")
        if re.match(r"DROP\s+DEFAULT\s*$", rest, re.IGNORECASE):
            cons.defaults.pop(col, None)
            return self._ok(f"altered {name}.{col} default")
        if re.match(r"SET\s+NOT\s+NULL\s*$", rest, re.IGNORECASE):
            if col not in cons.not_null:
                n_null = st.read().filter(F.col(col).isNull()).count()
                if n_null:
                    raise ValueError(
                        f"cannot SET NOT NULL: {n_null} NULL rows in {name}.{col}"
                    )
                cons.not_null.append(col)
            return self._ok(f"altered {name}.{col} not null")
        if re.match(r"(DROP\s+NOT\s+NULL|SET\s+NULL)\s*$", rest, re.IGNORECASE):
            if col in cons.not_null:
                cons.not_null.remove(col)
            return self._ok(f"altered {name}.{col} nullable")
        m = re.match(rf"RENAME\s+TO\s+(?P<new>{_IDENT})\s*$", rest, re.IGNORECASE)
        if m:
            return self._rename_column(name, col, m.group("new").lower())
        # type change: [SET DATA TYPE] <type>[(p[,s])]
        m = re.match(
            rf"(?:SET\s+DATA\s+TYPE\s+)?(?P<typ>{_IDENT})"
            rf"(?P<args>\s*\(\s*\d+(\s*,\s*\d+)?\s*\))?\s*$",
            rest,
            re.IGNORECASE,
        )
        if m:
            spark_type = _spark_type(
                m.group("typ"), (m.group("args") or "").strip(), self.catalog.domains
            )
            df = st.read()
            new_value = F.col(col).cast(spark_type)
            new_df = df.withColumn(col, new_value)
            # a narrowing cast can NULL a value or merge two keys
            self._validate_write(name, df, assigned={col: new_value}, after=new_df)
            st.write(new_df)
            self.catalog.refresh_view(name)
            return self._ok(f"altered {name}.{col} type to {spark_type}")
        raise ValueError(f"unsupported ALTER COLUMN: {rest[:80]}")

    def _rename_column(self, name: str, old: str, new: str) -> DataFrame:
        """Both column-rename forms: a projection, plus every constraint
        entry naming the column — NOT NULL, identity, DEFAULT and computed
        entries, unique-index column lists, and identifiers in CHECK and
        computed expressions (outside string literals). A write checks
        only the constraints it can break, by column name, so a stale
        name would silently skip the renamed column's checks."""
        st = self.catalog.table(name)
        st.write(st.read().withColumnRenamed(old, new))
        ident = rf"\b{re.escape(old)}\b(?!\s*\()"

        def renamed(sql: str) -> str:
            return _sub_outside_literals(ident, lambda _m: new, sql, re.IGNORECASE)

        cons = self.catalog.constraints.get(name)
        if cons:
            for cols in (cons.not_null, cons.identity):
                cols[:] = [new if c == old else c for c in cols]
            for exprs in (cons.defaults, cons.computed):
                if old in exprs:
                    exprs[new] = exprs.pop(old)
            cons.computed.update({c: renamed(e) for c, e in cons.computed.items()})
            cons.checks[:] = [renamed(e) for e in cons.checks]
        for iname, meta in list(self.catalog.indexes.items()):
            if meta.table == name and old in meta.columns:
                cols = [new if c == old else c for c in meta.columns]
                self.catalog.indexes[iname] = IndexMeta(
                    iname, name, cols, unique=meta.unique
                )
        self.catalog.refresh_view(name)
        return self._ok(f"renamed {name}.{old} to {new}")

    def _runscript(self, s: str) -> DataFrame:
        """RUNSCRIPT FROM 'file' (RunScript.java): execute statements
        sequentially; ';' splits outside string literals."""
        m = re.match(r"RUNSCRIPT\s+FROM\s+'(?P<path>[^']+)'", s, re.IGNORECASE)
        if not m:
            raise ValueError(f"cannot parse RUNSCRIPT: {s[:80]}")
        with open(m.group("path")) as f:
            text = f.read()
        stmts, cur, in_str = [], [], False
        for ch in text:
            if ch == "'":
                in_str = not in_str
            if ch == ";" and not in_str:
                stmts.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        if "".join(cur).strip():
            stmts.append("".join(cur))
        n = 0
        for stmt in stmts:
            stmt = stmt.strip()
            if stmt and not stmt.startswith("--"):
                self.execute(stmt)
                n += 1
        return self._ok(f"ran {n} statements")

    def _prepare(self, s: str) -> DataFrame:
        m = re.match(
            rf"PREPARE\s+(?P<name>{_IDENT})\s+AS\s+(?P<body>.+)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"cannot parse PREPARE: {s[:80]}")
        self.session.prepare(m.group("name"), m.group("body"))
        return self._ok(f"prepared {m.group('name').lower()}")

    def _execute_prepared(self, s: str) -> DataFrame:
        m = re.match(
            rf"EXECUTE\s+SERVICE\s+(?P<svc>{_IDENT})\s+(?P<method>\w+)"
            rf"\s*\((?P<args>.*)\)\s*$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # EXECUTE SERVICE svc method(args) → driver-side dispatch to
            # the registered IMPLEMENT BY Python class (services.py)
            name = m.group("svc").lower()
            if name not in self.catalog.services:
                raise KeyError(f"service not found: {name}")
            args = [
                self._coerce(a.strip().strip("'"))
                for a in _split_top_level(m.group("args"))
                if a.strip()
            ]
            result = self.session.call_service(name, m.group("method"), *args)
            return self.spark.createDataFrame(
                [(None if result is None else str(result),)], "result string"
            )
        m = re.match(rf"EXECUTE\s+(?P<name>{_IDENT})\s*$", s, re.IGNORECASE)
        if not m:
            raise ValueError(f"cannot parse EXECUTE: {s[:80]}")
        return self.execute(self.session.prepared[m.group("name").lower()])

    def _deallocate(self, s: str) -> DataFrame:
        m = re.match(
            rf"DEALLOCATE\s+(?:PLAN\s+)?(?P<name>{_IDENT})\s*$", s, re.IGNORECASE
        )
        self.session.prepared.pop(m.group("name").lower(), None)
        return self._ok("deallocated")

    def _grant_revoke(self, s: str) -> DataFrame:
        """GRANT/REVOKE (GrantRevoke.java): no enforcement (no auth layer),
        but grants are recorded so INFORMATION_SCHEMA RIGHTS /
        TABLE_PRIVILEGES enumerate them like the reference does."""
        m = re.match(
            rf"(?P<op>GRANT|REVOKE)\s+(?P<rights>[A-Z_,\s]+?)\s+ON\s+"
            rf"(?P<obj>{_IDENT})\s+(?:TO|FROM)\s+(?P<who>{_IDENT})\s*$",
            s,
            re.IGNORECASE,
        )
        if m:
            rights = re.sub(r"\s+", " ", m.group("rights").strip().upper())
            entry = (m.group("who").lower(), rights, m.group("obj").lower())
            if m.group("op").upper() == "GRANT":
                if entry not in self.catalog.grants:
                    self.catalog.grants.append(entry)
            else:
                self.catalog.grants = [
                    g for g in self.catalog.grants if g != entry
                ]
            return self._ok("ok (recorded: no auth enforcement)")
        # role grants: GRANT role TO user
        m = re.match(
            rf"(?P<op>GRANT|REVOKE)\s+(?P<role>{_IDENT})\s+(?:TO|FROM)\s+"
            rf"(?P<who>{_IDENT})\s*$",
            s,
            re.IGNORECASE,
        )
        if m:
            entry = (m.group("who").lower(), "ROLE", m.group("role").lower())
            if m.group("op").upper() == "GRANT":
                if entry not in self.catalog.grants:
                    self.catalog.grants.append(entry)
            else:
                self.catalog.grants = [
                    g for g in self.catalog.grants if g != entry
                ]
            return self._ok("ok (recorded: no auth enforcement)")
        return self._ok("ok (no-op: no auth layer)")

    def _comment(self, s: str) -> DataFrame:
        """COMMENT ON <kind> <name> IS 'text' — recorded; surfaces as the
        REMARKS column of the matching INFORMATION_SCHEMA view."""
        m = re.match(
            rf"COMMENT\s+ON\s+(?P<kind>\w+)\s+(?P<name>{_IDENT}(?:\.{_IDENT})?)"
            rf"\s+IS\s+(?:'(?P<text>[^']*)'|(?P<null>NULL))\s*$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            key = m.group("name").lower()
            if m.group("null") is not None:
                self.catalog.comments.pop(key, None)
            else:
                self.catalog.comments[key] = m.group("text")
        return self._ok("ok (comment recorded)")

    def _drop(self, s: str) -> DataFrame:
        if re.match(r"DROP\s+ALL\s+OBJECTS\s*$", s, re.IGNORECASE):
            # DropDatabase.java (DROP ALL OBJECTS): clear every schema
            # object; the dumped SCRIPT of the reference starts with this
            for name in list(self.catalog.tables):
                self.catalog.tables.pop(name).drop()
                self.spark.catalog.dropTempView(name)
            for vname in list(self.catalog.views):
                self.spark.catalog.dropTempView(vname)
            self.catalog.table_ddl.clear()
            self.catalog.views.clear()
            self.catalog.indexes.clear()
            self.catalog.domains.clear()
            self.catalog.constraints.clear()
            self.catalog.constants.clear()
            self.catalog.triggers.clear()
            self.catalog.grants.clear()
            self.catalog.comments.clear()
            self.catalog.schemas = {"public": "sa"}
            self.session.sequences.clear()
            return self._ok("dropped all objects")
        m = re.match(
            rf"DROP\s+(?P<kind>MATERIALIZED\s+VIEW|TABLE|VIEW|INDEX|SEQUENCE|"
            rf"TRIGGER|SCHEMA|CONSTANT|ROLE|USER|DOMAIN|ALIAS|AGGREGATE|SERVICE)\s+"
            rf"(?:IF\s+EXISTS\s+)?(?P<name>{_IDENT})\s*(?P<mode>CASCADE|RESTRICT)?\s*$",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"unsupported DROP statement: {s[:80]}")
        kind = re.sub(r"\s+", " ", m.group("kind").upper())
        name = m.group("name").lower()
        if_exists = re.search(r"IF\s+EXISTS", s, re.IGNORECASE)
        if kind == "MATERIALIZED VIEW":
            if name not in self.catalog.mat_views:
                if if_exists:
                    return self._ok("absent")
                raise KeyError(f"materialized view not found: {name}")
            self.catalog.mat_views.pop(name)
            self.catalog.tables.pop(name).drop()
            self.catalog.table_ddl.pop(name, None)
            self.spark.catalog.dropTempView(name)
            return self._ok(f"dropped materialized view {name}")
        if kind == "TABLE":
            if name not in self.catalog.tables:
                if if_exists:
                    return self._ok("absent")
                raise KeyError(f"table not found: {name}")
            # Shallow clones hold symlinks into this table's physical
            # files; a hard delete would silently corrupt them (VACUUM
            # already protects via _links_into — DROP is the other
            # hard-delete path). RESTRICT by default; CASCADE drops the
            # dependent clones first (recursively, clone-of-clone safe).
            deps = self._links_into(name)
            if deps:
                if (m.group("mode") or "").upper() != "CASCADE":
                    raise ValueError(
                        f"cannot drop table {name}: shallow clone(s) "
                        f"{sorted(deps)} link into its files; drop them "
                        f"first or use DROP TABLE {name} CASCADE"
                    )
                for dep in sorted(deps):
                    self._drop(f"DROP TABLE IF EXISTS {dep} CASCADE")
            self.catalog.tables.pop(name).drop()
            self.catalog.table_ddl.pop(name, None)
            self.catalog.constraints.pop(name, None)
            for iname, meta in list(self.catalog.indexes.items()):
                if meta.table == name:
                    del self.catalog.indexes[iname]
            self.spark.catalog.dropTempView(name)
        elif kind == "VIEW":
            if self.catalog.views.pop(name, None) is None and not if_exists:
                raise KeyError(f"view not found: {name}")
            self.spark.catalog.dropTempView(name)
        elif kind == "INDEX":
            if self.catalog.indexes.pop(name, None) is None and not if_exists:
                raise KeyError(f"index not found: {name}")
        elif kind == "SEQUENCE":
            if self.session.sequences.pop(name, None) is None and not if_exists:
                raise KeyError(f"sequence not found: {name}")
        elif kind == "TRIGGER":
            self.catalog.triggers.pop(name, None)
        elif kind == "SCHEMA":
            if name == "public":
                raise ValueError("cannot drop the public schema")
            if self.catalog.schemas.pop(name, None) is None and not if_exists:
                raise KeyError(f"schema not found: {name}")
        elif kind == "CONSTANT":
            if self.catalog.constants.pop(name, None) is None and not if_exists:
                raise KeyError(f"constant not found: {name}")
        elif kind == "SERVICE":
            if self.catalog.services.pop(name, None) is None and not if_exists:
                raise KeyError(f"service not found: {name}")
        elif kind == "ROLE":
            if name in self.catalog.roles:
                self.catalog.roles.discard(name)
            elif not if_exists:
                raise KeyError(f"role not found: {name}")
        elif kind == "USER":
            if name in self.catalog.principals:
                self.catalog.principals.discard(name)
            elif not if_exists:
                raise KeyError(f"user not found: {name}")
        elif kind == "DOMAIN":
            if self.catalog.domains.pop(name, None) is None and not if_exists:
                raise KeyError(f"domain not found: {name}")
        elif kind == "ALIAS":
            # DropFunctionAlias.java; a python-registered UDF stays in the
            # Spark function registry but is removed from the engine
            # catalog (no longer scripted, builtin rewrites stop)
            uname = name.upper()
            had = (
                self.session.fn_alias_builtins.pop(uname, None) is not None
                or uname in self.session.udfs.aliases
            )
            self.session.udfs.drop_alias(uname)
            self.session.fn_alias_ddl.pop(uname, None)
            if not had and not if_exists:
                raise KeyError(f"alias not found: {name}")
        elif kind == "AGGREGATE":
            uname = name.upper()
            if uname not in self.session.udfs.aggregates and not if_exists:
                raise KeyError(f"aggregate not found: {name}")
            self.session.udfs.drop_aggregate(uname)
            self.session.fn_alias_ddl.pop(uname, None)
        return self._ok(f"dropped {kind.lower()} {name}")

    # -- DML -------------------------------------------------------------
    def _frame(self, plan) -> DataFrame:
        """The DataFrame of a parsed plan: analyzed, never parsed again."""
        return DataFrame(self._dataset.ofRows(self.spark._jsparkSession, plan), self.spark)

    def _insert(self, ins, text: str, extra: dict) -> DataFrame:
        """INSERT, and ``MERGE … KEY`` parsed as one (``extra["keys"]``):
        the query's rows named by the column list, then aligned to the
        target schema."""
        if any((ins.overwrite(), ins.partitionSpec().nonEmpty(), ins.byName(),
                ins.ifPartitionNotExists())):
            raise ValueError(
                f"INSERT OVERWRITE/PARTITION/BY NAME/IF NOT EXISTS not supported: {text[:80]}"
            )
        name = _target(ins.table())[0]
        st = self.catalog.table(name)
        target_schema = dict(st.read().dtypes)
        target_cols = list(target_schema)
        cols = [c.lower() for c in _seq(ins.userSpecifiedCols())] or target_cols
        unknown = [c for c in cols if c not in target_schema]
        if unknown:
            raise ValueError(f"table {name} has no column(s) {', '.join(unknown)}")
        query = ins.query()
        src = self._frame(query)
        if extra.get("default"):
            # every column from its DEFAULT/IDENTITY (the alignment step
            # below fills all of them — the source carries no columns)
            src, cols = src.select(), []
        elif len(src.columns) != len(cols):
            raise ValueError(
                f"{name}: {len(cols)} column(s) but {len(src.columns)} value(s) per row"
            )
        src = src.toDF(*cols)
        if "keys" in extra:
            # a column the statement leaves out keeps its target value
            rows = src.select(*[F.col(c).cast(target_schema[c]).alias(c) for c in cols])
            merged = merge_by_key(st.read(), rows, extra["keys"])
            self._validate_write(name, merged)
            st.write(merged)
            self.catalog.refresh_view(name)
            return self._ok(f"merged into {name}")
        # align to target schema: missing columns → DEFAULT expr (falling
        # back to NULL), computed columns recomputed, order normalized
        cons = self.catalog.constraints.get(name, TableConstraints())
        src_cols = set(src.columns)

        def source_col(c: str):
            if c in cons.computed:
                return F.expr(cons.computed[c])
            if c in src_cols:
                return F.col(c)
            if c in cons.identity:
                # IDENTITY auto-fill (Column.java:78): a driver-reserved
                # block offset + per-row monotonic id — unique without any
                # executor coordination; gaps allowed (same as reference)
                seq = self.session.sequences.get(f"__identity_{name}")
                if seq is None:
                    seq = self.session.create_sequence(f"__identity_{name}", start=1)
                offset, _ = seq.next_block(1 << 40)
                return F.lit(offset) + F.monotonically_increasing_id()
            if c in cons.defaults:
                return F.expr(cons.defaults[c])
            return F.lit(None)

        aligned = src.select(
            *[source_col(c).cast(target_schema[c]).alias(c) for c in target_cols]
        )
        # VALUES / SET / DEFAULT VALUES carry their rows in the statement
        # text: the plan folds to a LocalRelation, so the rows are on the
        # driver and reading them back runs no Spark job
        local = query.getClass().getSimpleName() in _VALUES_PLANS
        self._validate_write(name, aligned, insert=True, local=local)
        st.insert(aligned)
        self.catalog.refresh_view(name)
        return self._ok(f"inserted into {name}")

    def _validate_write(
        self,
        name: str,
        rows: DataFrame,
        *,
        where: Optional[Column] = None,
        assigned: Optional[Mapping[str, Column]] = None,
        after: Optional[DataFrame] = None,
        insert: bool = False,
        local: bool = False,
    ) -> None:
        """Write-time constraint enforcement (Column.java:71-78 CHECK /
        NOT NULL; GlobalUniqueIndex.java:33 uniqueness).

        The committed snapshot already satisfies every constraint: each
        write path validates, and CREATE UNIQUE INDEX / SET NOT NULL
        validate the rows a table has. So a statement only checks what it
        can break:

        - INSERT (``insert=True``, ``rows`` = the incoming rows): NOT
          NULL/CHECK over the incoming rows; per unique column set,
          duplicates among the incoming keys and existing rows whose key
          is among them — never an aggregate over the whole table. With
          ``local`` (VALUES / SET / DEFAULT VALUES) the keys are read back
          from the folded LocalRelation without a job and the snapshot is
          probed by one pushed-down ``IN`` filter: 1 job per unique set.
          INSERT … SELECT runs one semi-join probe per unique set: the
          probe's broadcast and shuffle stages, then an ``isEmpty``.
        - UPDATE (``rows`` = the table before, ``where`` = the rows it
          selects, ``assigned`` = column -> new value, ``after`` = the
          table after): NOT NULL only on assigned columns and the CHECKs
          (row-local) only on the selected rows' new images, one
          ``isEmpty`` probe if either applies; a unique set sharing a
          column with ``assigned`` is group-by checked over ``after`` (2
          jobs), any other is skipped. A non-key UPDATE of a table
          without CHECKs runs no job here and builds no plan.
        - MERGE (``rows`` = the table after): every constraint, one probe
          and 2 jobs per unique set. A column type change is an UPDATE
          of that column without ``where``.

        A NOT NULL/CHECK probe is an ``isEmpty``; ``count`` runs only to
        word the error. A write with no constraints runs no job."""
        cons = self.catalog.constraints.get(name)
        if cons:
            conds = [
                F.col(c).isNull()
                for c in cons.not_null
                if c in rows.columns and (assigned is None or c in assigned)
            ]
            conds += [
                ~F.coalesce(F.expr(e), F.lit(False)) for e in cons.checks
            ]
            if conds:
                viol = None
                for c in conds:
                    viol = c if viol is None else (viol | c)
                written = rows if where is None else rows.filter(where)
                if assigned is not None:
                    written = written.select(
                        *[assigned.get(c, F.col(c)).alias(c) for c in rows.columns]
                    )
                bad = written.filter(viol)
                if not bad.isEmpty():
                    raise ValueError(
                        f"constraint violation on {name}: {bad.count()} row(s) "
                        f"fail NOT NULL/CHECK"
                    )
        for meta in self.catalog.indexes.values():
            cols = meta.columns
            if not meta.unique or meta.table != name:
                continue
            if not all(c in rows.columns for c in cols):
                continue
            if assigned is not None and not set(cols) & set(assigned):
                continue
            if not insert:
                self._check_unique(name, rows if after is None else after, cols)
            elif local and all(_driver_keyable(rows.schema[c].dataType) for c in cols):
                self._probe_local_keys(name, rows, cols)
            else:
                self._probe_incoming_keys(name, rows, cols)

    @staticmethod
    def _unique_violation(name: str, cols: Sequence[str]) -> ValueError:
        return ValueError(f"unique constraint violation on {name}({', '.join(cols)})")

    @staticmethod
    def _no_nulls(cols: Sequence[str]):
        # H2/Lealone unique indexes allow any number of NULLs (NULL !=
        # NULL for uniqueness): a key with a NULL in it never collides
        cond = F.col(cols[0]).isNotNull()
        for c in cols[1:]:
            cond &= F.col(c).isNotNull()
        return cond

    def _check_unique(self, name: str, df: DataFrame, cols: Sequence[str]) -> None:
        """Group-by duplicate check over a whole table state: the
        aggregate's shuffle stage, then an ``isEmpty`` that stops at the
        first duplicate."""
        no_dup = (
            df.filter(self._no_nulls(cols))
            .groupBy(*cols)
            .count()
            .filter(F.col("count") > 1)
            .isEmpty()
        )
        if not no_dup:
            raise self._unique_violation(name, cols)

    def _probe_local_keys(
        self, name: str, rows: DataFrame, cols: Sequence[str]
    ) -> None:
        """INSERT of driver-side rows: the incoming keys are compared on
        the driver, then the snapshot is scanned once with a pushed-down
        ``IN`` filter per key column. Existing keys are unique, so the
        rows it returns are at most the incoming rows."""
        keys = [
            tuple(r) for r in rows.filter(self._no_nulls(cols)).select(*cols).collect()
        ]
        if not keys:
            return
        if len(set(keys)) < len(keys):
            raise self._unique_violation(name, cols)
        st = self.catalog.tables[name]
        if not st.exists():
            return
        # one SQL string, not a Column per literal: a py4j call each
        types = [rows.schema[c].dataType for c in cols]
        lits = [[_key_literal(v, t) for v, t in zip(k, types)] for k in keys]
        conds = [
            f"`{c}` IN ({', '.join(dict.fromkeys(row[i] for row in lits))})"
            for i, c in enumerate(cols)
        ]
        if len(cols) > 1:
            # the per-column lists push down; the tuple list makes it exact
            def tup(vals):
                return "named_struct(" + ", ".join(
                    f"'{c}', {v}" for c, v in zip(cols, vals)
                ) + ")"

            keyed = tup(f"`{c}`" for c in cols)
            conds.append(f"{keyed} IN ({', '.join(tup(row) for row in lits)})")
        if st.read().where(" AND ".join(conds)).select(*cols).collect():
            raise self._unique_violation(name, cols)

    def _probe_incoming_keys(
        self, name: str, rows: DataFrame, cols: Sequence[str]
    ) -> None:
        """INSERT … SELECT: incoming keys plus the existing keys that are
        among them (a semi-join whose build side is the incoming keys),
        grouped — any key seen twice is a duplicate. A version without a
        data file has no keys to probe."""
        keys = rows.filter(self._no_nulls(cols)).select(*cols)
        st = self.catalog.tables[name]
        if st.exists() and st.data_files():
            hits = st.read().select(*cols).join(keys, list(cols), "left_semi")
            keys = keys.unionByName(hits)
        self._check_unique(name, keys, cols)

    def _update(self, plan, text: str, extra: dict) -> DataFrame:
        name, alias = _target(plan.table())
        st = self.catalog.table(name)
        # SET and WHERE are read over the aliased table, so a qualified or
        # correlated reference resolves
        df = st.read().alias(alias)
        assignments = {
            _column(a.key(), name, alias, df.columns): F.expr(_span(a.value(), text))
            for a in _seq(plan.assignments())
        }
        where = plan.condition()
        cond = F.expr(_span(where.get(), text)) if where.isDefined() else F.lit(True)
        if "limit" in extra:
            from .operators.dml import apply_update_limit

            pk = self._pk_of(name)
            new_df = apply_update_limit(df, cond, assignments, extra["limit"], pk)
            # LIMIT picks among the matching rows: check every row after
            self._validate_write(
                name, new_df, assigned={c: F.col(c) for c in assignments}, after=new_df
            )
        else:
            from .operators.dml import apply_update

            new_df = apply_update(df, cond, assignments)
            self._validate_write(
                name, df, where=cond.isNotNull() & cond, assigned=assignments,
                after=new_df,
            )
        st.write(new_df)
        self.catalog.refresh_view(name)
        return self._ok(f"updated {name}")

    def _delete(self, plan, text: str, extra: dict) -> DataFrame:
        from .operators.dml import apply_delete, apply_delete_limit

        name, alias = _target(plan.table())
        st = self.catalog.table(name)
        df = st.read().alias(alias)
        where = plan.condition()  # without WHERE, the literal true
        cond = F.lit(True) if where.toString() == "true" else F.expr(_span(where, text))
        if "limit" in extra:
            st.write(apply_delete_limit(df, cond, extra["limit"], self._pk_of(name)))
        else:
            st.write(apply_delete(df, cond))
        self.catalog.refresh_view(name)
        return self._ok(f"deleted from {name}")

    def _merge(self, plan, text: str, extra: dict) -> DataFrame:
        """ANSI MERGE extension (beyond the reference's KEY form):

        ``MERGE INTO t [[AS] ta] USING <table | (query)> [[AS] sa]
        ON <cond> [WHEN MATCHED [AND guard] THEN {UPDATE SET ... | DELETE}]
        [WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs)]``

        Either WHEN clause may be omitted (insert-only MERGE is ANSI-legal).
        Execution delegates to :func:`operators.dml.merge_ansi` — ONE
        full-outer join with all branches (including the ANSI
        duplicate-match guard) derived from its presence flags. A second
        WHEN MATCHED, a NOT MATCHED guard, NOT MATCHED BY SOURCE, ``SET *``
        and ``INSERT *`` raise.
        """
        from .operators.dml import ANSI_MERGE_DUP_MSG, merge_ansi

        name, ta = _target(plan.targetTable())
        source = plan.sourceTable()
        sa = (
            source.alias().lower()
            if source.getClass().getSimpleName() == "SubqueryAlias"
            else _target(source)[1]
        )
        matched, inserted = _seq(plan.matchedActions()), _seq(plan.notMatchedActions())
        kinds = {a.getClass().getSimpleName() for a in matched + inserted}
        if (
            len(matched) > 1
            or len(inserted) > 1
            or plan.notMatchedBySourceActions().nonEmpty()
            or not kinds <= {"UpdateAction", "DeleteAction", "InsertAction"}
            or any(a.condition().isDefined() for a in inserted)
        ):
            raise ValueError(f"unsupported MERGE form: {text[:120]}")
        st = self.catalog.table(name)
        target = st.read()
        qualified = re.compile(rf"(?i)\b({re.escape(sa)}|{re.escape(ta)})\s*\.\s*(\w+)")

        def expr(e) -> Column:
            # alias-qualified refs into the kernel's joined namespace:
            # sa.x -> __s_x, ta.x -> x; literals stay as written
            return F.expr(_sub_outside_literals(
                qualified,
                lambda m: ("__s_" if m.group(1).lower() == sa else "") + m.group(2),
                _span(e, text),
            ))

        def assigned(action) -> dict:
            return {
                _column(a.key(), name, ta, target.columns): expr(a.value())
                for a in _seq(action.assignments())
            }

        guard = matched[0].condition() if matched else None
        merged = merge_ansi(
            target,
            self._frame(source),
            expr(plan.mergeCondition()),
            update_set=assigned(matched[0]) if "UpdateAction" in kinds else None,
            delete_matched="DeleteAction" in kinds,
            matched_guard=expr(guard.get()) if guard is not None and guard.isDefined() else None,
            insert_values=assigned(inserted[0]) if inserted else None,
        )
        try:
            self._validate_write(name, merged)
            st.write(merged)
        except Exception as e:  # surface the runtime dup-guard as ValueError
            if ANSI_MERGE_DUP_MSG in str(e):
                raise ValueError(ANSI_MERGE_DUP_MSG) from e
            raise
        self.catalog.refresh_view(name)
        return self._ok(f"merged into {name}")

    def _truncate(self, s: str) -> DataFrame:
        m = re.match(rf"TRUNCATE\s+TABLE\s+(?P<name>{_IDENT})\s*$", s, re.IGNORECASE)
        if not m:
            raise ValueError(f"cannot parse TRUNCATE: {s[:80]}")
        name = m.group("name").lower()
        self.catalog.table(name).truncate()
        self.catalog.refresh_view(name)
        return self._ok(f"truncated {name}")

    # -- utility ---------------------------------------------------------
    def _explain(self, s: str) -> DataFrame:
        body = s.split(None, 1)[1]
        if body.upper().startswith("ANALYZE"):
            body = body.split(None, 1)[1]
        plan = self._query(body)[0]._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        return self.spark.createDataFrame(
            [(line,) for line in plan.splitlines()], "plan string"
        )

    def _set(self, s: str) -> DataFrame:
        m = re.match(
            rf"SET\s+COLLATION\s+(?P<name>{_IDENT})"
            rf"(?:\s+STRENGTH\s+(?P<strength>\w+))?\s*$",
            s,
            re.IGNORECASE,
        )
        if m:
            # reference parity (dml/Set.java:85-90): the database-level
            # compare mode cannot change once a user table exists —
            # ErrorCode.COLLATION_CHANGE_WITH_DATA_TABLE_1
            if self.catalog.tables:
                first = next(iter(self.catalog.tables))
                raise ValueError(
                    f"collation cannot be changed: data table exists ({first})"
                )
            spark_collation = collation_to_spark(m.group("name"), m.group("strength"))
            if spark_collation is not None:
                # validate eagerly so a bad locale fails at SET time like
                # the reference does (DbException INVALID_VALUE)
                try:
                    self.spark.sql(
                        f"SELECT 'x' COLLATE {spark_collation}"
                    ).collect()
                except Exception as exc:
                    raise ValueError(
                        f"unknown collation: {m.group('name')}"
                    ) from exc
            self.session.collation = spark_collation
            self.session.set_setting("COLLATION", m.group("name").upper())
            return self._ok(f"set collation {spark_collation or 'UTF8_BINARY'}")
        m = re.match(rf"SET\s+(?P<name>@?{_IDENT})\s*=?\s*(?P<val>.+)$", s, re.IGNORECASE)
        if not m:
            raise ValueError(f"cannot parse SET: {s[:80]}")
        name, val = m.group("name"), m.group("val").strip().strip("'")
        if name.startswith("@"):
            self.session.set_variable(name, self._coerce(val))
        else:
            self.session.set_setting(name, self._coerce(val))
        return self._ok(f"set {name}")

    def _call(self, s: str) -> DataFrame:
        expr = s.split(None, 1)[1]
        m = re.match(
            r"EXECUTE_SERVICE_(?P<kind>NO_RETURN_VALUE|WITH_RETURN_VALUE)"
            r"\s*\(\s*'(?P<target>[^']+)'\s*,\s*'(?P<json>[^']*)'\s*\)\s*$",
            expr.strip(),
            re.IGNORECASE,
        )
        if m:
            # The reference's SQL-level service entry points
            # (Function.java:379-380,951-965): target is
            # 'service_name.method_name', second arg a JSON array of
            # arguments. Dispatched driver-side like EXECUTE SERVICE.
            import json as _json

            target = m.group("target")
            svc, _, method = target.rpartition(".")
            if not svc:
                raise ValueError(
                    f"service target must be 'service.method': {target!r}"
                )
            raw = m.group("json")
            args = _json.loads(raw) if raw else []
            if not isinstance(args, list):
                args = [args]
            result = self.session.call_service(svc, method, *args)
            if m.group("kind").upper() == "NO_RETURN_VALUE":
                result = None
            return self.spark.createDataFrame(
                [(None if result is None else str(result),)], "result string"
            )
        return self._query(f"SELECT {expr} AS result")[0]

    def _script(self, s: str) -> DataFrame:
        """SCRIPT [NODATA] [TO 'file'] — dump the catalog (and data) as a
        replayable SQL script (reference: sql/ddl/Script.java, 723 LoC:
        settings, users/roles, schemas, sequences, constants, domains,
        tables + rows, indexes, triggers, grants, comments). RUNSCRIPT of
        the emitted script on a fresh session reproduces catalog + data
        (pinned by tests/test_ddl_extended.py round-trip)."""
        nodata = bool(re.search(r"\bNODATA\b", s, re.IGNORECASE))
        to_m = re.search(r"\bTO\s+'(?P<path>[^']+)'", s, re.IGNORECASE)
        cat = self.catalog
        ddl: list[str] = []
        for n in sorted(cat.schemas):
            if n != "public":
                ddl.append(
                    f"CREATE SCHEMA IF NOT EXISTS {n} "
                    f"AUTHORIZATION {cat.schemas[n]}"
                )
        for n in sorted(cat.principals):
            ddl.append(f"CREATE USER IF NOT EXISTS {n}")
        for n in sorted(cat.roles):
            if n != "public":
                ddl.append(f"CREATE ROLE {n}")
        for n, t in sorted(cat.domains.items()):
            ddl.append(f"CREATE DOMAIN {n} AS {t}")
        for seq in self.session.sequences.values():
            current = seq._next if seq._next is not None else seq.start
            ddl.append(
                f"CREATE SEQUENCE {seq.name} START WITH {current} "
                f"INCREMENT BY {seq.increment} CACHE {seq.cache}"
            )
        for n, expr in sorted(cat.constants.items()):
            ddl.append(f"CREATE CONSTANT {n} VALUE {expr}")
        for n, stmt in sorted(self.session.fn_alias_ddl.items()):
            ddl.append(stmt)
        for n, svc in sorted(cat.services.items()):
            ddl.append(svc.ddl)
        # data dump: stream rows partition-at-a-time (toLocalIterator) —
        # a SCRIPT of a lake-scale table must not materialize the whole
        # table on the driver (reference Script.java streams its result
        # set too). Marked so the file path below can also stream to disk
        # instead of accumulating INSERT strings in memory.
        data_marks: list[tuple[int, str]] = []  # (ddl index, table name)
        for name in cat.tables:
            ddl.append(cat.table_ddl.get(name, f"-- external table {name}"))
            if not nodata:
                data_marks.append((len(ddl), name))

        def _insert_rows(table: str):
            df = cat.tables[table].read()
            cols = ", ".join(df.columns)
            for row in df.toLocalIterator():
                vals = ", ".join(_sql_literal(v) for v in row)
                yield f"INSERT INTO {table} ({cols}) VALUES ({vals})"
        for m in cat.indexes.values():
            if not m.name.startswith(("__pk_", "__uq_")):  # the table DDL has them
                uq = "UNIQUE " if m.unique else ""
                ddl.append(
                    f"CREATE {uq}INDEX {m.name} ON {m.table} "
                    f"({', '.join(m.columns)})"
                )
        for v, q in cat.views.items():
            ddl.append(f"CREATE VIEW {v} AS {q}")
        for n, t in sorted(cat.triggers.items()):
            ddl.append(t)
        for who, r, obj in cat.grants:
            if r == "ROLE":
                ddl.append(f"GRANT {obj} TO {who}")
            else:
                ddl.append(f"GRANT {r} ON {obj} TO {who}")
        for obj, text in sorted(cat.comments.items()):
            kind = "TABLE" if obj in cat.tables else "COLUMN" if "." in obj else "TABLE"
            esc = text.replace("'", "''")
            ddl.append(f"COMMENT ON {kind} {obj} IS '{esc}'")
        if not ddl and not data_marks:
            ddl = ["-- empty catalog"]

        def _statements():
            """All script statements in replay order, INSERTs streamed."""
            marks = dict()
            for pos, tbl in data_marks:
                marks.setdefault(pos, []).append(tbl)
            for i, d in enumerate(ddl):
                yield d
                for tbl in marks.get(i + 1, ()):
                    yield from _insert_rows(tbl)

        if to_m:
            # stream to the file — constant driver memory at any table size
            with open(to_m.group("path"), "w") as f:
                for stmt in _statements():
                    f.write(stmt + ";\n")
            return self._ok(f"script written: {to_m.group('path')}")
        # in-memory result: the driver must hold the rows anyway (the
        # caller collects them); cap so SCRIPT-without-TO of a lake-scale
        # table fails loudly instead of OOMing the driver
        out, cap = [], 1_000_000
        for stmt in _statements():
            out.append(stmt)
            if len(out) > cap:
                raise RuntimeError(
                    "SCRIPT result exceeds 1e6 statements; use "
                    "SCRIPT TO 'file' (streamed) for large catalogs"
                )
        return self.spark.createDataFrame([(d,) for d in out], "script string")

    def _backup(self, s: str) -> DataFrame:
        """BACKUP TO 'file.zip' (reference: sql/dml/Backup.java — online
        zip of the database file). Here: zip of the warehouse directory
        (every table's snapshot tree), restorable by unzipping into a new
        session's warehouse path."""
        m = re.match(r"BACKUP\s+TO\s+'(?P<path>[^']+)'\s*$", s, re.IGNORECASE)
        if not m:
            raise ValueError(f"cannot parse BACKUP: {s[:80]}")
        import shutil

        path = m.group("path")
        base = path[:-4] if path.lower().endswith(".zip") else path
        out = shutil.make_archive(base, "zip", self.catalog.warehouse)
        return self._ok(f"backup written: {out}")

    def _mv_base_table(self, query: str) -> Optional[str]:
        """The single catalog snapshot table a simple MV query reads, or
        None (joins, subqueries, non-catalog sources). Exactly one FROM
        may appear — a WHERE-subquery's FROM would otherwise be rewritten
        onto the delta too and merge wrong partials."""
        if len(re.findall(r"\bFROM\b", query, re.IGNORECASE)) != 1:
            return None
        m = re.match(
            rf"\s*SELECT\s+.+?\s+FROM\s+(?P<base>{_IDENT})\s*"
            rf"(?:WHERE\s+.+?)?(?:GROUP\s+BY\s+.+?)?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            return None
        base = m.group("base").lower()
        return base if base in self.catalog.tables else None

    _MV_AGG = re.compile(
        r"^\s*(?P<fn>COUNT|SUM|MIN|MAX)\s*\(\s*(?P<arg>\*|[^()]+)\s*\)\s+"
        r"AS\s+(?P<alias>[A-Za-z_][A-Za-z0-9_]*)\s*$",
        re.IGNORECASE,
    )

    def _refresh(self, s: str) -> DataFrame:
        """``REFRESH MATERIALIZED VIEW <name> [INCREMENTALLY]``.

        Full refresh re-runs the defining query into a NEW snapshot
        (readers of the old snapshot are undisturbed; the refresh is
        atomic via the version flip). ``INCREMENTALLY`` consumes ONLY the
        base table's rows appended since the last refresh (file-level
        delta — SnapshotTable.inserted_since) and merges their partial
        aggregates into the stored result: supported for single-table
        GROUP BY queries whose aggregates are COUNT/SUM/MIN/MAX (the
        insert-mergeable family); anything else — or a base history that
        was not append-only — raises with the full-refresh suggestion.
        At scale this is the difference between re-scanning the whole
        base and scanning the day's new files.
        """
        m = re.match(
            rf"REFRESH\s+MATERIALIZED\s+VIEW\s+(?P<name>{_IDENT})"
            rf"(?P<inc>\s+INCREMENTALLY)?\s*$",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse REFRESH: {s[:80]}")
        name = m.group("name").lower()
        if name not in self.catalog.mat_views:
            raise KeyError(f"materialized view not found: {name}")
        if m.group("inc"):
            return self._refresh_incremental(name)
        self.catalog.tables[name].write(self._query(self.catalog.mat_views[name])[0])
        if name in self.catalog.mv_base:
            base, _ = self.catalog.mv_base[name]
            self.catalog.mv_base[name] = (base, self.catalog.tables[base].version)
        self.catalog.refresh_view(name)
        self.session.invalidate_cache()
        return self._ok(f"refreshed materialized view {name}")

    def _refresh_incremental(self, name: str) -> DataFrame:
        from pyspark.sql import functions as F

        query = self.catalog.mat_views[name]
        if name not in self.catalog.mv_base:
            raise ValueError(
                f"materialized view {name} has no snapshot-table base; "
                "use REFRESH MATERIALIZED VIEW (full)"
            )
        base, last_v = self.catalog.mv_base[name]
        qm = re.match(
            rf"\s*SELECT\s+(?P<select>.+?)\s+FROM\s+{base}\s*"
            rf"(?:WHERE\s+(?P<where>.+?))?\s*GROUP\s+BY\s+(?P<gb>.+?)\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if not qm or len(re.findall(r"\bFROM\b", query, re.IGNORECASE)) != 1:
            raise ValueError(
                f"materialized view {name} is not a single-table GROUP BY "
                "query; use REFRESH MATERIALIZED VIEW (full)"
            )
        group_cols = [c.strip().lower() for c in qm.group("gb").split(",")]
        aggs: dict[str, str] = {}  # alias -> fn
        # output columns in the ORIGINAL select-list order — an
        # incremental refresh must store the same column order a full
        # refresh would, or the MV's schema flips between refresh modes
        out_order: list[str] = []
        for item in qm.group("select").split(","):
            item = item.strip()
            if item.lower() in group_cols:
                out_order.append(item.lower())
                continue
            am = self._MV_AGG.match(item)
            if not am or re.match(
                r"\s*DISTINCT\b", am.group("arg"), re.IGNORECASE
            ):
                # DISTINCT aggregates are NOT insert-mergeable: adding
                # old and delta distinct counts double-counts values
                # seen in both — refuse rather than silently corrupt
                raise ValueError(
                    f"unsupported select item for incremental refresh: "
                    f"{item!r} (non-DISTINCT COUNT/SUM/MIN/MAX ... AS "
                    "alias only)"
                )
            aggs[am.group("alias").lower()] = am.group("fn").upper()
            out_order.append(am.group("alias").lower())
        st = self.catalog.tables[base]
        delta = st.inserted_since(last_v)  # raises if history not append-only
        view = f"__mv_delta_{name}"
        delta.createOrReplaceTempView(view)
        delta_agg, _ = self._query(
            re.sub(rf"\bFROM\s+{base}\b", f"FROM {view}", query, flags=re.IGNORECASE)
        )
        old = self.catalog.tables[name].read()
        o, d = old.alias("o"), delta_agg.alias("d")
        joined = o.join(d, group_cols, "full_outer")

        def _merged(colname: str):
            if colname in group_cols:
                return F.coalesce(o[colname], d[colname]).alias(colname)
            fn, a, b = aggs[colname], o[colname], d[colname]
            if fn == "COUNT":
                expr = F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
            elif fn == "SUM":
                # SUM over an all-NULL input is NULL, not 0 — a brand-new
                # group whose summed column is entirely NULL must store
                # NULL exactly like a full refresh would; the result is 0
                # only if some side actually summed to 0
                expr = F.when(a.isNull() & b.isNull(), F.lit(None)).otherwise(
                    F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
                )
            elif fn == "MIN":
                expr = F.when(a.isNull(), b).when(b.isNull(), a).otherwise(
                    F.least(a, b)
                )
            else:  # MAX
                expr = F.when(a.isNull(), b).when(b.isNull(), a).otherwise(
                    F.greatest(a, b)
                )
            return expr.alias(colname)

        self.catalog.tables[name].write(
            joined.select(*[_merged(c) for c in out_order])
        )
        self.catalog.mv_base[name] = (base, st.version)
        self.catalog.refresh_view(name)
        self.session.invalidate_cache()
        return self._ok(f"incrementally refreshed materialized view {name}")

    def _vacuum(self, s: str) -> DataFrame:
        """``VACUUM <table> [RETAIN <n> VERSIONS]`` — drop snapshot
        versions older than the newest n (default 1), except those still
        referenced by surviving snapshots (SnapshotTable.vacuum's
        link-reachability rule). Time-travel reads of removed versions
        fail afterwards — the lakehouse retention contract."""
        m = re.match(
            rf"VACUUM\s+(?P<name>{_IDENT})"
            rf"(?:\s+RETAIN\s+(?P<n>\d+)\s+VERSIONS?)?\s*$",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse VACUUM: {s[:80]}")
        name = m.group("name").lower()
        st = self.catalog.table(name)
        keep = int(m.group("n") or 1)
        before = st.versions()
        protected = set().union(*self._links_into(name).values())
        st.vacuum(keep_last=keep, protected=protected)
        after = st.versions()
        return self._ok(
            f"vacuumed {name}: {len(before) - len(after)} snapshots removed, "
            f"{len(after)} kept"
        )

    def _links_into(self, name: str) -> "dict[str, set[int]]":
        """OTHER registered tables whose links resolve into ``name``'s
        version dirs — shallow clones of it, or of its clones — mapped to
        those versions. A table's own vacuum walks only its own dirs, so
        VACUUM protects these versions and DROP refuses while any exist.
        Metadata-only."""
        st = self.catalog.table(name)
        refs = {
            oname: ot.links_into(st)
            for oname, ot in self.catalog.tables.items()
            if oname != name
        }
        return {oname: vs for oname, vs in refs.items() if vs}

    def _use(self, s: str) -> DataFrame:
        """``USE [=] schema`` (Parser.java:5063 parseUse — sugar for
        SET SCHEMA): switches the session's current schema after
        validating it exists, like the reference's Set(SetTypes.SCHEMA)."""
        m = re.match(rf"USE\s*=?\s*(?P<name>{_IDENT})\s*$", s, re.IGNORECASE)
        if not m:
            raise ValueError(f"cannot parse USE: {s[:80]}")
        name = m.group("name").lower()
        if name not in self.catalog.schemas:
            raise ValueError(f"schema not found: {name}")
        self.session.set_setting("SCHEMA", name.upper())
        return self._ok(f"schema {name}")

    def _shutdown(self, s: str) -> DataFrame:
        """``SHUTDOWN [IMMEDIATELY|COMPACT|DEFRAG]`` and ``SHUTDOWN
        SERVER <port>`` (Parser.java:543-585, parseShutdownServer) —
        accepted no-op shims: there is no single-node storage to
        checkpoint or TCP server to stop; snapshots are already durable
        on write (SCALE.md known-assumptions)."""
        m = re.match(
            r"SHUTDOWN(?:\s+(?P<mode>IMMEDIATELY|COMPACT|DEFRAG|SERVER\s+\d+))?\s*$",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse SHUTDOWN: {s[:80]}")
        return self._ok(f"shutdown {(m.group('mode') or 'normal').lower()} (no-op)")

    def _checksum(self, s: str) -> DataFrame:
        """``CHECKSUM TABLE <name> [, <name> ...]`` — order-insensitive
        content digest per table (MySQL-compat surface).

        The digest is the sum of per-row xxhash64 over all columns,
        modulo 2^61-1 — commutative and associative, so it is identical
        for any row order, partitioning, or executor count, and two
        replicas/engines holding the same rows agree. One aggregation
        pass per table, map-side combined; at 100 TB this is the cheap
        anti-entropy check that replaces a sort-and-compare.
        """
        from pyspark.sql import functions as F

        m = re.match(
            rf"CHECKSUM\s+TABLE\s+(?P<names>{_IDENT}(?:\s*,\s*{_IDENT})*)\s*$",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse CHECKSUM: {s[:80]}")
        p61 = (1 << 61) - 1
        rows = []
        for name in [n.strip().lower() for n in m.group("names").split(",")]:
            df = self.spark.table(name)
            digest = (
                df.select(
                    F.xxhash64(*df.columns)
                    .bitwiseAND(F.lit(p61))
                    .cast("decimal(38,0)")  # exact sum, no long overflow
                    .alias("h")
                )
                .agg((F.sum("h") % p61).cast("long").alias("d"))
                .collect()[0]["d"]
            )
            rows.append((name, int(digest or 0)))
        return self.spark.createDataFrame(
            rows, "table_name string, checksum bigint"
        )

    def _optimize(self, s: str) -> DataFrame:
        """``OPTIMIZE <table> [COMPACT [MAX FILES n]] [ZORDER BY (c1,
        …)]`` — data-layout rewrite (extension; the reference's nearest
        concept is a BTree clustered index, one sort order per table —
        CreateIndex.java; the page-defragmentation analogue is
        CompactPlan.java).

        ``COMPACT [MAX FILES n]``: threshold-driven small-file
        compaction via SnapshotTable.compact — rewrites ONLY partitions
        whose data-file count exceeds ``n`` (default 8) to one file
        each, links the rest metadata-only; a no-op (no new snapshot)
        when nothing exceeds. The right verb for partitioned tables
        accreting CDC/insert files. Plain ``OPTIMIZE <table>`` keeps the
        legacy whole-table coalesce (~1/8th file count). With ZORDER:
        one range-shuffle on the interleaved key (operators/layout.py)
        so every output file covers a disjoint hyper-box of the
        clustered columns and parquet footer stats prune on ALL of them.
        """
        m = re.match(
            rf"OPTIMIZE\s+(?P<name>{_IDENT})"
            rf"(?:\s+(?P<compact>COMPACT)(?:\s+MAX\s+FILES\s+(?P<maxf>\d+))?)?"
            rf"(?:\s+ZORDER\s+BY\s*\((?P<cols>[^)]+)\))?\s*$",
            s,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse OPTIMIZE: {s[:80]}")
        name = m.group("name").lower()
        st = self.catalog.table(name)
        if m.group("compact"):
            if m.group("cols"):
                raise ValueError(
                    "OPTIMIZE: COMPACT and ZORDER BY are separate layout "
                    "rewrites — run them as two statements"
                )
            max_files = int(m.group("maxf") or 8)
            before = st.version
            v = st.compact(max_files)
            self.catalog.refresh_view(name)
            what = "no partitions over threshold" if v == before else f"v{v}"
            return self._ok(
                f"optimized {name} compact max files {max_files} ({what})"
            )
        df = st.read()
        if m.group("cols"):
            from .operators.layout import cluster_by_zorder

            cols = [c.strip().lower() for c in m.group("cols").split(",")]
            nparts = max(1, int(self.spark.conf.get("spark.sql.shuffle.partitions")))
            df = cluster_by_zorder(df, cols, num_partitions=nparts)
            st.write(df)
            self.catalog.refresh_view(name)
            return self._ok(f"optimized {name} zorder by ({', '.join(cols)})")
        n_in = df.rdd.getNumPartitions()
        df = df.coalesce(max(1, n_in // 8))
        st.write(df)
        self.catalog.refresh_view(name)
        return self._ok(f"optimized {name} (compacted {n_in} files)")

    def _analyze(self, s: str) -> DataFrame:
        # ANALYZE → selectivity stats per column (Analyze.java semantics)
        m = re.match(rf"ANALYZE(?:\s+TABLE)?\s+(?P<name>{_IDENT})", s, re.IGNORECASE)
        if not m:
            return self._ok("analyzed")
        name = m.group("name").lower()
        df = self.catalog.table(name).read()
        total = df.count() or 1
        aggs = [
            F.round(100.0 * F.approx_count_distinct(c) / F.lit(total), 0)
            .cast("int")
            .alias(c)
            for c in df.columns
        ]
        return df.agg(*aggs)

    @staticmethod
    def _coerce(val: str):
        for cast in (int, float):
            try:
                return cast(val)
            except ValueError:
                continue
        if val.upper() in ("TRUE", "FALSE"):
            return val.upper() == "TRUE"
        return val

    def _pk_of(self, name: str) -> list[str]:
        meta = self.catalog.indexes.get(f"__pk_{name}")
        if meta:
            return meta.columns
        # no declared PK: fall back to all columns (deterministic order)
        return [f.name for f in self.catalog.table(name).read().schema.fields]

"""The benchmark's three workloads, their seeded inputs and their oracles.

A workload turns ``--seed`` into a fixed list of passes; a pass is a list
of :class:`Op`. Every op that returns rows carries the digest DuckDB gives
for the same statement over the same parquet files, computed before its
pass and outside every timed span. ``ingest_mutate`` also replays its
change batches in DuckDB and checks the final table state after each
pass.

The oracles run in a process of their own, so that DuckDB's memory never
counts in the benchmark process's peak resident size:

    python3 perfbench/ops.py WORKLOAD SEED N_PASSES DATA_DIR

prints the expected digests of every pass as one JSON object
(:func:`expected_digests`).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import sys
from dataclasses import dataclass, field
from datetime import date, timedelta
from typing import Any, Callable, Optional

# value domains of the repository's test data (TESTDATA.md)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")

# ---------------------------------------------------------------------------
# order-insensitive result digest (normalisation of scripts/check_oracles.py
# ``canonical``: columns by lower-cased name, floats by repr, NULL/NaN as
# <null>, rows sorted)
# ---------------------------------------------------------------------------


def _cell(v: Any) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(float(v))
    if isinstance(v, (list, tuple, dict)) or type(v).__name__ == "ndarray":
        raise ValueError(f"non-scalar result cell {type(v).__name__}")
    return str(v)


def digest(pdf) -> str:
    cols = sorted(pdf.columns, key=str.lower)
    h = hashlib.sha256(("|".join(c.lower() for c in cols) + "\n").encode())
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    )
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()[:24]}"


# ---------------------------------------------------------------------------
# operations
# ---------------------------------------------------------------------------


@dataclass
class Op:
    """One closed-loop operation.

    ``kind`` is ``select`` (SQL text through ``EngineSession.sql``, then
    collected), ``build`` (a registry ``Workload.build`` call, then
    collected) or ``dml`` (a statement that executes inside
    ``EngineSession.sql``; nothing to collect). ``oracle`` is the
    statement DuckDB runs for the expected digest; ``expected`` is
    filled in from :func:`expected_digests`."""

    name: str
    kind: str
    text: str = ""
    oracle: Optional[str] = None
    expected: Optional[str] = None


@dataclass
class Pass:
    ops: list[Op]
    # ingest_mutate: the DuckDB statements that replay this pass's changes
    replay: list[str] = field(default_factory=list)
    # bytes of the generated change data (the DML statement texts)
    change_bytes: int = 0
    state_expected: dict[str, str] = field(default_factory=dict)


class Workload:
    name = ""
    # a stateful workload's oracles read tables its own ops mutate, so an
    # oracle text can give a different digest in each pass
    stateful = False

    def __init__(self, seed: int, n_passes: int, data_dir: str):
        self.data_dir = data_dir
        self._oracle_cache: dict[str, str] = {}
        self.passes = [self.make_pass(random.Random(f"{seed}:{p}"), p) for p in range(n_passes)]

    def make_pass(self, rng: random.Random, p: int) -> Pass:
        raise NotImplementedError

    def engine_setup(self, es) -> None:
        """Engine-side preparation that belongs to set-up time."""

    def inputs_digest(self) -> str:
        h = hashlib.sha256()
        for p in self.passes:
            for op in p.ops:
                h.update(f"{op.name}\x1f{op.kind}\x1f{op.text}\n".encode())
        return h.hexdigest()[:24]

    def oracle_digest(self, con, op: Op) -> str:
        # builders take no parameters, so their oracle text repeats across
        # passes
        if self.stateful or op.oracle not in self._oracle_cache:
            self._oracle_cache[op.oracle] = digest(con.execute(op.oracle).fetchdf())
        return self._oracle_cache[op.oracle]

    def prepare_pass(self, con, p: int) -> None:
        """Fill in the expected digests of pass ``p`` (passes are prepared
        in order)."""
        for op in self.passes[p].ops:
            if op.oracle is not None:
                op.expected = self.oracle_digest(con, op)

    def resolve(self, op: Op, es) -> str:
        """The statement text as sent to the engine (may depend on
        engine state known only at run time, e.g. snapshot versions)."""
        return op.text

    def check_state(self, es, p: int) -> list[str]:
        """Names of tables whose state differs from the oracle after pass
        ``p``; empty when the workload keeps no state."""
        return []

    def after_op(self, es, p: int) -> None:
        """Bookkeeping after each op of pass ``p``, outside its timed span."""

    def storage_metrics(self, es, n_passes: int, change_bytes: int) -> dict:
        """Snapshot-storage metrics per warm pass; zero for workloads that
        write no tables."""
        return dict.fromkeys(STORAGE_KEYS, 0.0)


STORAGE_KEYS = (
    "snapshot.bytes_written", "snapshot.files_written", "snapshot.bytes_on_disk",
    "snapshot.write_amp", "snapshot.space_amp",
)


# ---------------------------------------------------------------------------
# tpch_sql — seeded TPC-H texts through EngineSession.sql
# ---------------------------------------------------------------------------

# (query, [(literal in the repository's oracle text, parameter)]): each
# literal is replaced by its parameter, drawn per pass the way TPC-H qgen
# draws substitution parameters.
TPCH_TEMPLATES: dict[str, list[tuple[str, str]]] = {
    "tpch_q1": [("timestamp '2001-08-31 00:00:00'", "q1_date")],
    "tpch_q3": [("'BUILDING'", "segment"), ("timestamp '1998-03-15 00:00:00'", "q3_date")],
    "tpch_q5": [
        ("'ASIA'", "region"),
        ("timestamp '1996-01-01 00:00:00'", "q5_lo"),
        ("timestamp '1997-01-01 00:00:00'", "q5_hi"),
    ],
    "tpch_q6": [
        ("timestamp '1997-01-01 00:00:00'", "q6_lo"),
        ("timestamp '1998-01-01 00:00:00'", "q6_hi"),
        ("BETWEEN 0.03 AND 0.05", "q6_disc"),
        ("l_quantity < 24", "q6_qty"),
    ],
    "tpch_q9": [("'%red%'", "color")],
    "tpch_q10": [
        ("timestamp '1997-10-01 00:00:00'", "q10_lo"),
        ("timestamp '1998-01-01 00:00:00'", "q10_hi"),
    ],
    "tpch_q18": [("> 180", "q18_qty")],
    "tpch_q21": [("'NATION_3'", "nation")],
}


def _ts(d: date) -> str:
    return f"timestamp '{d.isoformat()} 00:00:00'"


def _month(y: int, m: int) -> date:
    return date(y + (m - 1) // 12, (m - 1) % 12 + 1, 1)


def tpch_params(rng: random.Random) -> dict[str, str]:
    y5, y6 = rng.randint(1995, 2000), rng.randint(1995, 2000)
    disc = rng.randint(2, 9)
    m10 = rng.randint(2, 74)  # month index from 1995-02 to 2001-02
    return {
        "q1_date": _ts(date(2001, 11, 4) - timedelta(days=rng.randint(60, 120))),
        "segment": f"'{rng.choice(SEGMENTS)}'",
        "q3_date": _ts(date(1996, 3, 1) + timedelta(days=rng.randint(0, 4 * 365))),
        "region": f"'{rng.choice(REGIONS)}'",
        "q5_lo": _ts(date(y5, 1, 1)),
        "q5_hi": _ts(date(y5 + 1, 1, 1)),
        "q6_lo": _ts(date(y6, 1, 1)),
        "q6_hi": _ts(date(y6 + 1, 1, 1)),
        "q6_disc": f"BETWEEN {(disc - 1) / 100:.2f} AND {(disc + 1) / 100:.2f}",
        "q6_qty": f"l_quantity < {rng.randint(24, 25)}",
        "color": f"'%{rng.choice(PART_ADJ)}%'",
        "q10_lo": _ts(_month(1995, m10)),
        "q10_hi": _ts(_month(1995, m10 + 3)),
        "q18_qty": f"> {rng.randint(170, 190)}",
        "nation": f"'NATION_{rng.randint(0, 24)}'",
    }


def tpch_text(name: str, oracle: str, params: dict[str, str]) -> str:
    # two steps, so that a parameter equal to a later literal (q5's new
    # lower date is the old upper one) is never substituted again
    text = oracle
    subs = TPCH_TEMPLATES[name]
    for i, (literal, _key) in enumerate(subs):
        if literal not in text:
            raise RuntimeError(f"{name}: template literal {literal!r} not in oracle text")
        text = text.replace(literal, f"\x00{i}\x00")
    for i, (_literal, key) in enumerate(subs):
        text = text.replace(f"\x00{i}\x00", params[key])
    return text


class TpchSql(Workload):
    name = "tpch_sql"

    def make_pass(self, rng, p):
        from etl_lealone_spark.workloads import all_workloads

        reg = all_workloads()
        params = tpch_params(rng)
        ops = []
        for q in TPCH_TEMPLATES:
            text = tpch_text(q, reg[q].oracle, params)
            ops.append(Op(q, "select", text, oracle=text))
        rng.shuffle(ops)
        return Pass(ops)


# ---------------------------------------------------------------------------
# corpus_build — LLM-data registry builders
# (run by hand: a run takes about 47 s, which the time budget of the runs
# BENCHMARK.json lists cannot hold next to the other two)
# ---------------------------------------------------------------------------

CORPUS_BUILDERS = (
    "text_quality_filter",
    "tfidf_doc_keywords",
    "bm25_topk",
    "ann_ivf_topk_batch",
    "semantic_dedup_survivors",
)


class CorpusBuild(Workload):
    name = "corpus_build"

    def make_pass(self, rng, p):
        from etl_lealone_spark.workloads import all_workloads

        reg = all_workloads()
        ops = [Op(n, "build", n, oracle=reg[n].oracle) for n in CORPUS_BUILDERS]
        rng.shuffle(ops)
        return Pass(ops)


# ---------------------------------------------------------------------------
# ingest_mutate — seeded change batches into snapshot tables
# ---------------------------------------------------------------------------

STREAM_BUILDERS = ("stream_dedup_hashes",)

ORDERS_DDL = (
    "CREATE TABLE orders_s (o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT, "
    "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate TIMESTAMP, "
    "o_orderpriority VARCHAR)"
)
SLUGIFY = "etl_lealone_spark.functions.examples.slugify"
# the first pass starts with the bulk load of the snapshot tables and the
# Python function alias; every pass then applies one change batch. Only
# orders_s has a primary key, whose checks every orders DML pays; MERGE
# names its own key, and a second checked table would not fit the run
# in its time budget.
LOAD_OPS = (
    ("create_orders", ORDERS_DDL),
    ("load_orders", "INSERT INTO orders_s SELECT * FROM orders"),
    ("create_customer", "CREATE TABLE customer_s AS SELECT * FROM customer"),
    ("create_slugify", f'CREATE ALIAS SLUGIFY FOR "{SLUGIFY}"'),
)
ASOF_SQL = (
    "SELECT o_orderstatus, count(*) AS n, "
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
    "FROM {src} GROUP BY o_orderstatus"
)
DIFF_SQL = (
    "SELECT change_type, count(*) AS n, "
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
    "FROM {src} GROUP BY change_type"
)
# a Python function called from SQL text: rows go through Python workers
SLUG_SQL = (
    "SELECT SLUGIFY(c_mktsegment) AS segment, count(*) AS n, "
    "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance "
    "FROM customer_s GROUP BY 1"
)
# DuckDB twin of operators/dml.snapshot_diff over two retained states
DUCK_DIFF = (
    "(SELECT CASE WHEN n.o_orderkey IS NULL THEN o.o_totalprice "
    "ELSE n.o_totalprice END AS o_totalprice, "
    "CASE WHEN o.o_orderkey IS NULL THEN 'insert' WHEN n.o_orderkey IS NULL THEN 'delete' "
    "ELSE 'update' END AS change_type "
    "FROM {old} o FULL OUTER JOIN {new} n ON o.o_orderkey = n.o_orderkey "
    "WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL OR "
    + " OR ".join(
        f"o.{c} IS DISTINCT FROM n.{c}"
        for c in ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
    )
    + ")"
)
N_INSERT, N_UPDATE, N_DELETE, N_MERGE = 40, 60, 15, 20


class IngestMutate(Workload):
    name = "ingest_mutate"
    stateful = True

    def __init__(self, seed, n_passes, data_dir):
        import pyarrow.parquet as pq

        rows = {
            t: pq.read_metadata(f"{data_dir}/{t}.parquet").num_rows
            for t in ("orders", "customer")
        }
        self.n_orders, self.n_cust = rows["orders"], rows["customer"]
        super().__init__(seed, n_passes, data_dir)

    def make_pass(self, rng, p):
        from etl_lealone_spark.workloads import all_workloads

        reg = all_workloads()
        base = self.n_orders + p * N_INSERT
        rows = []
        for i in range(N_INSERT):
            d = date(2001, 8, 2) + timedelta(days=rng.randint(0, 90))
            rows.append(
                f"({base + i}, {rng.randrange(self.n_cust)}, 'O', "
                f"{rng.randint(100_000, 50_000_000) / 100:.2f}, {_ts(d)}, "
                f"'{rng.choice(PRIORITIES)}')"
            )
        insert = "INSERT INTO orders_s VALUES " + ", ".join(rows)
        lo = rng.randrange(base - N_UPDATE)
        update = (
            "UPDATE orders_s SET o_totalprice = o_totalprice + 10.25, "
            f"o_orderstatus = 'F' WHERE o_orderkey BETWEEN {lo} AND {lo + N_UPDATE - 1}"
        )
        keys = sorted(rng.sample(range(base), N_DELETE))
        delete = f"DELETE FROM orders_s WHERE o_orderkey IN ({', '.join(map(str, keys))})"
        # half the merged keys exist, half are new; no key repeats in a batch
        mkeys = rng.sample(range(self.n_cust), N_MERGE // 2)
        mkeys += range(self.n_cust + p * N_MERGE, self.n_cust + p * N_MERGE + N_MERGE // 2)
        mrows = []
        for k in mkeys:
            mrows.append(
                f"({k}, 'Customer#{k:09d}', {rng.randint(0, 24)}, "
                f"{rng.randint(-99_999, 999_999) / 100:.2f}, '{rng.choice(SEGMENTS)}')"
            )
        merge_vals = ", ".join(mrows)
        merge = f"MERGE INTO customer_s KEY(c_custkey) VALUES {merge_vals}"
        ops = [Op(n, "dml", text) for n, text in LOAD_OPS] if p == 0 else []
        ops += [
            Op("insert_orders", "dml", insert),
            Op("update_orders", "dml", update),
            Op("delete_orders", "dml", delete),
            Op("merge_customer", "dml", merge),
            Op("asof_orders", "select", ASOF_SQL,
               oracle=ASOF_SQL.format(src=f"orders_p{p}")),
            Op("diff_orders", "select", DIFF_SQL,
               oracle=DIFF_SQL.format(src=DUCK_DIFF.format(old=f"orders_p{p}", new="orders_s"))),
            Op("slug_customer", "select", SLUG_SQL, oracle=SLUG_SQL),
        ]
        ops += [Op(n, "build", n, oracle=reg[n].oracle) for n in STREAM_BUILDERS]
        ops += [
            Op("optimize_orders", "dml", "OPTIMIZE orders_s"),
            Op("vacuum_orders", "dml", "VACUUM orders_s RETAIN 1 VERSIONS"),
            Op("vacuum_customer", "dml", "VACUUM customer_s RETAIN 1 VERSIONS"),
        ]
        replay = [
            f"CREATE TABLE orders_p{p} AS SELECT * FROM orders_s",
            insert, update, delete,
            "DELETE FROM customer_s WHERE c_custkey IN (SELECT k FROM (VALUES "
            + merge_vals + ") v(k, a, b, c, d))",
            f"INSERT INTO customer_s VALUES {merge_vals}",
        ]
        return Pass(ops, replay, change_bytes=sum(
            len(s.encode()) for s in (insert, update, delete, merge)
        ))

    # -- engine side -------------------------------------------------------
    def engine_setup(self, es) -> None:
        from layers import WarehouseFiles

        self.files = WarehouseFiles(es.warehouse)

    def after_op(self, es, p: int) -> None:
        # the bulk load and the first change batch are not counted as
        # written bytes: write_amp is a figure of the warm passes
        self.files.observe(count=p > 0)

    def storage_metrics(self, es, n_passes, change_bytes) -> dict:
        fs = self.files
        tables = [es.catalog.table(t) for t in ("orders_s", "customer_s")]
        on_disk = fs.on_disk()
        return {
            "snapshot.bytes_written": fs.bytes_written / max(1, n_passes),
            "snapshot.files_written": fs.files_written / max(1, n_passes),
            "snapshot.bytes_on_disk": float(on_disk),
            "snapshot.write_amp": fs.bytes_written / max(1, change_bytes),
            "snapshot.space_amp": on_disk / max(1, fs.live_bytes(tables)),
        }

    def resolve(self, op: Op, es) -> str:
        if op.name not in ("asof_orders", "diff_orders"):
            return op.text
        # the state at pass start: this pass's three orders DML ops
        # (insert, update, delete) each committed one version
        v = es.catalog.table("orders_s").version
        if op.name == "asof_orders":
            return ASOF_SQL.format(src=f"orders_s VERSION AS OF {v - 3}")
        return DIFF_SQL.format(src=f"DIFF(orders_s, {v - 3}, {v})")

    # -- oracle side -------------------------------------------------------
    def prepare_pass(self, con, p: int) -> None:
        if p == 0:
            import importlib

            mod, fn = SLUGIFY.rsplit(".", 1)
            con.create_function(
                "slugify", getattr(importlib.import_module(mod), fn), ["VARCHAR"], "VARCHAR"
            )
            con.execute("CREATE TABLE orders_s AS SELECT * FROM orders")
            con.execute("CREATE TABLE customer_s AS SELECT * FROM customer")
        ps = self.passes[p]
        for stmt in ps.replay:
            con.execute(stmt)
        super().prepare_pass(con, p)
        ps.state_expected = {
            t: digest(con.execute(f"SELECT * FROM {t}").fetchdf())
            for t in ("orders_s", "customer_s")
        }
        con.execute(f"DROP TABLE orders_p{p}")

    def check_state(self, es, p: int) -> list[str]:
        bad = []
        for t, want in self.passes[p].state_expected.items():
            if digest(es.sql(f"SELECT * FROM {t}").toPandas()) != want:
                bad.append(t)
        return bad


WORKLOADS: dict[str, Callable[..., Workload]] = {
    "tpch_sql": TpchSql,
    "corpus_build": CorpusBuild,
    "ingest_mutate": IngestMutate,
}


def duck_connect(data_dir: str):
    import duckdb

    from etl_lealone_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def expected_digests(workload: str, seed: int, n_passes: int, data_dir: str) -> dict:
    """DuckDB's digests for every pass: ``{"ops": [{op: digest}],
    "state": [{table: digest}]}``, one entry per pass."""
    wl = WORKLOADS[workload](seed, n_passes, data_dir)
    con = duck_connect(data_dir)
    out: dict = {"ops": [], "state": []}
    for p, ps in enumerate(wl.passes):
        wl.prepare_pass(con, p)
        out["ops"].append({op.name: op.expected for op in ps.ops if op.expected is not None})
        out["state"].append(ps.state_expected)
    con.close()
    return out


def apply_digests(wl: Workload, digests: dict) -> None:
    for ps, want, state in zip(wl.passes, digests["ops"], digests["state"]):
        for op in ps.ops:
            op.expected = want.get(op.name)
        ps.state_expected = state


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    name, seed, n_passes, data_dir = sys.argv[1:5]
    print(json.dumps(expected_digests(name, int(seed), int(n_passes), data_dir)))

"""Plan lint: scale anti-pattern detection over physical plan text.

Rules (the failures that only surface as a cluster bill at 100 TB):

- ``cartesian`` — a ``CartesianProduct`` stage: O(n*m) row pairing.
- ``bnl-join`` — ``BroadcastNestedLoopJoin``: per-streamed-row scan of
  the broadcast side. EXEMPT when every BNL in the plan broadcasts an
  ungrouped (1-row) aggregate — the standard constant-size way to attach
  a scalar corpus statistic (avgdl, token totals, thresholds) to every
  row; recognized by shape, not by name.
- ``global-window`` — a Window node whose unary chain reaches an
  ``Exchange SinglePartition``: the whole dataset serialized through one
  task. (Ungrouped final aggregates legitimately end in a 1-row
  SinglePartition exchange; only a *window* above one is flagged.)
  EXEMPT when a ``WindowGroupLimit`` sits on the chain between them:
  rank-filter plans (``rnk <= k``) plant one below the exchange, so each
  upstream partition ships at most k rows — genuinely bounded. The
  exemption is recognized EXPLICITLY (r6 verdict task 4): before, such
  plans passed only because WindowGroupLimit broke the regex, and a
  refactor that lost the limit while keeping an interposed node could
  slip through as a false-negative.

tests/test_registry.py runs every registered workload through these
rules; tests/test_plans.py unit-tests the rules on planted plans.
"""

from __future__ import annotations

import re

RULES: list[tuple[str, re.Pattern]] = [
    ("cartesian", re.compile(r"CartesianProduct")),
    ("bnl-join", re.compile(r"BroadcastNestedLoopJoin")),
]

# Nodes that may sit between a Window and its exchange without changing
# the data volume through the single task: sorts, projections, and the
# codegen/columnar plumbing explain interposes.
_WINDOW_CHAIN_PASSTHROUGH = re.compile(
    r"^(?:\*\(\d+\)\s*)?(?:Sort\b|Project\b|Filter\b|WholeStageCodegen|"
    r"InputAdapter|ColumnarToRow|RunningWindowFunction)"
)


def global_window_unbounded(plan: str) -> bool:
    """True iff some Window node's unary chain reaches an ``Exchange
    SinglePartition`` with NO ``WindowGroupLimit`` on the path. A
    WindowGroupLimit below the exchange bounds what each upstream
    partition ships (<= k rows), so rank-filter top-k over a global
    order is accepted; anything else funnels the dataset through one
    task."""
    nodes = _tree_nodes(plan)
    for idx, (d, txt) in enumerate(nodes):
        if not re.match(r"(?:\*\(\d+\)\s*)?Window\b", txt):
            continue
        bounded = False
        for d2, t2 in nodes[idx + 1:]:
            if d2 <= d:
                break
            if "WindowGroupLimit" in t2:
                bounded = True
                continue
            if "Exchange SinglePartition" in t2:
                if not bounded:
                    return True
                break
            if not _WINDOW_CHAIN_PASSTHROUGH.match(t2):
                break  # a different operator shape — not this rule
    return False

_PREFIX_CHARS = " :+-"


def _tree_nodes(plan: str) -> list[tuple[int, str]]:
    """Parse explain tree text into (indent_depth, node_text) rows.

    Depth is the length of the structural prefix (spaces and the
    ``:  +- `` tree-drawing characters); children of a node are the
    contiguous following rows with strictly greater depth.
    """
    nodes: list[tuple[int, str]] = []
    for line in plan.splitlines():
        i = 0
        while i < len(line) and line[i] in _PREFIX_CHARS:
            i += 1
        if i < len(line):
            nodes.append((i, line[i:]))
    return nodes


def _subtree(nodes: list[tuple[int, str]], idx: int) -> list[tuple[int, str]]:
    """Rows strictly inside the subtree rooted at ``nodes[idx]``."""
    d = nodes[idx][0]
    out = []
    for d2, t2 in nodes[idx + 1:]:
        if d2 <= d:
            break
        out.append((d2, t2))
    return out


_BOUNDED_IN_BCAST = (
    "HashAggregate(keys=[]",  # ungrouped (1-row) aggregate
    "SortAggregate(key=[]",
    "LocalTableScan",  # literal relation (VALUES / createDataFrame)
    "Scan OneRowRelation",
    "GlobalLimit",  # explicit LIMIT bound
    "CollectLimit",
    "TakeOrderedAndProject",
    "ReusedExchange",  # reuse of an exchange validated at its origin
    "Subquery",  # scalar-subquery plumbing
)


def bnl_is_scalar_broadcast(plan: str) -> bool:
    """True iff EVERY BroadcastNestedLoopJoin in the plan broadcasts a
    constant-size subtree — judged per BNL node by scanning the indented
    children of that node, not by comparing global pattern counts (a
    plan with one genuine table-broadcast BNL plus an unrelated
    scalar-aggregate broadcast elsewhere must NOT be exempted)."""
    nodes = _tree_nodes(plan)
    for idx, (_, txt) in enumerate(nodes):
        if "BroadcastNestedLoopJoin" not in txt:
            continue
        sub = _tree_nodes_exchange_views(nodes, idx)
        if not sub:
            return False
    return True


# Leaf sources whose size is NOT known to be driver-bounded: file/table
# scans, cached relations, JDBC, spark.range, distributed RDD scans.
# LocalTableScan and OneRowRelation (literal relations, already
# driver-materialized) are the only sources bounded by construction —
# everything else needs a dominating bound (r5 advisor: the r4-draft
# rule recognized only file formats, silently exempting a broadcast of
# Range(1e9) or an InMemoryTableScan).
_SOURCE_NODE = re.compile(
    r"FileScan|BatchScan|InMemoryTableScan|Range \(|\bScan \w"
)
_BOUNDED_SOURCE = ("LocalTableScan", "Scan OneRowRelation")


def _is_unbounded_source(node_text: str) -> bool:
    if not _SOURCE_NODE.search(node_text):
        return False
    return not any(m in node_text for m in _BOUNDED_SOURCE)


def _tree_nodes_exchange_views(nodes, idx):
    """For the BNL at nodes[idx], return its DIRECT broadcast-side
    exchange if it is provably constant-size; empty list means the BNL
    broadcasts something unbounded. Only the BNL's direct children are
    examined — exchanges nested deeper belong to joins on the streamed
    side, not to this BNL's build side.

    Constant-size uses the same ancestor-stack dominance rule as
    :func:`lint_forced_broadcasts`: EVERY data-scaling scan inside the
    exchange subtree must have a bounding ancestor (1-row aggregate,
    LIMIT, scalar subquery) on its own path. A bound on a sibling branch
    — e.g. broadcasting ``fact JOIN (1-row agg)`` — does NOT exempt the
    fact scan (r4 advisor finding)."""
    sub = _subtree(nodes, idx)
    if not sub:
        return []
    child_depth = min(d for d, _ in sub)
    for j, (d2, t2) in enumerate(sub):
        if d2 != child_depth:
            continue
        if "BroadcastExchange" not in t2 and "ReusedExchange" not in t2:
            continue
        if "ReusedExchange" in t2:
            return [t2]
        stack: list[tuple[int, bool]] = []  # (depth, is_bounding)
        seen_any = False
        for d3, t3 in sub[j + 1:]:
            if d3 <= d2:
                break
            seen_any = True
            while stack and stack[-1][0] >= d3:
                stack.pop()
            if _is_unbounded_source(t3) and not any(b for _, b in stack):
                return []
            stack.append((d3, any(m in t3 for m in _BOUNDED_IN_BCAST)))
        return [t2] if seen_any else []
    return []


# --- forced-broadcast scale rule -------------------------------------------
# Run against a plan built with spark.sql.autoBroadcastJoinThreshold=-1
# (and the adaptive variant) so that every BroadcastExchange in the plan
# comes from an explicit F.broadcast()/hint — then any broadcast whose
# subtree scans one of the big fact/corpus tables WITHOUT a bounding
# operator (1-row aggregate, LIMIT, literal) is a driver OOM at 100x:
# the hint forces Spark to materialize a table that scales with the data.
FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")


def lint_forced_broadcasts(plan: str) -> list[str]:
    """Offending forced-broadcast descriptions (empty = clean).

    Only meaningful on a hint-only plan (auto-broadcast disabled); on a
    normal plan Catalyst's own size-based broadcasts would false-flag.
    """
    nodes = _tree_nodes(plan)
    bad: list[str] = []
    for idx, (_, txt) in enumerate(nodes):
        if "BroadcastExchange" not in txt:
            continue
        sub = _subtree(nodes, idx)
        # A bounding operator only counts if it DOMINATES the fact scan
        # (is an ancestor on its path inside the broadcast subtree): a
        # LIMIT on an unrelated sibling branch must not exempt an
        # unbounded fact scan elsewhere in the same broadcast.
        facts: set[str] = set()
        stack: list[tuple[int, bool]] = []  # (depth, is_bounding)
        for d, t in sub:
            while stack and stack[-1][0] >= d:
                stack.pop()
            if "Scan" in t or "FileScan" in t:
                hit = [f for f in FACT_TABLES if f in t]
                if hit and not any(b for _, b in stack):
                    facts.update(hit)
            stack.append((d, any(m in t for m in _BOUNDED_IN_BCAST)))
        if facts:
            bad.append(f"forced broadcast scans fact table(s) {sorted(facts)}")
    return bad


def lint_plan(plan: str) -> list[str]:
    """Rule names violated by a physical-plan string (empty = clean).

    ``plan`` must be tree-style explain text (``simple``/``extended``
    mode) — the ``formatted`` mode splits operator attributes away from
    the tree, which defeats the scalar-broadcast shape check. Use
    :func:`lint_df` to lint a DataFrame with the canonical mode.

    Lint the plan taken BEFORE execution, not the final AQE plan
    (``isFinalPlan=true``): there the build side under a
    BroadcastNestedLoopJoin is a ``BroadcastQueryStage``, not a
    ``BroadcastExchange``, so the ``bnl-join`` shape check flags scalar
    broadcasts it accepts before execution: 20 registry workloads at
    sf0.001, ``tpch_q22``, ``bm25_topk`` and ``nb_lang_confusion`` among
    them.
    """
    hits = []
    for rule, pat in RULES:
        if not pat.search(plan):
            continue
        if rule == "bnl-join" and bnl_is_scalar_broadcast(plan):
            continue
        hits.append(rule)
    if global_window_unbounded(plan):
        hits.append("global-window")
    return hits


def lint_df(df) -> list[str]:
    """Lint a DataFrame's physical plan (canonical extended mode)."""
    from .explain import explain_str

    return lint_plan(explain_str(df, "extended"))

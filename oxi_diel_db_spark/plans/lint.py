"""Plan linter: inspect a DataFrame's physical plan for the
antipatterns that sink jobs at 100 TB. The same checklist a reviewer
runs by hand on ``.explain()`` output, as code — usable in CI (fail a
pipeline PR whose plan regressed to a cartesian product) or ad hoc
(``lint(df)`` before launching an expensive job).

Each finding is (code, severity, message). Codes:

* CARTESIAN       — CartesianProduct / BroadcastNestedLoopJoin: the
                    O(n·m) shapes; at scale usually a missing equi-key.
* GLOBAL_WINDOW   — window function with an empty PARTITION BY: every
                    row moves to ONE task (fine over an aggregate
                    relation, fatal over a fact table).
* GLOBAL_SORT     — a final global Sort without a limit: total-order
                    rebalance of the full dataset.
* PY_ROW_UDF      — BatchEvalPython: row-at-a-time Python UDF in the
                    plan; rewrite as built-ins or ArrowEvalPython
                    (pandas_udf).
* UNPUSHED_FILTER — a scan whose DataFilters outnumber its
                    PushedFilters: some predicate is evaluated
                    row-by-row after reading instead of skipping row
                    groups in the parquet reader.
* MANY_EXCHANGES  — shuffle count above threshold: look for a reusable
                    partitioning, bucketing, or broadcast.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from oxi_diel_db_spark.session import conf_scope

Finding = tuple[str, str, str]


def _plans(df: DataFrame) -> tuple[str, str]:
    qe = df._jdf.queryExecution()
    # FileScan metadata lists (DataFilters/PushedFilters) are truncated
    # at maxMetadataStringLength (default 100 chars) with a bare "...",
    # which would corrupt the pushdown audit — widen while rendering.
    with conf_scope(df.sparkSession, {"spark.sql.maxMetadataStringLength": "100000"}):
        return qe.executedPlan().toString(), qe.optimizedPlan().toString()


def lint(df: DataFrame, max_exchanges: int = 6) -> list[Finding]:
    """Return findings on the compiled physical plan (no job is run)."""
    phys, opt = _plans(df)
    out: list[Finding] = []
    if "CartesianProduct" in phys:
        out.append(
            ("CARTESIAN", "error", "CartesianProduct in plan — O(n·m) pair blowup")
        )
    if "BroadcastNestedLoopJoin" in phys:
        out.append(
            (
                "CARTESIAN",
                "warn",
                "BroadcastNestedLoopJoin — non-equi join evaluates every "
                "pair against the broadcast side; band/bucket the condition "
                "if the stream side is large",
            )
        )
    # windowspecdefinition(sortcol ASC ...) with no leading partition
    # exprs: the optimized plan prints partition columns BEFORE the
    # sort spec; a spec that starts with the ordering means none.
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", opt):
        head = m.group(1).split(",", 1)[0]
        if " ASC NULLS" in head or " DESC NULLS" in head:
            out.append(
                (
                    "GLOBAL_WINDOW",
                    "warn",
                    "window with empty PARTITION BY — all rows to one task "
                    f"(spec: {m.group(1)[:80]}…)",
                )
            )
            break
    if re.search(r"\bSort \[[^\]]+\], true", phys) and "TakeOrdered" not in phys:
        out.append(
            (
                "GLOBAL_SORT",
                "info",
                "global Sort without limit — total-order shuffle of the "
                "full dataset (fine for final ordered output; otherwise drop "
                "the orderBy or use sortWithinPartitions)",
            )
        )
    if "BatchEvalPython" in phys:
        out.append(
            (
                "PY_ROW_UDF",
                "error",
                "row-at-a-time Python UDF (BatchEvalPython) — use built-in "
                "functions or a pandas_udf (ArrowEvalPython)",
            )
        )
    n_exchanges = len(re.findall(r"\bExchange\b", phys)) - phys.count(
        "ReusedExchange"
    )
    if n_exchanges > max_exchanges:
        out.append(
            (
                "MANY_EXCHANGES",
                "info",
                f"{n_exchanges} shuffles in one plan — consider bucketing / "
                "reusing a partitioning / broadcasting small sides",
            )
        )
    # per-scan pushdown audit: every scan prints both the predicates it
    # must evaluate (DataFilters) and the subset the parquet reader got
    # (PushedFilters). A DataFilters entry with no pushed counterpart is
    # a predicate that scans every row group — the shape .explain()
    # review catches by eye. Joins/HAVING filters living ABOVE the scan
    # don't trip this (they're not in any scan's DataFilters).
    for line in phys.splitlines():
        if "FileScan" not in line:
            continue
        d = re.search(r"DataFilters: \[(.*?)\], Format:", line)
        p = re.search(r"PushedFilters: \[(.*?)\], ReadSchema", line)
        if not d or not p or "..." in d.group(1) or "..." in p.group(1):
            continue  # absent or still-truncated lists: can't judge
        n_data = _n_entries(d.group(1))
        n_pushed = _n_entries(p.group(1))
        if n_data > n_pushed:
            out.append(
                (
                    "UNPUSHED_FILTER",
                    "warn",
                    f"scan evaluates {n_data} predicate(s) but pushed only "
                    f"{n_pushed} to parquet — the rest (non-deterministic "
                    "expr, UDF, or unsupported type) can't skip row groups",
                )
            )
            break
    return out


def _n_entries(bracket_body: str) -> int:
    """Count top-level comma-separated entries in a plan-printed list
    (commas inside nested parens/brackets don't split)."""
    s = bracket_body.strip()
    if not s:
        return 0
    depth, n = 0, 1
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            n += 1
    return n


def lint_report(df: DataFrame, max_exchanges: int = 6) -> str:
    """Human-readable lint summary (empty string = clean)."""
    return "\n".join(
        f"[{sev.upper():5s}] {code}: {msg}" for code, sev, msg in lint(df, max_exchanges)
    )


def global_window_input_rows(df: DataFrame) -> list[int | None]:
    """Row counts entering each GLOBAL (unpartitioned) window of an
    ALREADY-EXECUTED DataFrame — the runtime enforcement for the
    GLOBAL_WINDOW triage: 'the window only ever sees a tiny aggregate
    relation' is a claim about the input CARDINALITY, which the static
    linter cannot see (non-CBO size estimates pass fact-table sizes
    straight through aggregates).

    Reads the SQL metrics off the executed plan (AQE-final): a global
    window always sits above a SinglePartition exchange, whose
    shuffleRecordsWritten IS the window's input row count. Returns one
    entry per global window, None when no row metric is found (e.g. the
    DataFrame was never executed). Call AFTER a real action on ``df``
    (collect/write — count() builds a different plan)."""

    def unwrap(p):
        while True:
            n = p.getClass().getSimpleName()
            if n == "AdaptiveSparkPlanExec":
                p = p.executedPlan()
            elif n.endswith("QueryStageExec"):
                p = p.plan()
            elif n in ("InputAdapter", "WholeStageCodegenExec"):
                p = p.child()
            elif n == "ReusedExchangeExec":
                p = p.child()
            else:
                return p

    def children(p):
        ch = p.children()
        return [ch.apply(i) for i in range(ch.size())]

    def row_metric(p):
        ms = p.metrics()
        for key in ("shuffleRecordsWritten", "numOutputRows"):
            if ms.contains(key):
                return int(ms.apply(key).value())
        return None

    out: list[int | None] = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = unwrap(stack.pop())
        name = p.getClass().getSimpleName()
        if name in ("WindowExec", "WindowInPandasExec") and p.partitionSpec().isEmpty():
            found = None
            sub = children(p)
            while sub:
                c = unwrap(sub.pop())
                m = row_metric(c)
                if m is not None:
                    found = m
                    break
                sub.extend(children(c))
            out.append(found)
        stack.extend(children(p))
    return out

"""Plan auditing: read a DataFrame's physical plan as data, gate on it.

The Spark-native analog of the reference's node-visit-count test
discipline (SURVEY §5 — the engine tests assert how many times each node
cycles; here the currency is exchanges, joins, and scans). The repo's
plan-gate tests (tests/test_plan_quality.py) pin these shapes per query;
this module makes the same checks a first-class user surface: inspect a
plan before committing it to a 100 TB run, or assert its shape in CI.

No reference counterpart by design — the reference hand-schedules its
graph, so its plans are its wiring; under Catalyst the plan is derived,
which is exactly why auditing it is worth a library function.
"""

from __future__ import annotations

import re
from typing import Sequence


def _plan_string(df_or_stream) -> str:
    df = getattr(df_or_stream, "df", df_or_stream)
    return df._jdf.queryExecution().executedPlan().toString()


#: the aggregate collections (and the maps built from them) that must
#: not appear inside a lambda body: a lambda is not subject to
#: subexpression elimination, so each one is rebuilt per lambda call
_COLLECTIONS = (
    "collect_list(", "collect_set(", "map_from_entries(", "map_from_arrays(",
)


def _lambda_bodies(plan: str) -> list[str]:
    """The text inside every ``lambdafunction(...)`` of a plan string,
    nested lambdas included (each once, and inside its parent)."""
    bodies = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth = 1
        for i in range(m.end(), len(plan)):
            if plan[i] == "(":
                depth += 1
            elif plan[i] == ")":
                depth -= 1
                if depth == 0:
                    bodies.append(plan[m.end():i])
                    break
    return bodies


def _lambda_collections(df_or_stream) -> int:
    """How many lambda bodies in the OPTIMIZED plan hold a collection
    (:data:`_COLLECTIONS`). Catalyst inlines an aggregate's result into
    the projections above it, so a one-row model that collects a list or
    map and then reads it inside ``transform`` rebuilds it once per array
    slot (the DSIR λ row's old map densify: O(n_buckets × buckets seen)
    in one task). The executed plan prints the aggregate's output
    attribute instead, so only the optimized plan shows this."""
    df = getattr(df_or_stream, "df", df_or_stream)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(
        any(c in body for c in _COLLECTIONS) for body in _lambda_bodies(plan)
    )


def plan_summary(df_or_stream) -> dict:
    """The physical plan reduced to the numbers that matter at scale:

    - ``exchanges`` — shuffles (minus shuffle reuse); every one is a
      full network pass over its input,
    - ``broadcast_joins`` / ``sort_merge_joins`` / ``nested_loop_joins``
      / ``cartesian_products`` — the join strategies Catalyst chose,
    - ``scans`` — leaf file scans, with per-scan ``pushed_filters`` and
      ``read_schema`` (a scan reading all columns for a 2-column
      projection is wrong),
    - ``python_stages`` — Arrow/pandas evaluation nodes (the slow path:
      keep them off hot queries),
    - ``codegen_spans`` — whole-stage codegen regions (wider is better),
    - ``lambda_collections`` — lambda bodies that rebuild a collected
      list or map per call (:func:`_lambda_collections`; keep it at 0).

    Accepts a DataFrame or a Stream."""
    plan = _plan_string(df_or_stream)
    reused = plan.count("ReusedExchange")
    scans = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        scans.append({"pushed_filters": m.group(1)})
    read_schemas = re.findall(r"ReadSchema: ([^\n]+)", plan)
    for i, rs in enumerate(read_schemas):
        if i < len(scans):
            scans[i]["read_schema"] = rs.strip()
        else:
            scans.append({"read_schema": rs.strip()})
    return {
        # \bExchange\b does not match inside ReusedExchange (no word
        # boundary after the 'd'), so this counts real shuffles only
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "reused_exchanges": reused,
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "nested_loop_joins": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cartesian_products": len(re.findall(r"CartesianProduct", plan)),
        "scans": scans,
        "n_scans": len(re.findall(r"Scan parquet|FileScan|Scan ExistingRDD|Scan csv|Scan text", plan)),
        "python_stages": len(re.findall(
            r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas", plan)),
        # pre-execution AQE plans carry no codegen markers (the final
        # plan does — run an action first for a meaningful count); both
        # the "WholeStageCodegen" nodes and the "*(n)" prefixes count
        "codegen_spans": len(
            set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
            | set(re.findall(r"\*\((\d+)\)", plan))
        ),
        "lambda_collections": _lambda_collections(df_or_stream),
    }


def assert_plan(
    df_or_stream,
    max_exchanges: int | None = None,
    max_python_stages: int | None = None,
    forbid: Sequence[str] = ("CartesianProduct",),
    require: Sequence[str] = (),
) -> dict:
    """Gate a plan's shape; raises ``AssertionError`` naming the violated
    bound with the offending plan attached. ``forbid``/``require`` match
    raw physical-operator names (e.g. ``"SortMergeJoin"``,
    ``"BroadcastHashJoin"``). Returns the summary for further checks."""
    plan = _plan_string(df_or_stream)
    s = plan_summary(df_or_stream)
    problems = []
    if max_exchanges is not None and s["exchanges"] > max_exchanges:
        problems.append(f"{s['exchanges']} exchanges > max {max_exchanges}")
    if max_python_stages is not None and s["python_stages"] > max_python_stages:
        problems.append(
            f"{s['python_stages']} python stages > max {max_python_stages}")
    for op in forbid:
        if op in plan:
            problems.append(f"forbidden operator {op} present")
    for op in require:
        if op not in plan:
            problems.append(f"required operator {op} absent")
    if problems:
        raise AssertionError(
            "plan gate failed: " + "; ".join(problems) + "\n---\n" + plan
        )
    return s

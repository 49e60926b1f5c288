"""Parse Spark's formatted/physical explain output into checkable facts.

The reference's only plan tooling was an EXPLAIN ANALYZE debug hook
(faexport_db/db.py:56,66-74); here plan quality is a tested contract.
Works on the pre-execution plan (no job runs), AQE plans included.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm  # type: ignore[attr-defined]
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Every ``PushedFilters: [...]`` list in the plan, one string per
    scan (empty lists included — callers can assert a scan pushed
    SOMETHING)."""
    plan = formatted_plan(df)
    return [m.group(1).strip() for m in re.finditer(r"PushedFilters: \[(.*?)\]", plan)]


def read_schemas(df: DataFrame) -> list[str]:
    """The ``ReadSchema`` struct of every file scan — the columns that
    actually leave the parquet reader (column pruning evidence)."""
    plan = formatted_plan(df)
    return [m.group(1).strip() for m in re.finditer(r"ReadSchema: (.*)", plan)]


def join_strategies(df: DataFrame) -> dict[str, int]:
    plan = _physical_plan(df)
    return {
        name: len(re.findall(name, plan))
        for name in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        )
    }


def shuffle_count(df: DataFrame) -> int:
    """PLANNER-INSERTED hash/range-partitioning exchanges
    (ENSURE_REQUIREMENTS) — the ceilings' scale signal: an exchange the
    planner had to add moves the operator's full input at any scale.
    Excluded: broadcast exchanges (the cheap kind), reused exchanges
    (don't re-run), and explicit ``fan_out``/repartition spreads
    (REPARTITION_BY_NUM/_BY_COL) — those exist ONLY while the input
    scans narrower than the cluster and vanish at real scale (the
    width probe no-ops on wide inputs). Round-robin fan-outs never
    matched this counter's pattern either, so ceilings are unchanged
    by the r09 switch to hash-keyed fan-outs."""
    plan = _physical_plan(df)
    # ReusedExchange nodes print without a partitioning spec, so the
    # pattern naturally counts only exchanges that actually run.
    return len(
        re.findall(
            r"Exchange (?:hash|range)partitioning[^\n]*ENSURE_REQUIREMENTS", plan
        )
    )


def codegen_span_count(df: DataFrame) -> int:
    """Distinct WholeStageCodegen spans — wider/fewer is better."""
    plan = _physical_plan(df)
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def python_eval_count(df: DataFrame) -> int:
    """Python-evaluation operators in the plan (ArrowEvalPython,
    FlatMapGroupsInPandas, MapInPandas, BatchEvalPython)."""
    plan = _physical_plan(df)
    return len(re.findall(r"EvalPython|InPandas", plan))


def assert_plan(
    df: DataFrame,
    *,
    requires_pushed_filter: str | None = None,
    max_read_columns: int | None = None,
    max_shuffles: int | None = None,
    forbid_join: tuple[str, ...] = (),
    require_join: tuple[str, ...] = (),
    max_python_evals: int | None = None,
) -> None:
    """Raise AssertionError (with the offending plan) if the physical
    plan violates any stated bound."""
    problems: list[str] = []
    if requires_pushed_filter is not None:
        filters = pushed_filters(df)
        # Catalyst infers IsNotNull(col) from any null-intolerant use of
        # col, a join key included, so it proves no predicate arrived.
        pushed = [
            f
            for scan in filters
            for f in re.split(r", (?=\w+\()", scan)
            if not f.startswith("IsNotNull(")
        ]
        if not any(requires_pushed_filter in f for f in pushed):
            problems.append(
                f"no scan pushed a filter on {requires_pushed_filter!r}; PushedFilters={filters}"
            )
    if max_read_columns is not None:
        for schema in read_schemas(df):
            ncols = schema.count(":")
            if ncols > max_read_columns:
                problems.append(f"scan reads {ncols} columns (> {max_read_columns}): {schema}")
    if max_shuffles is not None:
        n = shuffle_count(df)
        if n > max_shuffles:
            problems.append(f"{n} shuffles (> {max_shuffles})")
    strategies = join_strategies(df)
    for name in forbid_join:
        if strategies.get(name, 0):
            problems.append(f"forbidden join strategy {name} present")
    for name in require_join:
        if not strategies.get(name, 0):
            problems.append(f"required join strategy {name} absent ({strategies})")
    if max_python_evals is not None:
        n = python_eval_count(df)
        if n > max_python_evals:
            problems.append(f"{n} Python eval operators (> {max_python_evals})")
    if problems:
        raise AssertionError(
            "plan audit failed:\n- " + "\n- ".join(problems) + "\n\n" + _physical_plan(df)
        )

"""Plan introspection helpers — the engine's own feedback loop for the
100TB posture: assert that filters/projections reached the parquet scan and
that small-side joins broadcast, instead of hoping."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filters(df: DataFrame) -> bool:
    """True if the physical plan shows parquet-level PushedFilters."""
    plan = formatted_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def scan_read_schema(df: DataFrame) -> list[str]:
    """Columns actually read from the scan (column pruning check)."""
    plan = formatted_plan(df)
    out: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            for field in inner.split(","):
                if ":" in field:
                    out.append(field.split(":", 1)[0])
    return out


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def shuffle_count(df: DataFrame) -> int:
    return formatted_plan(df).count("Exchange")


def single_partition_exchanges(df: DataFrame) -> list[str]:
    """Lines of the executed plan that move data to a single partition —
    the canonical scale-killer (a full-table global sort/window). Global
    LIMIT/TakeOrdered collection points are excluded: their single
    partition receives only the already-reduced top-k."""
    plan = executed_plan(df)
    hits = []
    for line in plan.splitlines():
        if "Exchange SinglePartition" not in line:
            continue
        hits.append(line.strip()[:160])
    return hits


_TOKENIZER_CALL = re.compile(r"(?<!\w)(?:split|regexp_extract_all)\(")


def lambda_tokenizer_calls(df: DataFrame) -> int:
    """Tokenizer calls (``split(``, ``regexp_extract_all(``) that sit inside
    a ``lambdafunction(...)`` body of the optimized plan. Each one runs
    once per array element, so a document tokenized inside a per-window
    lambda costs O(tokens^2) per row; a linear text kernel keeps this at 0
    after every Catalyst rewrite (filter pushdown, projection collapse).
    Bodies are delimited by bracket depth, so a string literal with an
    unbalanced parenthesis inside a lambda can misplace its end."""
    # verbose tree with no field cap, so long projection lists stay whole
    plan = df._jdf.queryExecution().optimizedPlan().treeString(
        True, False, 2**31 - 1, False, False
    )
    bodies = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth = 0
        for end in range(m.end() - 1, len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        bodies.append((m.start(), end))
    return sum(
        any(a < m.start() < b for a, b in bodies)
        for m in _TOKENIZER_CALL.finditer(plan)
    )

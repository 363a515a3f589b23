"""Inspect executed plans for the scale properties the engine promises:

- broadcast joins actually broadcast (BroadcastHashJoin nodes)
- filters/projections reach the parquet scan (PushedFilters / ReadSchema)
- the extraction pipeline has exactly one exchange before the Python stage
- whole-stage codegen spans cover the JVM-side expressions

Used by tests and by BENCH reporting; on a real cluster these are the
queries' pre-flight checks.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# every Python plan node: MapInPandas, MapInArrow, FlatMapGroupsInPandas,
# ArrowEvalPython, BatchEvalPython, Python UDTFs (perfbench's event-log
# parser counts the same nodes)
PYTHON_NODE = re.compile(r"InPandas|InArrow|EvalPython|PythonUDTF|PythonMapIn")


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    qe = df._jdf.queryExecution()
    try:
        jvm = df.sparkSession._jvm  # type: ignore[attr-defined]
        return jvm.PythonSQLUtils.explainString(qe, mode)
    except AttributeError:
        # some session states don't expose the JVM bridge; fall back to
        # the plain plan string (enough for the report's regexes)
        return qe.toString()


def plan_report(df: DataFrame) -> dict:
    plan = explain_str(df, "formatted")
    simple = explain_str(df, "simple")
    return {
        "exchanges": len(re.findall(r"\bExchange\b", simple)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", simple)),
        "sortmerge_joins": len(re.findall(r"SortMergeJoin", simple)),
        "python_stages": len(PYTHON_NODE.findall(simple)),
        "codegen_spans": len(
            set(re.findall(r"codegen id : (\d+)", plan))
        )
        or len(set(re.findall(r"\*\((\d+)\)", simple))),
        "pushed_filters": re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
        "read_schema": re.findall(r"ReadSchema: ([^\n]*)", plan),
    }

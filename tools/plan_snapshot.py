"""Snapshot the optimized logical plan of every driver entry.

Builds ``entry()`` and every ``queries()`` entry of the checkout this
script is in against one scale-factor directory, and writes
``{name: plan}`` as JSON. Each plan is Catalyst's optimized logical
plan with expression IDs (``#123``) replaced by ``#`` and the names of
Python functions (the UDFs of ``mapInPandas``, ``mapInArrow``, pandas
UDFs and the like) replaced by ``<py>``, so two builds of the same plan
compare equal across sessions and across a renamed helper. An entry
whose DataFrame could not be built is recorded as ``ERROR: <type>``.

    python tools/plan_snapshot.py SF_DIR OUT.json [--against OTHER.json]

With ``--against`` it prints the names of the entries whose plans differ
from (or are missing in) the other snapshot, one a line, and a last line
``compared N, differ M``. The session is ``session.get_spark`` of this
checkout with ``local[4]``, so two checkouts compare by running each
one's copy of this script from its root.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_EXPR_ID = re.compile(r"#\d+L?")
_PY_UDF = "org.apache.spark.sql.catalyst.expressions.PythonUDF"


def _udf_names(node, out: set) -> None:
    """Collect the ``name`` of every PythonUDF in a plan's JSON tree."""
    if isinstance(node, dict):
        if node.get("class") == _PY_UDF and isinstance(node.get("name"), str):
            out.add(node["name"])
        for v in node.values():
            _udf_names(v, out)
    elif isinstance(node, list):
        for v in node:
            _udf_names(v, out)


def normalized_plan(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan()
    text = plan.toString()
    names: set = set()
    _udf_names(json.loads(plan.toJSON()), names)
    for name in sorted(names, key=len, reverse=True):
        text = re.sub(rf"(?<![\w.]){re.escape(name)}\(", "<py>(", text)
    return _EXPR_ID.sub("#", text)


def snapshot(spark, sf_dir: str) -> dict:
    import __spark_entry__ as E

    builders = {"entry": lambda s, _d: E.entry(s)}
    builders.update(E.queries())
    plans = {}
    for name, build in builders.items():
        try:
            plans[name] = normalized_plan(build(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 - recorded, not fatal
            plans[name] = f"ERROR: {type(e).__name__}"
        print(name, file=sys.stderr, flush=True)
    return plans


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out")
    ap.add_argument("--against", help="a snapshot to compare with")
    args = ap.parse_args()
    sf_dir = os.path.abspath(args.sf_dir)
    out = os.path.abspath(args.out)

    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    from delphi_pdf_parser_spark.session import get_spark

    spark = get_spark("plan_snapshot", master="local[4]", shuffle_partitions=8)
    plans = snapshot(spark, sf_dir)
    spark.stop()
    with open(out, "w") as f:
        json.dump(plans, f, indent=1, sort_keys=True)
    if args.against:
        with open(args.against) as f:
            other = json.load(f)
        differ = [n for n in sorted(plans) if other.get(n) != plans[n]]
        differ += [n for n in sorted(other) if n not in plans]
        for n in differ:
            print(n)
        print(f"compared {len(plans)}, differ {len(differ)}")


if __name__ == "__main__":
    main()

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
        [--rows NAME[,NAME...]]

``--rows`` also collects each named entry and records the SHA-256 of its
rows (each row's ``repr``, sorted, one a line), so a refactor can show
that it returns the same rows, not only the same plan. The output is
``{"plans": {name: plan}, "rows": {name: digest}}``.

With ``--against`` it prints the entries whose plans differ from (or
are missing in) the other snapshot, then those whose row digests
differ, one a line, and a last line
``compared N, differ M; rows compared R, differ S``. The session is ``session.get_spark`` of this
checkout with ``local[4]``, so two checkouts compare by running each
one's copy of this script from its root.
"""

from __future__ import annotations

import argparse
import hashlib
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


def rows_digest(df) -> str:
    lines = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def snapshot(spark, sf_dir: str, rows: set) -> dict:
    import __spark_entry__ as E

    builders = {"entry": lambda s, _d: E.entry(s)}
    builders.update(E.queries())
    unknown = rows - set(builders)
    if unknown:
        raise SystemExit(f"--rows: no such entry: {', '.join(sorted(unknown))}")
    out = {"plans": {}, "rows": {}}
    for name, build in builders.items():
        try:
            df = build(spark, sf_dir)
            out["plans"][name] = normalized_plan(df)
            if name in rows:
                out["rows"][name] = rows_digest(df)
        except Exception as e:  # noqa: BLE001 - recorded, not fatal
            out["plans"][name] = f"ERROR: {type(e).__name__}"
        print(name, file=sys.stderr, flush=True)
    return out


def _differ(mine: dict, other: dict) -> list:
    names = [n for n in sorted(mine) if other.get(n) != mine[n]]
    return names + [n for n in sorted(other) if n not in mine]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out")
    ap.add_argument("--against", help="a snapshot to compare with")
    ap.add_argument(
        "--rows", default="", help="comma-separated entries whose rows to hash"
    )
    args = ap.parse_args()
    rows = {n for n in args.rows.split(",") if n}
    sf_dir = os.path.abspath(args.sf_dir)
    out = os.path.abspath(args.out)

    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    from delphi_pdf_parser_spark.session import get_spark

    spark = get_spark("plan_snapshot", master="local[4]", shuffle_partitions=8)
    snap = snapshot(spark, sf_dir, rows)
    spark.stop()
    with open(out, "w") as f:
        json.dump(snap, f, indent=1, sort_keys=True)
    if args.against:
        with open(args.against) as f:
            other = json.load(f)
        plans = _differ(snap["plans"], other["plans"])
        digests = _differ(snap["rows"], other["rows"])
        for n in plans:
            print(n)
        for n in digests:
            print(f"rows: {n}")
        print(
            f"compared {len(snap['plans'])}, differ {len(plans)}; "
            f"rows compared {len(snap['rows'])}, differ {len(digests)}"
        )


if __name__ == "__main__":
    main()

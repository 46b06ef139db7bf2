"""Dump .explain("formatted") for benched queries to plans/<tag>/<name>_<suffix>.txt.

Usage: python tools/dump_plans.py <tag> <suffix> [name ...]
  tag     e.g. r13  -> writes under plans/r13/
  suffix  e.g. before | after
  names   query names; default = bench.py HEADLINE + SHOWCASE

The optimization-round judge checks plan claims against these files
(OPTIMIZATION_r13.md); regenerate the _after files whenever a benched
query's body changes.

Each file holds the optimized logical plan, then the formatted physical
plan, with expression ids (``#123``, ``#45L``) and exchange plan ids
stripped: two builds of the same query then diff to structural changes
only (``diff plans/<tag>/<name>_before.txt plans/<tag>/<name>_after.txt``).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_RUN_IDS = re.compile(r"#\d+L?|(?<=\[plan_id=)\d+(?=\])")


def strip_ids(plan: str) -> str:
    """A plan string without its per-run expression and exchange ids."""
    return _RUN_IDS.sub("", plan)


def plan_text(df) -> str:
    """Optimized logical plan + formatted physical plan, ids stripped."""
    qe = df._jdf.queryExecution()
    formatted = df.sparkSession._jvm.PythonSQLUtils.explainString(qe, "formatted")
    return strip_ids(
        f"== Optimized Logical Plan ==\n{qe.optimizedPlan().toString()}\n{formatted}"
    )


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    if not names:
        import bench

        names = bench.HEADLINE + bench.SHOWCASE
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    from spark_multiboost_spark.registry import queries
    from spark_multiboost_spark.session import get_spark, warm_cache

    spark = get_spark("smb-dump-plans")
    warm_cache(spark, SF_DIR)
    qs = queries()
    for name in names:
        spark.sparkContext.setJobDescription(f"dump_plans: {name}")
        try:
            plan = plan_text(qs[name](spark, SF_DIR))
        except Exception as e:  # noqa: BLE001 - record the failure in the file
            plan = f"ERROR building/explaining {name}: {e}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} ({suffix}, {SF_DIR})\n")
            f.write(plan)
        print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

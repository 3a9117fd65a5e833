"""Dump `.explain("formatted")` for named registry queries to
plans/<tag>/<query>_<suffix>.txt — the before/after plan artifacts the
optimization rounds commit (judge checks plan claims against these).

Expression ids (``#123``), ``plan_id=123`` tags, RDD ids
(``MapPartitionsRDD[123]``, from checkpointed relations) and lambda
variable counters (``lambda x_12#…``) are normalised before writing:
they count up per session, so two checkouts' dumps of the same plan
then diff byte for byte.

Usage: python tools/dump_plans.py <tag> <suffix> <query> [query...]
e.g.   python tools/dump_plans.py r10 before label_propagation_communities
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalise(plan: str) -> str:
    """Replace the per-session counters in a plan string with ``N``."""
    for pattern, repl in (
        (r"(lambda \w+?)_\d+#", r"\1_N#"),
        (r"#\d+", "#N"),
        (r"plan_id=\d+", "plan_id=N"),
        (r"RDD\[\d+\]", "RDD[N]"),
    ):
        plan = re.sub(pattern, repl, plan)
    return plan


def main() -> int:
    from scotustician_spark.plans import QUERY_REGISTRY
    from scotustician_spark.session import get_spark

    tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", "200")
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = QUERY_REGISTRY[name].fn(spark, SF_DIR)
        plan = normalise(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    return 0


if __name__ == "__main__":
    sys.exit(main())

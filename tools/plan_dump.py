"""Dump .explain("formatted") for catalog queries to plans/<tag>/.

Usage: python tools/plan_dump.py <tag> <suffix> <query> [query ...]
Writes plans/<tag>/<query>_<suffix>.txt for each query.
The dumped plans are not executed, but building a query is eager (see
``catalog/registry.py``): a query with a barrier or driver collect in
its function runs those jobs while it is built.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]

    from traits_data_spark import catalog
    from traits_data_spark.session import get_spark

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = catalog.QUERIES[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_ex = plan.count("Exchange")
        n_scan = plan.count("Scan parquet")
        n_bhj = plan.count("BroadcastHashJoin")
        n_smj = plan.count("SortMergeJoin")
        print(
            f"{name}: {len(plan)} chars, Exchange={n_ex}, "
            f"Scan={n_scan}, BHJ={n_bhj}, SMJ={n_smj} -> {path}"
        )
    spark.stop()


if __name__ == "__main__":
    main()

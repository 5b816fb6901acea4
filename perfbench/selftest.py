"""Self-test of the benchmark's full-materialization guard.

    python3 perfbench/selftest.py

On a small generated corpus it checks that:

1. the guard passes on the plans the dedup workload collects: their
   executed plans still hold the md5 and regexp_replace expressions;
2. the guard fails on the plan that ``.count()`` would time, where
   column pruning leaves ``Project []`` over the scan, so the guard can
   tell the two apart;
3. the ``noop`` sink keeps the work too: the physical plan Spark
   records for a ``noop`` write of ``normalize_text`` holds both
   expressions.

Exits 0 when all three hold, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def last_sql_plan(spark) -> str:
    """Physical plan text of the most recent SQL execution, as Spark's
    status store recorded it (the plan the write actually ran)."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.last().physicalPlanDescription()


def main() -> int:
    import run

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run.configure_env(work, None)
        sys.path.insert(0, ROOT)
        import gen
        import workloads
        from rag_system_vector_db_spark.operators import dedup, text_analysis
        from rag_system_vector_db_spark.session import get_spark
        from rag_system_vector_db_spark.sources.jsonl import read_jsonl_docs

        spark = get_spark("perfbench-selftest", cpus=run.CPUS)
        try:
            nd = gen.near_dups(work, 0)
            docs, _ = read_jsonl_docs(spark, nd["path"])
            norm = text_analysis.normalize_text(docs)
            exact = dedup.dedup_exact(norm, text_col="norm_hash")
            plans = {
                "exact": exact,
                "minhash_lsh": dedup.dedup_minhash_lsh(docs, max_bucket=workloads.LSH_MAX_BUCKET),
                "jaccard": dedup.dedup_ngram_jaccard(docs, threshold=workloads.JACCARD_T),
            }
            problems = []
            for df in plans.values():
                df.collect()
            found = workloads.guard_plans(plans)
            if found:
                problems.append(f"guard failed on the collected plans: {found}")
            pruned = workloads.guard_plans({"exact": exact.groupBy().count()})
            if len(pruned) != 2:
                problems.append(f"guard missed the pruned count() plan: {pruned}")
            workloads.materialize(norm)
            plan = last_sql_plan(spark)
            for expr in ("md5(", "regexp_replace("):
                if expr not in plan:
                    problems.append(f"noop write plan lost {expr}")
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

"""Classify every registry query as kernel or relational.

    python3 perfbench/classify.py

Runs each registry query once on seeded sf 0.01 inputs, from an empty
engine state (tracked persists released, value memos and Spark's cache
cleared), and prints the two tuples that ``split.py`` pins.  A query is a
kernel query when its executed plan, cached sub-plans included, holds a
Python-worker operator, or when it served or built a disk artifact.
Run it when the registry changes, and review the diff before pinning it.
"""

from __future__ import annotations

import re
import sys

import run as bench_run

import datagen

_PYTHON_OPERATORS = re.compile(
    r"MapInArrow|MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"
    r"|FlatMapGroupsInArrow|FlatMapCoGroupsInArrow|ArrowEvalPython|BatchEvalPython"
)


def classify(spark, sf_dir: str) -> dict[str, bool]:
    from transitdata_omm_cancellation_source_spark import artifacts, caching
    from transitdata_omm_cancellation_source_spark.plans import queries as registry

    kernel = {}
    for name in registry.queries():
        caching.release_tracked()
        caching.clear_value_memos()
        spark.catalog.clearCache()
        mark = len(artifacts.SERVE_EVENTS)
        df = registry.REGISTRY[name].build(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        # the plan's tree string includes InMemoryRelation's cached plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        kernel[name] = bool(_PYTHON_OPERATORS.search(plan)) or (
            len(artifacts.SERVE_EVENTS) > mark
        )
    return kernel


def main() -> int:
    run = bench_run.Run("classify", 0, traced=False)
    spark = None
    try:
        run.environment()
        datagen.generate(run.data_dir, 0, 0.01)
        spark = run.start_session()
        kernel = classify(spark, run.data_dir)
    finally:
        if spark is not None:
            run.stop(spark)
        run.cleanup()
    for title, flag in (("KERNELS", True), ("RELATIONAL", False)):
        names = sorted(n for n, k in kernel.items() if k == flag)
        print(f"{title}: tuple[str, ...] = (  # {len(names)}")
        for n in names:
            print(f'    "{n}",')
        print(")")
    return 0


if __name__ == "__main__":
    sys.exit(main())

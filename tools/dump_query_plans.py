"""Dump .explain('formatted') for named queries into a directory:

    python tools/dump_query_plans.py <outdir> <suffix> query [query ...]

Writes ``<outdir>/<query>_<suffix>.txt`` per query. For a before/after
plan comparison, run it once from the old tree (suffix=before) and once
from the new one (suffix=after), then diff the pairs. sf0.001 keeps
builder execution (the chain rows materialize checkpoints at build
time) cheap; plan SHAPES are scale-independent.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    from brazilian_e_commerce_data_pipeline_analytics_spark.catalog import DEFAULT_SF_DIR
    from brazilian_e_commerce_data_pipeline_analytics_spark.plans.explain import formatted_plan
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import spark_queries
    from brazilian_e_commerce_data_pipeline_analytics_spark.session import get_spark

    # the sf0.001 tables next to the engine's default ones
    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    spark = get_spark(app_name="dump-query-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = spark_queries()
    for name in names:
        spark.catalog.clearCache()
        try:
            plan = formatted_plan(qs[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — record instead of abort
            plan = f"PLAN DUMP FAILED: {exc!r}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(plan + "\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()

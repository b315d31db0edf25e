"""Profile cqi_score_ways at sf0.1: Catalyst analysis time vs execution time,
and whether codegen falls back.  Usage: python tools/profile_cqi.py [sf_dir]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from osm_cycling_quality_index_spark.plans.cqi_query import q_cqi_score_ways
    from osm_cycling_quality_index_spark.session import get_spark

    spark = get_spark(app_name="cqi-prof")
    spark.range(1000).count()

    t0 = time.time()
    df = q_cqi_score_ways(spark, sf_dir)
    t1 = time.time()
    print(f"## build: {t1 - t0:.2f}s", flush=True)
    df._jdf.queryExecution().executedPlan()
    t2 = time.time()
    print(f"## plan:  {t2 - t1:.2f}s", flush=True)
    df.write.format("noop").mode("overwrite").save()
    t3 = time.time()
    print(f"## exec1: {t3 - t2:.2f}s", flush=True)
    df2 = q_cqi_score_ways(spark, sf_dir)
    t4 = time.time()
    df2.write.format("noop").mode("overwrite").save()
    print(f"## run2(total): {time.time() - t4:.2f}s", flush=True)
    # how many rows / what throughput
    n = df.count()
    print(f"## rows: {n}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python3
"""Time registered queries exactly the way bench.py does (fresh session,
warm lineitem + heavy warmup, then per query: 1 warmup + N timed cold
runs of construction+noop). Prints one JSON line with min/median per
query, and the min of its construction and of its execution apart.
Intended to be run in a FRESH interpreter per invocation so A/B
comparisons interleave old/new code without JIT/warm-cache bleed:

    PYTHONPATH=/tmp/r15_old  python tools/time_queries.py q1 q2   # side A
    PYTHONPATH=/root/repo    python tools/time_queries.py q1 q2   # side B

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_RUNS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

# first PYTHONPATH entry only (ADVICE r15): a multi-entry value would
# otherwise be inserted as one bogus path, silently falling back to an
# ambient import while the printed 'src' misattributes the timed side
_pp = (os.environ.get("PYTHONPATH") or "").split(os.pathsep)[0]
REPO = _pp or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: time_queries.py <query> [...]", file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_RUNS", "3"))

    from soccer_data_pipeline_spark.plans import QUERIES
    from soccer_data_pipeline_spark.session import get_spark
    from soccer_data_pipeline_spark.operators.cache import release_session_blocks

    spark = get_spark(
        app_name="time_queries",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "2m",
            "spark.sql.files.openCostInBytes": "262144",
        },
    )
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    heavy = QUERIES.get("flagship_top_customers")
    if heavy is not None:
        heavy.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    release_session_blocks(spark, gc=True)

    out: dict[str, dict] = {}
    for name in names:
        spec = QUERIES[name]
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_session_blocks(spark, gc=True)
        samples, construct, execute = [], [], []
        for _ in range(n_runs):
            release_session_blocks(spark)
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            samples.append(t2 - t0)
            construct.append(t1 - t0)
            execute.append(t2 - t1)
            release_session_blocks(spark, gc=True)
        samples.sort()
        out[name] = {
            "min": round(samples[0], 3),
            "med": round(samples[len(samples) // 2], 3),
            "all": [round(s, 3) for s in samples],
            # the two layers of a run: query body (planning plus its
            # eager jobs) and the noop write of the returned plan
            "construct_min": round(min(construct), 3),
            "execute_min": round(min(execute), 3),
        }
    print(json.dumps({"src": REPO, "sf_dir": sf_dir, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()

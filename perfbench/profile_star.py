#!/usr/bin/env python3
"""Profile every warehouse query of the registry and write the profile the
``star_analytics`` sample is drawn from (``star_profile.json``).

    python3 perfbench/profile_star.py [--warm-passes 3] [--seed 1]

One process, one Spark session on ``local[<cores>]`` over the shipped
sf0.01 tables: a cold pass over the 75 queries, then ``--warm-passes``
warm passes, each in a seeded random order. Per query it records the
median warm latency (construct + noop-sink execution) and the median warm
construction time. Rerun it when the registry's warehouse queries change;
``workloads.star_sample`` then picks the new sample.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import workloads  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--warm-passes", type=int, default=3)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", f"profile-{os.getpid()}")
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    try:
        profile = measure(args, os.path.join(run.DATA, "sf0.01"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(workloads.STAR_PROFILE, "w") as fh:
        json.dump(profile, fh, indent=1, sort_keys=True)
        fh.write("\n")
    sample = workloads.star_sample(profile)
    print(json.dumps({"sample": sample, **workloads.sample_coverage(profile, sample)}))
    return 0


def measure(args, sf_dir: str) -> dict:
    from market_flow_spark.queries_all import QUERIES
    from market_flow_spark.session import get_spark

    names = workloads.warehouse_queries()
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench-profile", cpus=cores)
    rng = random.Random(args.seed)
    times = {n: [] for n in names}
    walls = []
    try:
        for _ in range(args.warm_passes + 1):
            order = list(names)
            rng.shuffle(order)
            t_pass = time.perf_counter()
            for name in order:
                t0 = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                times[name].append((t1 - t0, time.perf_counter() - t0))
            walls.append(time.perf_counter() - t_pass)
            print(f"pass {len(walls) - 1}: {walls[-1]:.1f} s", file=sys.stderr, flush=True)
        spark_version = spark.version
    finally:
        run.stop_spark(spark)
    return {
        "note": "written by perfbench/profile_star.py; seconds on the host below",
        "nproc": cores,
        "mem_total_kb": run.mem_total_kb(),
        "spark": spark_version,
        "inputs": os.path.relpath(sf_dir, ROOT),
        "pass_walls_s": [round(w, 3) for w in walls],
        "queries": {
            n: {
                "cold_s": round(t[0][1], 4),
                "warm_s": round(median(x[1] for x in t[1:]), 4),
                "construct_s": round(median(x[0] for x in t[1:]), 4),
            }
            for n, t in times.items()
        },
    }


if __name__ == "__main__":
    sys.exit(main())

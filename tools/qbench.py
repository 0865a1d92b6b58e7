#!/usr/bin/env python
"""Targeted per-query measurement harness for optimization work.

Mirrors bench.py methodology (warm warehouse, noop sink, clear_caches
between runs) on an arbitrary subset of queries:

    python tools/qbench.py --runs 3 q1 q2 ...          # time queries
    python tools/qbench.py --plan-dir /tmp/plans --suffix before q1 ...
                                                       # dump explain()

Each timed pass runs the queries in a fresh order, shuffled from a
fixed seed (the same orders on every invocation, so two trees compare
like for like) and printed to stderr, so no query is always timed
after the same neighbours. Intended for the inner optimization loop only;
bench.py remains the official artifact producer.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-build", action="store_true",
                    help="assume the warm warehouse already exists")
    ap.add_argument("--cold", action="store_true",
                    help="do not set the warehouse env (cold derivation)")
    ap.add_argument("--profile", action="store_true",
                    help="one run per query + Spark REST job/stage breakdown "
                         "(set SPARK_GRAFT_UI=true)")
    args = ap.parse_args()

    from cs_5542_lab_6_spark.pipeline import corpus
    from cs_5542_lab_6_spark.pipeline.ingest import build_corpus
    from cs_5542_lab_6_spark.plans.inspect import formatted_plan
    from cs_5542_lab_6_spark.registry import all_queries
    from cs_5542_lab_6_spark.session import clear_caches, get_spark

    spark = get_spark(app_name="cs5542-qbench")
    if not args.cold:
        os.environ.setdefault(corpus.WAREHOUSE_ENV, "/tmp/spark_graft_warehouse")
        build_corpus(
            spark, SF_DIR, corpus.warehouse_dir(SF_DIR),
            resume=args.no_build,
        )
        clear_caches(spark)
    queries = all_queries()
    names = [n for n in args.queries if n in queries]
    missing = [n for n in args.queries if n not in queries]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)

    if args.plan_dir:
        os.makedirs(args.plan_dir, exist_ok=True)
        for name in names:
            plan = formatted_plan(queries[name](spark, SF_DIR))
            path = os.path.join(args.plan_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            clear_caches(spark)
            print(f"wrote {path}")
        spark.stop()
        return

    if args.profile:
        import urllib.request

        def rest(path: str):
            base = "http://localhost:4040/api/v1"
            with urllib.request.urlopen(base + path) as r:
                return json.loads(r.read())

        app_id = spark.sparkContext.applicationId
        for name in names:
            before_jobs = {j["jobId"] for j in rest(f"/applications/{app_id}/jobs")}
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            queries[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            wall = time.perf_counter() - t0
            spark.sparkContext.setJobDescription(None)
            clear_caches(spark)
            jobs = [
                j for j in rest(f"/applications/{app_id}/jobs")
                if j["jobId"] not in before_jobs
            ]
            jobs.sort(key=lambda j: j["jobId"])
            print(f"\n=== {name}: wall {wall:.2f}s, {len(jobs)} jobs ===")
            for j in jobs:
                dur = "?"
                if j.get("submissionTime") and j.get("completionTime"):
                    from datetime import datetime

                    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                    t1 = datetime.strptime(j["submissionTime"], fmt)
                    t2 = datetime.strptime(j["completionTime"], fmt)
                    dur = f"{(t2 - t1).total_seconds():.2f}s"
            # stage-level: name, duration, task count
                print(
                    f"  job {j['jobId']:>4} {dur:>8} tasks={j['numTasks']:>4} "
                    f"stages={len(j['stageIds'])} {j.get('description') or j['name'][:80]}"
                )
        spark.stop()
        return

    # interleaved passes, bench.py-style, each in a seeded shuffled order
    all_runs: dict[str, list[float]] = {n: [] for n in names}
    rng = random.Random(0)
    for i in range(args.runs):
        order = rng.sample(names, len(names))
        print(f"pass {i} order: {' '.join(order)}", file=sys.stderr)
        for name in order:
            spark.sparkContext.setJobDescription(f"qbench:{name}")
            t0 = time.perf_counter()
            queries[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            all_runs[name].append(round(time.perf_counter() - t0, 4))
            spark.sparkContext.setJobDescription(None)
            clear_caches(spark)
    out = {
        n: {"min": min(r), "runs": r} for n, r in all_runs.items()
    }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()

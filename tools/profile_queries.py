"""Per-query measurement + plan capture.

For each named query (default: the bench HEADLINE list; ``--all``: every
registered query) this tool
- builds the DataFrame and times the BUILD (driver-side plan
  construction — pure Python/Catalyst-analysis cost),
- times N warm executions through the noop sink (guide §1.4: computes
  every column of every row, no collect/count pruning) AND through the
  bench's own action (count/collect) so numbers stay comparable with
  BENCH_r*.json history,
- counts Spark jobs per execution as the delta of the highest job id
  the status tracker reports (job count ~ scheduling overhead: each
  eager localCheckpoint/broadcast is a job) and prints the per-rep
  counts,
- optionally writes `.explain("formatted")` to DIR/<q>_<TAG>.txt.

A query that raises is recorded as ``{"error": ...}`` and the run moves
on, so ``--all --reps 1`` is the whole-registry outlier sweep (streaming
and sink-writing queries included). The last line lists the failures.

Usage:
  python tools/profile_queries.py [--plans DIR] [--tag TAG] [--reps N]
      [--noop] [--all | query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from orchestrated_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("--tag", default="plan")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("names", nargs="*", metavar="query")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import bench
    import __spark_entry__ as entrymod

    # ad-hoc conf experiments: PROFILE_CONF="k=v;k2=v2"
    extra = {}
    for kv in os.environ.get("PROFILE_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    spark = get_spark("profile_queries", extra_conf=extra or None)
    sc = spark.sparkContext
    qs = entrymod.queries()
    if args.all:
        names = list(qs)
    else:
        names = args.names or [n for n in bench.HEADLINE if n in qs]

    bench.warmup(spark, sf_dir, qs)

    def last_job_id() -> int:
        # Job ids only grow; the tracker keeps a bounded list
        # (spark.ui.retainedJobs), so its length undercounts.
        return max(sc.statusTracker().getJobIdsForGroup(None) or [-1])

    def profile(name: str) -> dict:
        # build cost (driver-side DataFrame construction)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        t_build = time.perf_counter() - t0
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            with open(f"{args.plans}/{name}_{args.tag}.txt", "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        samples = []
        jobs = []
        for _ in range(args.reps):
            j0 = last_job_id()
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect() if name == "flagship" else df.count()
            samples.append(time.perf_counter() - t0)
            jobs.append(last_job_id() - j0)
        samples.sort()
        return {
            "build_s": round(t_build, 3),
            "median_s": round(samples[len(samples) // 2], 3),
            "min_s": round(samples[0], 3),
            "max_s": round(samples[-1], 3),
            "jobs": jobs,
        }

    out = {}
    for name in names:
        sc.setJobDescription(f"profile:{name}")
        try:
            out[name] = profile(name)
        except Exception as ex:  # noqa: BLE001 — record and move on
            out[name] = {"error": str(ex)[:200]}
        print(json.dumps({name: out[name]}), flush=True)
        sc.setJobDescription(None)

    timed = [v["median_s"] for v in out.values() if "median_s" in v]
    print(json.dumps({
        "total_median": round(sum(timed), 3),
        "n": len(out),
        "errors": [k for k, v in out.items() if "error" in v],
    }))


if __name__ == "__main__":
    main()

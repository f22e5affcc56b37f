#!/usr/bin/env python3
"""Per-query optimization profile over the bench.py headline list:

- formatted executed (final adaptive) plan ->
  plans/<tag>/<query>_<suffix>.txt
- structural counts from that plan: exchanges, broadcast-hash and
  sort-merge joins and codegen stages from
  ``perfbench.plancount.count_nodes``; the other operators by name on
  its numbered tree
- runtime structure via the status tracker (jobs / stages / tasks per
  noop-sink execution — the fixed-overhead proxy the wall-clock noise
  hides at sf0.1)
- min-of-N wall clock with the same noop-sink methodology as bench.py

Usage:
  python tools/profile_headline.py --tag r13 --suffix before [--runs 3]
      [--only name1 name2 ...] [--no-plans]

Output: one JSON line per query on stdout + a summary JSON file at
plans/<tag>/profile_<suffix>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.plancount import count_nodes, formatted_plan, tree_section  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# count_nodes key -> reported name.
NODES = {
    "Exchange": "shuffle_exchange",
    "BroadcastExchange": "broadcast_exchange",
    "SortMergeJoin": "sort_merge_join",
    "BroadcastHashJoin": "broadcast_hash_join",
    "WholeStageCodegen": "codegen_spans",
}
# Other operators, counted by name on the numbered-tree lines.
OPS = {
    "shuffled_hash_join": "ShuffledHashJoin",
    "bnl_join": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
    "python_eval": "BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow",
    "sort": "Sort",
    "window": "Window",
    "scans": "Scan parquet|FileScan",
    "in_memory_scan": "InMemoryTableScan",
}


def plan_counts(plan: str) -> dict:
    out = {name: n for key, n in count_nodes(plan).items() if (name := NODES.get(key))}
    tree = tree_section(plan)
    for key, pat in OPS.items():
        out[key] = len(re.findall(rf"^[\s:+\-|]*(?:\*\s*)?(?:{pat})\b", tree, flags=re.M))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()

    from bench import HEADLINE
    from wiki_references_db_spark.queries import all_queries
    from wiki_references_db_spark.session import get_spark

    spark = get_spark(app_name="profile-headline")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    names = args.only or HEADLINE

    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.tag)
    os.makedirs(plans_dir, exist_ok=True)

    tracker = spark.sparkContext.statusTracker()
    results = {}
    for name in names:
        fn = qs[name]
        df = fn(spark, SF_DIR)

        # Warm run (fresh build, like bench's warmup at full SF), on the
        # DataFrame's own query execution so its plan is the final one.
        spark.sparkContext.setJobDescription(f"{name}: warm")
        df._jdf.queryExecution().toRdd().count()
        plan = formatted_plan(df)
        if not args.no_plans:
            with open(os.path.join(plans_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
        counts = plan_counts(plan)

        # Planner-cost proxy: analysis + optimization + physical
        # planning of a FRESH DataFrame (no execution).  The noop save
        # re-plans its own write wrapper, so this does not subtract
        # from the timed run — it bounds how much of the wall is
        # driver-side planning rather than task execution.
        t0 = time.perf_counter()
        df_p = fn(spark, SF_DIR)
        df_p._jdf.queryExecution().executedPlan()
        plan_sec = round(time.perf_counter() - t0, 3)

        best = None
        n_jobs = n_stages = n_tasks = 0
        for i in range(args.runs):
            df_i = fn(spark, SF_DIR)
            group = f"{name}-run{i}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            df_i.write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            spark.sparkContext.setJobGroup(None, None)
            if best is None or dt < best:
                best = dt
            if i == 0:
                job_ids = tracker.getJobIdsForGroup(group)
                n_jobs = len(job_ids)
                stage_ids = set()
                for jid in job_ids:
                    info = tracker.getJobInfo(jid)
                    if info:
                        stage_ids.update(info.stageIds)
                n_stages = len(stage_ids)
                for sid in stage_ids:
                    sinfo = tracker.getStageInfo(sid)
                    if sinfo:
                        n_tasks += sinfo.numTasks
        spark.catalog.clearCache()

        rec = {
            "sec": round(best, 3),
            "plan_sec": plan_sec,
            "jobs": n_jobs,
            "stages": n_stages,
            "tasks": n_tasks,
            **counts,
        }
        results[name] = rec
        print(json.dumps({"query": name, **rec}))

    total = round(sum(r["sec"] for r in results.values()), 3)
    summary = {"sf_dir": SF_DIR, "runs": args.runs, "total_sec": total, "queries": results}
    out_path = os.path.join(plans_dir, f"profile_{args.suffix}.json")
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1)
    print(f"# total {total}s over {len(results)} queries -> {out_path}")


if __name__ == "__main__":
    main()

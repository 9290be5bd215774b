#!/usr/bin/env python
"""Per-query job/stage profile via the Spark UI REST API — the
round-14 evidence tool for the per-job driver-overhead work (VERDICT
r13 items 2 and 7): for each named query, run it once through the
noop sink and report how many JOBS it submitted, how many stages ran,
the sum of stage wall-clock durations, and the gap (wall − stage sum
≈ driver-side planning/scheduling cost the stages never see).

Usage: python scripts/job_profile.py <query> [<query> ...]
Prints one JSON line per query and a trailing summary JSON.
"""
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flight_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def rest(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/{path}") as r:
        return json.load(r)


def parse_ts(s: str) -> float:
    # "2026-08-18T05:10:11.123GMT", or "2026-08-18T05:10:11GMT" when
    # the milliseconds are zero
    from datetime import datetime
    return datetime.fromisoformat(s.replace("GMT", "")).timestamp()


def main():
    names = sys.argv[1:]
    spark = get_spark(app_name="fdps-job-profile")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e
    qs = e.queries()

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    # same warmup family as bench.py so codegen/JIT is paid up front
    for warm in ("scalar_counts", "tokenization_stats",
                 "label_centroid_stats"):
        run(qs[warm](spark, SF_DIR))

    out = {}
    for name in names:
        jobs_before = {j["jobId"] for j in rest(spark, "jobs")}
        stages_before = {(s["stageId"], s["attemptId"])
                         for s in rest(spark, "stages")}
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.time()
        run(qs[name](spark, SF_DIR))
        wall = time.time() - t0
        spark.sparkContext.setJobDescription(None)
        jobs = [j for j in rest(spark, "jobs")
                if j["jobId"] not in jobs_before]
        stages = [s for s in rest(spark, "stages")
                  if (s["stageId"], s["attemptId"]) not in stages_before
                  and s["status"] != "SKIPPED"]
        stage_wall = 0.0
        task_time = 0.0
        untimed = 0
        for s in stages:
            try:
                stage_wall += (parse_ts(s["completionTime"])
                               - parse_ts(s["firstTaskLaunchedTime"]))
            except (KeyError, ValueError):
                untimed += 1
            task_time += s.get("executorRunTime", 0) / 1000.0
        rec = {
            "wall_sec": round(wall, 3),
            "n_jobs": len(jobs),
            "n_stages": len(stages),
            "n_tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "stage_wall_sec": round(stage_wall, 3),
            # stages left out of stage_wall_sec (no or unparseable times)
            "n_stages_untimed": untimed,
            "task_time_sec": round(task_time, 3),
            "driver_gap_sec": round(wall - stage_wall, 3),
        }
        out[name] = rec
        print(json.dumps({name: rec}))
    print(json.dumps({"summary": out}))


if __name__ == "__main__":
    main()

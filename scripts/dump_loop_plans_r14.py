#!/usr/bin/env python
"""Capture ROUND-1 loop-body plans for the iterative operators
(VERDICT r13 item 7): the per-round plans are invisible to
`.explain` on the returned query (each round ends in a
localCheckpoint), so this script runs each named query with
$SPARK_GRAFT_LOOP_PLAN_DIR pointed at plans/r14/loops_<tag>/<query>/
— the operators' dump_loop_plan hook writes the round-1 frame's
formatted plan there before the checkpoint truncates it.

Usage: python scripts/dump_loop_plans_r14.py <tag> <query> [...]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flight_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    tag = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark(app_name="loop-plan-dump-r14")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e
    qs = e.queries()
    for name in names:
        outdir = os.path.join(REPO, "plans", "r14",
                              f"loops_{tag}", name)
        os.environ["SPARK_GRAFT_LOOP_PLAN_DIR"] = outdir
        try:
            # loop bodies only plan during execution — run through the
            # noop sink, same as the bench
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite").save()
        finally:
            # a failing query must not leave its dump dir to the next
            os.environ.pop("SPARK_GRAFT_LOOP_PLAN_DIR", None)
        wrote = sorted(os.listdir(outdir)) if os.path.isdir(outdir) else []
        print(f"{name}: {wrote}")


if __name__ == "__main__":
    main()

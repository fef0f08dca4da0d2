#!/usr/bin/env python
"""Per-stage profile of registry queries (guide §1/§7: find where the time
goes before changing anything).

Runs each named query with the noop sink under a labelled job description,
with Spark event logging on, then parses the event log and prints, per query
run, the stage breakdown: wall duration, task count, executor run time,
shuffle read/write bytes, input bytes, and the first line of the stage's
callsite. Queries run twice (cold/warm) like bench.py; both runs are
attributed.

Usage:
    python tools/profile_query.py q_dedup_end2end q_cross_dedup
    python tools/profile_query.py --sf-dir /root/testdata/sf0.1 q_semdedup
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def parse_event_log(lines: list[str]) -> tuple[dict, dict, dict]:
    """Event-log lines -> (jobs, stages, stage_to_job): jobs by id with
    description and submit/complete times, stages by id with wall, task
    count and summed task metrics, and each stage's owning job."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_to_job: dict[int, int] = {}
    for line in lines:
        # a blank line, or a final line cut off by a killed/still-running
        # application, carries no event: skip it instead of crashing
        if not line.strip():
            continue
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        et = ev.get("Event")
        if et == "SparkListenerJobStart":
            jid = ev["Job ID"]
            desc = (ev.get("Properties") or {}).get("spark.job.description", "")
            jobs[jid] = {"desc": desc, "t0": ev["Submission Time"]}
            for sinfo in ev.get("Stage Infos", []):
                stage_to_job[sinfo["Stage ID"]] = jid
        elif et == "SparkListenerJobEnd":
            jobs.setdefault(ev["Job ID"], {}).update(t1=ev["Completion Time"])
        elif et == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            sub, comp = si.get("Submission Time"), si.get("Completion Time")
            # update, don't replace: TaskEnd aggregation for this stage
            # has already accumulated into the same dict
            stages.setdefault(sid, {}).update(
                name=si.get("Stage Name", ""),
                wall_ms=(comp - sub) if (sub and comp) else None,
                tasks=si.get("Number of Tasks"),
            )
        elif et == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            agg = stages.setdefault(sid, {})
            agg["run_ms"] = agg.get("run_ms", 0) + m.get("Executor Run Time", 0)
            agg["cpu_ms"] = agg.get("cpu_ms", 0) + m.get("Executor CPU Time", 0) // 1_000_000
            srm = m.get("Shuffle Read Metrics") or {}
            agg["sh_read"] = (
                agg.get("sh_read", 0)
                + srm.get("Remote Bytes Read", 0)
                + srm.get("Local Bytes Read", 0)
            )
            agg["fetch_ms"] = agg.get("fetch_ms", 0) + srm.get("Fetch Wait Time", 0)
            swm = m.get("Shuffle Write Metrics") or {}
            agg["sh_write"] = agg.get("sh_write", 0) + swm.get("Shuffle Bytes Written", 0)
            im = m.get("Input Metrics") or {}
            agg["input"] = agg.get("input", 0) + im.get("Bytes Read", 0)
    return jobs, stages, stage_to_job


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--events-dir", default="/tmp/spark-events-profile")
    args = ap.parse_args()

    Path(args.events_dir).mkdir(parents=True, exist_ok=True)
    from dais2021imageprocessingondeltalake_spark import queries_all as q
    from dais2021imageprocessingondeltalake_spark.session import get_spark

    spark = get_spark(
        app_name="profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": args.events_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    app_id = spark.sparkContext.applicationId
    sc = spark.sparkContext

    # warmup mirroring bench.py so JIT noise doesn't pollute attribution
    spark.read.parquet(f"{args.sf_dir}/nation.parquet").count()
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    wall: dict[str, list[float]] = {}
    for name in args.queries:
        spec = q.REGISTRY[name]
        for run in range(args.runs):
            sc.setJobDescription(f"{name}#run{run}")
            t0 = time.perf_counter()
            df = spec.fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall.setdefault(name, []).append(round(time.perf_counter() - t0, 3))
        sc.setJobDescription(None)
    spark.stop()

    # ---- parse the event log ------------------------------------------------
    # Spark 4 writes a rolling-log DIRECTORY (eventlog_v2_<appId>/events_*);
    # older versions write a single file named <appId>.
    log_path = Path(args.events_dir) / app_id
    v2_dir = Path(args.events_dir) / f"eventlog_v2_{app_id}"
    if v2_dir.is_dir():
        lines: list[str] = []
        for f in sorted(v2_dir.glob("events_*")):
            lines.extend(f.read_text().splitlines())
    else:
        lines = log_path.read_text().splitlines()
    jobs, stages, stage_to_job = parse_event_log(lines)

    by_desc: dict[str, list[tuple[int, dict]]] = defaultdict(list)
    for sid, jid in stage_to_job.items():
        if sid in stages and stages[sid].get("wall_ms") is not None:
            by_desc[jobs.get(jid, {}).get("desc", "")].append((sid, stages[sid]))

    for name in args.queries:
        print(f"\n=== {name}  wall per run: {wall.get(name)} s ===")
        for run in range(args.runs):
            desc = f"{name}#run{run}"
            rows = sorted(by_desc.get(desc, []))
            tot = sum(s["wall_ms"] or 0 for _, s in rows)
            print(f"-- run {run}: {len(rows)} stages, sum stage wall {tot/1000:.2f}s")
            for sid, s in rows:
                nm = (s.get("name") or "").split("\n")[0][:80]
                print(
                    f"  stage {sid:4d} {s['wall_ms']:7d}ms tasks={s.get('tasks'):4d} "
                    f"run={s.get('run_ms', 0):7d}ms cpu={s.get('cpu_ms', 0):7d}ms "
                    f"fetch={s.get('fetch_ms', 0):5d}ms "
                    f"shR={s.get('sh_read', 0)/1e6:8.2f}MB shW={s.get('sh_write', 0)/1e6:8.2f}MB "
                    f"in={s.get('input', 0)/1e6:7.2f}MB  {nm}"
                )
    return 0


if __name__ == "__main__":
    sys.exit(main())

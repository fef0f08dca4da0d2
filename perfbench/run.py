#!/usr/bin/env python3
"""Layered benchmark of the engine on seeded inputs.

    python3 perfbench/run.py --workload curate_text --seed 1 --seconds 6 --trace 0

One run, in one process on local[<nproc>]:

1. generate the workload's inputs from --seed (perfbench/gen.py, in a
   child process so its memory is not counted as the engine's);
2. start the Spark session, then run one cold pass of every step;
3. run warm passes until --seconds have been measured, at least two.

Each step is timed from outside: a query step as build (the query
function call, including the eager jobs operators fire while building)
plus execution into the sink (the driver, as Arrow); a call step as the
whole call, which writes its own output. Every step's output is checked
in every pass (see workloads.py) outside the timed parts; DuckDB oracles
run after the Spark session has stopped.

--trace 0 prints the end-to-end metrics:
  setup_s        session start through the end of the cold pass (wall);
  pass_jobs      Spark jobs the steps of a warm pass start (median);
  driver_mem_mb  driver JVM heap retained after full GCs plus non-heap,
                 plus the Python driver's peak RSS.
The wall and CPU time of the best warm pass (pass_s, pass_cpu_s: build
plus execution into the sink of every step, checks excluded) are in the
detail line and, from traced runs, in the per-layer metrics. They are not
end-to-end gates: on the shared 4-core host this was built on, five runs
of one seed spread by 0.16-0.33 IQR/median in pass_s and 0.09-0.29 in
pass_cpu_s, above the largest bound a metric may have (0.25). The best
pass, not the median, is reported because warm passes still speed up as
the driver JVM compiles (the second runs up to a quarter faster than the
first).
--trace 1 also turns on the Spark event log and the module spans
(layers.py) and prints the per-layer metrics; its warm passes alternate
between spans off and on, so tracing overhead is reported too.

The line before the last is a JSON record of labels and details (host
steal %, 1-min load, SPARK_GRAFT_CPUS, input sizes, planted-dup rates,
median and max warm pass, peak RSS, per-step times and job counts, the
cold/warm job audit). The last line is the result:
{"correct", "attempted", "failed", "metrics"}. The exit code is 0 only
when every step of every pass was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

from dais2021imageprocessingondeltalake_spark.session import get_spark  # noqa: E402

import check  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS, Ctx, Step, output_bytes  # noqa: E402

E2E_UNITS = {"setup_s": "s", "pass_jobs": "count", "driver_mem_mb": "MB"}
# The first warm pass still pays JIT compilation (up to a third more CPU
# than the next one), so every run measures at least two warm passes and
# reports the best. Traced runs alternate spans off, on, off, ... so the
# spans-on pass sits between two spans-off passes.
MIN_PASSES = 2
TRACED_MIN_PASSES = 3


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of `root`
    and all its descendants: the driver JVM and the Python workers it
    forks."""
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited meanwhile
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / _CLK_TCK


def _retained_jvm_mb(spark) -> float:
    """Driver JVM heap still in use after full collections, plus its
    non-heap (metaspace, code cache). Two collections with a pause between
    let Spark's cleaner release what the first one unreferenced."""
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    for _ in range(2):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / 2**20


def _plan_secs(df) -> float:
    """Catalyst phase time (analysis, optimization, planning) of the
    DataFrame's own query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    it, total = phases.iterator(), 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1000.0


class Runner:
    """One run's Spark session, passes and records."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.spark = None
        self.records: list[dict] = []  # one per (pass, step)
        self.current_group = "perfbench-idle"
        self.streams = layers.StreamCapture()
        self.stream_progress: dict[str, list[dict]] = {}
        self.spans = layers.Spans(lambda: self.jobs_in(self.current_group)) if args.trace else None
        self.layer_stats: dict[str, dict[str, tuple]] = {}  # pass -> layer -> totals
        self.pass_cpu_s: dict[str, float] = {}

    # -- session ----------------------------------------------------------
    def start_session(self) -> float:
        cpus = len(os.sched_getaffinity(0))
        conf = {
            # get_spark's default heap (16g) let the driver JVM grow to a
            # 6.5-7.7 GB peak RSS on these workloads; 3g keeps a run small
            # on a shared host and still leaves the retained heap under 0.5 GB
            "spark.driver.memory": "3g",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
            # Python workers import the package and the benchmark's model
            "spark.executorEnv.PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
        }
        if self.args.trace:
            (self.work / "eventlog").mkdir()
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = (self.work / "eventlog").as_uri()
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
        self.session_start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.driver_memory = self.sc.getConf().get("spark.driver.memory")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.cpus = cpus
        return t0

    def stop_session(self) -> None:
        if self.spark is None:
            return
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None

    def jobs_in(self, group: str) -> int:
        return len(self.tracker.getJobIdsForGroup(group))

    # -- passes -----------------------------------------------------------
    def run_pass(self, ctx: Ctx, steps: list[Step], label: str, spans_on: bool) -> float:
        ctx.passes.append(label)
        if self.spans is not None:
            self.spans.active = spans_on
        cpu0 = _tree_cpu_s(self.jvm_pid) + sum(os.times()[:2])
        for step in steps:
            group = f"{label}/{step.name}"
            self.current_group = group
            self.sc.setJobGroup(group, group)
            rec = {"pass": label, "step": step.name, "kind": step.kind, "spans": spans_on}
            t0 = time.perf_counter()
            try:
                out = step.run(ctx, label)
                t1 = time.perf_counter()
                rec["build_jobs"] = self.jobs_in(group)
                if step.kind == "query":
                    table = out.toArrow()
                    t2 = time.perf_counter()
                    rec["build_s"], rec["exec_s"] = t1 - t0, t2 - t1
                    rec["exec_jobs"] = self.jobs_in(group) - rec["build_jobs"]
                    rec["plan_s"] = _plan_secs(out)
                else:
                    t2 = t1
                    rec["exec_s"] = t2 - t0
                rec["wall_s"] = t2 - t0
                if step.kind == "query":
                    rec["result"] = check.digest(table)
            except Exception as e:  # a raising step counts as failed
                traceback.print_exc()
                rec["wall_s"] = time.perf_counter() - t0
                rec["errors"] = [f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"]
            rec["jobs"] = self.jobs_in(group)
            self.records.append(rec)
            if self.streams.queries:
                self.stream_progress[label] = self.streams.take()
        self.pass_cpu_s[label] = _tree_cpu_s(self.jvm_pid) + sum(os.times()[:2]) - cpu0
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
        self.current_group = "perfbench-idle"
        if self.spans is not None:
            for layer, (calls, self_s, jobs) in self.spans.take().items():
                self.layer_stats.setdefault(label, {})[layer] = (calls, self_s, jobs)
        # pass wall = sum of its steps' timed parts (checks excluded)
        return sum(r["wall_s"] for r in self.records if r["pass"] == label)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # everything the run writes stays inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_start = os.getloadavg()[0]
    steal0, total0 = _cpu_ticks()
    r = Runner(args, work)
    try:
        return _run(r, args, work, load_start, steal0, total0)
    finally:
        try:
            r.stop_session()
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _run(r: Runner, args, work: Path, load_start: float, steal0: int, total0: int) -> int:
    gen = subprocess.run(
        [sys.executable, str(HERE / "gen.py"), args.workload, str(args.seed), str(work / "data")],
        check=True,
        capture_output=True,
        text=True,
    )
    manifest = json.loads(gen.stdout)

    t_session = r.start_session()
    r.streams.install()
    if r.spans is not None:
        r.spans.install()
    ctx = Ctx(r.spark, manifest["data_dir"], work, manifest)
    steps = WORKLOADS[args.workload]()

    r.run_pass(ctx, steps, "cold", spans_on=False)
    setup_s = time.perf_counter() - t_session

    warm: list[tuple[str, float, bool]] = []
    min_passes = TRACED_MIN_PASSES if args.trace else MIN_PASSES
    t_warm = time.perf_counter()
    while len(warm) < min_passes or time.perf_counter() - t_warm < args.seconds:
        label = f"warm{len(warm)}"
        spans_on = bool(args.trace) and len(warm) % 2 == 1
        warm.append((label, r.run_pass(ctx, steps, label, spans_on), spans_on))
    measured_s = time.perf_counter() - t_warm

    # -- untimed: outputs of call steps, bytes written ---------------------
    written = {}
    for label in ctx.passes:
        for step in steps:
            if step.verify is None:
                continue
            rec = next(x for x in r.records if x["pass"] == label and x["step"] == step.name)
            if rec.get("errors"):
                continue
            try:
                rec["errors"] = step.verify(ctx, label)
            except Exception as e:  # a failed check counts as a failed step
                traceback.print_exc()
                rec["errors"] = [f"verify {type(e).__name__}: {str(e).splitlines()[0][:300]}"]
        if args.workload == "ingest_infer":
            written[label] = output_bytes(ctx, label)

    peak_rss_mb = _vm_hwm_mb(r.jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    driver_mem_mb = _retained_jvm_mb(r.spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    r.stop_session()
    steal1, total1 = _cpu_ticks()

    # -- expected results: ground truth, DuckDB oracles after Spark stopped --
    expected: dict[str, list] = {}
    for s in steps:
        if s.truth is not None:
            expected[s.name] = [check.digest(s.truth(ctx))]
    oracles = {s.name: s.oracle for s in steps if s.oracle and (args.trace or s.truth is None)}
    tables = [p.stem for p in Path(manifest["data_dir"]).glob("*.parquet")]
    for name, want in check.oracle_digests(oracles, manifest["data_dir"], tables).items():
        expected.setdefault(name, []).append(want)
    for rec in r.records:
        for want in expected.get(rec["step"], []):
            got = rec.get("result")
            if got is not None and got != want:
                rec.setdefault("errors", []).append(
                    f"result mismatch: cols {got[0]} rows {got[1]} vs expected cols {want[0]} rows {want[1]}"
                )

    failed = sum(1 for rec in r.records if rec.get("errors"))
    attempted = len(r.records)

    warm_untraced = [s for _, s, on in warm if not on]
    warm_cpu = [r.pass_cpu_s[label] for label, _, on in warm if not on]
    metrics_e2e = {
        "setup_s": setup_s,
        "pass_jobs": _median(
            [sum(x["jobs"] for x in r.records if x["pass"] == label) for label, _, _ in warm]
        ),
        "driver_mem_mb": driver_mem_mb,
    }

    # -- per-step audit ------------------------------------------------------
    warm_labels = [label for label, _, _ in warm]
    per_step = {}
    for step in steps:
        recs = {x["pass"]: x for x in r.records if x["step"] == step.name}
        cold_jobs = recs["cold"]["jobs"]
        warm_jobs = [recs[p]["jobs"] for p in warm_labels]
        d = {
            "kind": step.kind,
            "cold_s": round(recs["cold"]["wall_s"], 4),
            "warm_s": [round(recs[p]["wall_s"], 4) for p in warm_labels],
            "cold_jobs": cold_jobs,
            "warm_jobs": warm_jobs,
            "warm_under_half_cold_jobs": any(j * 2 < cold_jobs for j in warm_jobs),
        }
        if step.kind == "query":
            d["build_s"] = [round(recs[p]["build_s"], 4) for p in warm_labels if "build_s" in recs[p]]
            d["eager_jobs"] = [recs[p].get("build_jobs") for p in warm_labels]
        errs = [e for x in recs.values() for e in x.get("errors", [])]
        if errs:
            d["errors"] = errs[:5]
        per_step[step.name] = d

    steal_pct = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "labels": {
            "host_steal_pct": round(steal_pct, 3),
            "load_1m_start": load_start,
            "load_1m_end": os.getloadavg()[0],
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark.driver.memory": r.driver_memory,
            "master": f"local[{r.cpus}]",
        },
        "inputs": {
            "rows": manifest["input_rows"],
            "bytes": manifest["input_bytes"],
            "doc_dup_rate": manifest.get("doc_dup_rate"),
            "vec_dup_rate": manifest.get("vec_dup_rate"),
        },
        "fail_ratio": failed / attempted,
        "session_start_s": round(r.session_start_s, 4),
        # wall and CPU time of the best warm pass: reported, not gated
        # (see the module docstring for why)
        "pass_s": round(min(warm_untraced), 4),
        "pass_cpu_s": round(min(warm_cpu), 3),
        "pass_median_s": round(_median(warm_untraced), 4),
        "peak_rss_mb": round(peak_rss_mb, 1),
        "warm_passes": len(warm),
        "warm_pass_s": [round(s, 4) for _, s, _ in warm],
        "measured_s": round(measured_s, 3),
        # a tail percentile with ten samples beyond it needs >= 11 passes
        # in a run; record the max and the sample count instead
        "pass_max_s": round(max(warm_untraced), 4),
        "pass_samples": len(warm_untraced),
        "steps": per_step,
        "cpu_s_by_pass": {k: round(v, 3) for k, v in r.pass_cpu_s.items()},
    }

    if args.trace:
        per_layer = _per_layer(r, warm, written, manifest)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics_e2e.items()}
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    sys.stdout.flush()
    return 0 if failed == 0 else 1


def _per_layer(r: Runner, warm, written, manifest) -> dict:
    """Per-layer metrics of a traced run, each a per-warm-pass value
    (median over warm passes unless stated)."""
    warm_labels = [label for label, _, _ in warm]
    traced_labels = [label for label, _, on in warm if on]
    out: dict[str, tuple[float, str]] = {}

    def per_pass(key: str, kind: str | None = "query") -> float:
        vals = []
        for p in warm_labels:
            recs = [x for x in r.records if x["pass"] == p and (kind is None or x["kind"] == kind)]
            vals.append(sum(x.get(key, 0) for x in recs))
        return _median(vals)

    out["query.build_s"] = (per_pass("build_s"), "s")
    out["query.eager_jobs"] = (per_pass("build_jobs"), "count")
    out["query.plan_s"] = (per_pass("plan_s"), "s")
    out["query.exec_s"] = (per_pass("exec_s"), "s")
    out["query.exec_jobs"] = (per_pass("exec_jobs"), "count")
    for step_name in STEP_JOBS:
        recs = [x for x in r.records if x["step"] == step_name and x["pass"] in warm_labels]
        out[f"{step_name}.eager_jobs"] = (_median([x.get("build_jobs", 0) for x in recs]), "count")
        out[f"{step_name}.jobs"] = (_median([x["jobs"] for x in recs]), "count")

    # Spark event log, attributed by job group "<pass>/<step>"
    stats = layers.event_log_stats(
        str(r.work / "eventlog"), lambda g: g.split("/")[0] if "/" in g else None
    )
    for key, unit in SPARK_KEYS.items():
        out[f"spark.{key}"] = (_median([stats.get(p, {}).get(key, 0.0) for p in warm_labels]), unit)

    # module spans (traced passes only)
    for layer in layers.MODULES:
        vals = [r.layer_stats.get(p, {}).get(layer, (0, 0.0, 0)) for p in traced_labels]
        out[f"{layer}.calls"] = (_median([v[0] for v in vals]), "count")
        out[f"{layer}.self_s"] = (_median([v[1] for v in vals]), "s")
        out[f"{layer}.jobs"] = (_median([v[2] for v in vals]), "count")

    # sinks and commits (ingest_infer)
    if written:
        in_bytes = manifest["image_bytes"] + manifest["stream_src_bytes"]
        out["sources.bytes_written"] = (_median([written[p][0] for p in warm_labels]), "bytes")
        out["sources.files_written"] = (_median([written[p][1] for p in warm_labels]), "count")
        out["sources.stored_bytes_ratio"] = (out["sources.bytes_written"][0] / in_bytes, "ratio")
        commit = [x["wall_s"] for x in r.records if x["step"] == "versioned_append" and x["pass"] in warm_labels]
        out["sources.commit_s"] = (_median(commit), "s")
    else:
        for k, u in (("bytes_written", "bytes"), ("files_written", "count"), ("stored_bytes_ratio", "ratio"), ("commit_s", "s")):
            out[f"sources.{k}"] = (0, u)

    # streaming progress (ingest_infer)
    batches, planning, commit, trigger = [], [], [], []
    for p in warm_labels:
        prog = [x for x in r.stream_progress.get(p, []) if x.get("numInputRows", 0) > 0]
        batches.append(len(prog))
        planning.append(sum(x["durationMs"].get("queryPlanning", 0) for x in prog) / 1e3)
        commit.append(
            sum(x["durationMs"].get("walCommit", 0) + x["durationMs"].get("commitOffsets", 0) for x in prog) / 1e3
        )
        trigger.extend(x["durationMs"].get("triggerExecution", 0) / 1e3 for x in prog)
    out["streaming.batches"] = (_median(batches), "count")
    out["streaming.planning_s"] = (_median(planning), "s")
    out["streaming.commit_s"] = (_median(commit), "s")
    out["streaming.batch_s"] = (_median(trigger), "s")

    # session and cold/warm audit
    out["session.start_s"] = (r.session_start_s, "s")
    cold_jobs = sum(x["jobs"] for x in r.records if x["pass"] == "cold")
    warm_jobs = per_pass("jobs", kind=None)
    out["cold_warm_job_ratio"] = (warm_jobs / cold_jobs if cold_jobs else 0.0, "ratio")

    # tracing overhead: best warm pass with spans on vs off, same run
    on = min(s for _, s, t in warm if t)
    off = min(s for _, s, t in warm if not t)
    out["trace.pass_s"] = (on, "s")
    out["trace.untraced_pass_s"] = (off, "s")
    out["trace.untraced_pass_cpu_s"] = (min(r.pass_cpu_s[p] for p, _, t in warm if not t), "s")
    out["trace.overhead_ratio"] = (on / off, "ratio")
    return out


# query steps whose eager (build-time) and total job counts are reported
# on their own
STEP_JOBS = (
    "q_dedup_end2end",
    "q_embedding_topk",
    "q_flagship_revenue",
    "q_asof_join",
    "q_heavy_hitters",
    "q_logreg_grid",
)
SPARK_KEYS = {
    "stages": "count",
    "tasks": "count",
    "shuffle_bytes": "bytes",
    "task_cpu_s": "s",
    "task_offcpu_s": "s",
    "fetch_wait_s": "s",
}

if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one closed-loop client, one process.

    python3 perfbench/run.py --workload delta_upsert_mix --seed 1 --seconds 10 --trace 0

Run it from the repository root. It reads the fixture tables shipped in
``perfbench/fixtures``, takes the op order and the Delta batches from
``--seed``, builds a ``local[nproc]`` session with
``session.build_session``, runs one untimed warm pass over the op set,
then whole passes for ``--seconds`` (at least two), checks the outputs and
prints, as the last line of stdout,
``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and spans and reports the per-layer metrics instead. The
line before it holds diagnostics (failure share, tails, the host canary).

Everything the run writes lives under one scratch root inside the checkout,
deleted at the end; only the memoised oracle answers stay. See ``perfbench/README.md`` for the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}
MODULES = (
    "operators.graph",
    "pipelines",
    "sources.delta_log",
)
SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "job_busy_s",
    "driver_gap_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "task_skew",
    "input_mb",
)
DELTA_CALLS = {
    "append": "write_s",
    "merge": "merge_s",
    "delete": "delete_s",
    "optimize": "optimize_s",
    "vacuum": "vacuum_s",
}


def _unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith("_s") or name.startswith("build_s."):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_amp", "skew", "_min")):
        return "ratio"
    if name.endswith("per_commit"):
        return "B"
    return "count"


def per_layer_names() -> list[str]:
    names = ["session.build_s", "session.warm_s", "traced.wall_s"]
    names += ["build_s", "build_self_s", "build_jobs", "action_s", "action_self_s", "action_jobs"]
    names += [f"build_s.{m}" for m in MODULES]
    names += [f"spark.{k}" for k in SPARK_KEYS]
    names += [f"delta_log.{v}" for v in DELTA_CALLS.values()]
    names += [
        "delta_log.read_fold_s",
        "delta_log.scan_s",
        "delta_log.files_scanned_frac",
        "delta_log.commits",
        "delta_log.checkpoint_commits",
        "delta_log.log_bytes_per_commit",
        "delta_log.write_amp",
        "delta.commit_p50_s",
        "delta.read_p50_s",
        "delta.ingest_rows_per_s",
        "delta.space_amp",
        "trace.op_coverage_min",
        "trace.jobs_outside_op",
    ]
    return names


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def tail(values: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n <= 10:
        return None
    return {"pct": 100 * (n - 10) // n, "value": sorted(values)[n - 11], "n": n}


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_canary(spark) -> dict:
    """The same probe as bench.py: a JVM xxhash fold and a Python loop."""
    t0 = time.perf_counter()
    spark.range(100_000_000).selectExpr("bit_xor(xxhash64(id)) as s").collect()
    jvm = time.perf_counter() - t0
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i ^ (i >> 3)
    return {"jvm_sec": round(jvm, 4), "py_sec": round(time.perf_counter() - t0, 4)}


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def _isolate(scratch: str) -> dict[str, str]:
    """Point every temp, local and warehouse directory under ``scratch``."""
    dirs = {k: os.path.join(scratch, k) for k in ("tmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    tempfile.tempdir = dirs["tmp"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # python workers import the package through the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return dirs


def pass_wall(records) -> float:
    """One pass as its fastest parts: each op's fastest pass, summed.

    An op that runs k times a pass counts k times its lowest per-pass mean.
    A host stall slows the ops it lands on; this drops it unless it hit
    the same op in every pass. The fastest whole pass keeps a stall as
    soon as every pass had one, on any op.
    """
    by_op: dict[str, dict[int, list[float]]] = {}
    for r in records:
        by_op.setdefault(r.op, {}).setdefault(r.pass_no, []).append(r.total_s)
    total = 0.0
    for passes in by_op.values():
        k = max(len(v) for v in passes.values())
        total += k * min(_mean(v) for v in passes.values() if len(v) == k)
    return total


def end_to_end(st, session_build_s: float, rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": session_build_s + st.warm_s,
        "wall_s": pass_wall(r for r in st.measured if r.pass_no >= 0),
        "peak_rss_mb": rss_mb,
    }


def diagnostics(st, workload: str, failed: int) -> dict:
    import workloads as wl

    ok = [r for r in st.measured if r.error is None]
    d: dict = {
        "workload": workload,
        "passes": st.passes,
        "pass_wall_s": [round(x, 3) for x in st.pass_wall_s],
        "ops": len(st.measured),
        "failed_frac": failed / max(1, len(st.measured)),
        "op_p50_s": statistics.median(r.total_s for r in ok) if ok else None,
        "op_tail_s": tail([r.total_s for r in ok]),
        "errors": sorted({r.error for r in st.measured + st.warm if r.error})[:5],
        "problems": sorted(st.problems.values())[:5],
        "op_median_s": {
            name: statistics.median(r.total_s for r in ok if r.op == name)
            for name in sorted({r.op for r in ok})
        },
    }
    if workload == "delta_upsert_mix":
        commits = [r.total_s for r in ok if r.kind in wl.COMMIT_KINDS]
        reads = [r.total_s for r in ok if r.kind in wl.READ_KINDS]
        d.update(
            commit_p50_s=statistics.median(commits) if commits else None,
            commit_tail_s=tail(commits),
            read_p50_s=statistics.median(reads) if reads else None,
            read_tail_s=tail(reads),
            ingest_rows_per_s=st.extra["ingested_rows"] / st.measure_wall_s,
            space_amp=st.extra["space_amp"],
        )
    else:
        d.update(query_p50_s=d["op_p50_s"], query_tail_s=d["op_tail_s"], output_rows=st.extra.get("output_rows"))
    return d


def per_layer(st, span_list, jobs, session_build_s: float, diag: dict) -> dict[str, float]:
    import spans as tr

    names = per_layer_names()
    out = dict.fromkeys(names, 0.0)
    out["session.build_s"] = session_build_s
    out["session.warm_s"] = st.warm_s
    out["traced.wall_s"] = pass_wall(r for r in st.measured if r.pass_no >= 0)
    full = tr.attach_jobs(span_list, jobs)
    roots = {s.op: i for i, s in enumerate(span_list) if s.name.startswith("op:")}
    recs = [r for r in st.measured if r.error is None and r.op_id in roots]
    totals, coverage = [], []
    build_self, action_self, build_jobs, action_jobs = [], [], [], []
    for r in recs:
        idx = roots[r.op_id]
        kids = {full[i].name: i for i in range(len(full)) if full[i].parent == idx}
        totals.append(tr.job_totals(full[idx], tr.op_jobs(full, jobs, idx)))
        covered = sum(full[i].dur for i in kids.values())
        coverage.append(covered / full[idx].dur if full[idx].dur > 0 else 1.0)
        for phase, selfs, counts in (("build", build_self, build_jobs), ("action", action_self, action_jobs)):
            if phase in kids:
                selfs.append(tr.self_time(full, kids[phase]))
                counts.append(sum(1 for s in full if s.parent == kids[phase]))
            else:
                selfs.append(0.0)
                counts.append(0)
    out["build_s"] = _mean(r.build_s for r in recs)
    out["action_s"] = _mean(r.action_s for r in recs)
    out["build_self_s"] = _mean(build_self)
    out["action_self_s"] = _mean(action_self)
    out["build_jobs"] = _mean(build_jobs)
    out["action_jobs"] = _mean(action_jobs)
    for m in MODULES:
        out[f"build_s.{m}"] = _mean(r.build_s for r in recs if r.module == m)
    for k in SPARK_KEYS:
        out[f"spark.{k}"] = _mean(t[k] for t in totals)
    for kind, key in DELTA_CALLS.items():
        out[f"delta_log.{key}"] = _mean(r.build_s for r in recs if r.kind == kind)
    reads = [r for r in recs if r.kind.startswith("read_")]
    out["delta_log.read_fold_s"] = _mean(r.build_s for r in reads)
    out["delta_log.scan_s"] = _mean(r.action_s for r in reads)
    fracs = [r.files_scanned_frac for r in reads if r.files_scanned_frac is not None]
    out["delta_log.files_scanned_frac"] = _mean(fracs)
    if "commits" in st.extra:
        commits = st.extra["commits"]
        out["delta_log.commits"] = commits
        out["delta_log.checkpoint_commits"] = st.extra["checkpoints"]
        out["delta_log.log_bytes_per_commit"] = st.extra["log_bytes"] / commits if commits else 0.0
        ingest = st.extra["ingest_file_bytes"]
        out["delta_log.write_amp"] = st.extra["added_bytes"] / ingest if ingest else 0.0
    for key in ("commit_p50_s", "read_p50_s", "ingest_rows_per_s", "space_amp"):
        out[f"delta.{key}"] = diag.get(key) or 0.0
    out["trace.op_coverage_min"] = min(coverage) if coverage else 0.0
    out["trace.jobs_outside_op"] = len(tr.escaped_jobs(span_list, jobs))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from lakesail_hdfs_deltalake_guide_spark.session import build_session
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import spans as tr
    import workloads as wl

    if args.workload not in wl.RUNNERS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wl.RUNNERS)}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and deletes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_tmp")
    scratch = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return _run(args, build_session, tr, wl, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def _run(args, build_session, tr, wl, scratch: str) -> int:
    jiffies0 = _cpu_jiffies()
    dirs = _isolate(scratch)
    n = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed 2 GB heap keeps peak RSS steady from run to run (an 8 GB
        # heap grows by a different amount each run) and fits a shared host
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + dirs["eventlog"],
            }
        )
    tracer = tr.Tracer(bool(args.trace))
    t0 = time.perf_counter()
    with tracer.span("session.build"):
        spark = build_session(app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    session_build_s = time.perf_counter() - t0
    tracer.sc = spark.sparkContext
    st = wl.RunState(spark, tracer, scratch, args.seed, args.seconds, bool(args.trace), t0=T_START)
    st.mark("session")
    try:
        wl.RUNNERS[args.workload](st)
        jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
        rss_mb = _vm_hwm_mb("self") + (_vm_hwm_mb(jvm_pid.pid) if jvm_pid else 0.0)
        st.mark("workload")
        canary = host_canary(spark)
        st.mark("canary")
    finally:
        _stop_spark(spark)
    st.mark("stopped")
    left_mb = sum(wl.tree_bytes(dirs[k]) for k in ("tmp", "local", "warehouse")) / 1e6

    errors = sum(1 for r in st.warm + st.measured if r.error)
    failed = min(len(st.measured), errors + len(st.problems))
    diag = diagnostics(st, args.workload, failed)
    diag.update(seed=args.seed, trace=args.trace, host_canary=canary, scratch_left_mb=round(left_mb, 3))
    diag["phase_end_s"] = st.marks
    # the share of host CPU time the hypervisor gave to other guests
    jiffies = [b - a for a, b in zip(jiffies0, _cpu_jiffies())]
    diag["host_steal_frac"] = round(jiffies[7] / max(1, sum(jiffies)), 4)
    if args.trace:
        jobs = tr.read_event_log(dirs["eventlog"])
        metrics = per_layer(st, tracer.spans, jobs, session_build_s, diag)
        units = {k: _unit(k) for k in metrics}
    else:
        metrics = end_to_end(st, session_build_s, rss_mb)
        units = END_TO_END
    print(json.dumps(diag, default=str))
    result = {
        "correct": not st.problems and errors == 0,
        "attempted": len(st.measured),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

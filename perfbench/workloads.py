"""The workloads: op sets, the closed loop that drives them, checks.

One client, closed loop: an op starts only after the previous one ended.
Each op is timed as one user sees it (``total_s``) and split into the call
into the package (``build_s``: the registry builder, or the ``delta_log``
call) and the action that runs the result (``action_s``: the noop sink,
or the collect of a Delta read). Between ops, outside every timed region,
the session drops cached frames and runs one JVM GC so an op's time does
not depend on which ops ran before it.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import oracle
from spans import Tracer

PKG = "lakesail_hdfs_deltalake_guide_spark"

# The repository's sf0.01 fixture tables (seed 42), shipped with the
# benchmark. The run's --seed sets the op order and the Delta batches.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")

# curation_retrieval: graph and pipeline code, compute-bound and
# driver-bound. The pipeline runs the MinHash/LSH code of operators.dedup.
CURATION_OPS = ["graph_fof_recommendations", "pipeline_incremental_minhash"]
# wall_s takes each op's fastest pass, so every run measures at least two
MIN_PASSES = 2

# delta_upsert_mix: one round, in seeded order: 30% appends, 20% upserts,
# 10% deletes, 30% reads and one OPTIMIZE.
DELTA_ROUND = ["append"] * 3 + ["merge"] * 2 + ["delete", "read_full", "read_range", "read_asof", "optimize"]
DELTA_WARM = ["append", "merge", "delete", "read_full", "read_range", "read_asof", "optimize"]
DELTA_MAX_ROUNDS = 5
APPEND_ROWS = 2000
MERGE_UPDATES = 700  # existing keys, drawn from one window of recent orders
MERGE_INSERTS = 300
MERGE_WINDOW = 3000
RANGE_WIDTH = 2000
VACUUM_KEEP = 3
COMMIT_KINDS = ("append", "merge", "delete")
READ_KINDS = ("read_full", "read_range", "read_asof")


@dataclass
class OpRecord:
    op: str
    kind: str
    module: str
    op_id: str
    pass_no: int = -1
    build_s: float = 0.0
    action_s: float = 0.0
    total_s: float = 0.0
    error: str | None = None
    rows_in: int = 0
    files_scanned_frac: float | None = None


@dataclass
class RunState:
    spark: object
    tracer: Tracer
    scratch: str
    seed: int
    seconds: float
    trace: bool
    sf_dir: str = ""
    warm: list[OpRecord] = field(default_factory=list)
    measured: list[OpRecord] = field(default_factory=list)
    passes: int = 0
    pass_wall_s: list[float] = field(default_factory=list)
    measure_wall_s: float = 0.0
    warm_s: float = 0.0
    problems: dict[str, str] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)
    t0: float = field(default_factory=time.perf_counter)
    marks: dict[str, float] = field(default_factory=dict)

    def mark(self, phase: str) -> None:
        """Seconds since the run started at which ``phase`` ended."""
        self.marks[phase] = round(time.perf_counter() - self.t0, 2)


def _hygiene(spark) -> None:
    spark.catalog.clearCache()
    spark._jvm.System.gc()  # noqa: SLF001


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_op(st: RunState, rec: OpRecord, build, action) -> object:
    """Run ``build()`` then ``action(result)`` as one op; returns the result."""
    t0 = time.perf_counter()
    result = None
    try:
        with st.tracer.span(f"op:{rec.op}", op=rec.op_id):
            with st.tracer.span("build", group=f"{rec.op_id}/build"):
                result = build()
            t1 = time.perf_counter()
            rec.build_s = t1 - t0
            if action is not None:
                with st.tracer.span("action", group=f"{rec.op_id}/action"):
                    action(result)
    except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
        rec.error = f"{type(exc).__name__}: {exc}"[:500]
    rec.total_s = time.perf_counter() - t0
    rec.action_s = rec.total_s - rec.build_s if rec.error is None else 0.0
    return result


def _copy_fixtures(st: RunState) -> None:
    """Copy the fixture tables into the run's scratch root and read them there."""
    st.sf_dir = os.path.join(st.scratch, "fixtures")
    shutil.copytree(FIXTURES, st.sf_dir)


def _measure_passes(st: RunState, one_pass, max_passes: int | None = None) -> None:
    """Whole passes until ``st.seconds`` have gone by, and at least MIN_PASSES."""
    t0 = time.perf_counter()
    while True:
        n = len(st.measured)
        one_pass(st.passes)
        for r in st.measured[n:]:
            r.pass_no = st.passes
        st.pass_wall_s.append(sum(r.total_s for r in st.measured[n:]))
        st.passes += 1
        if st.passes >= MIN_PASSES and time.perf_counter() - t0 >= st.seconds:
            break
        if max_passes is not None and st.passes >= max_passes:
            break


# ---------------------------------------------------------------- queries


def run_queries(st: RunState) -> None:
    from lakesail_hdfs_deltalake_guide_spark.registry import get_registry

    _copy_fixtures(st)
    st.mark("inputs")
    defs = get_registry().defs
    qdefs = {name: defs[name] for name in CURATION_OPS}
    rng = random.Random(st.seed)
    spark = st.spark

    def run(prefix: str, i: int, name: str, action) -> OpRecord:
        q = qdefs[name]
        rec = OpRecord(name, "query", q.fn.__module__.removeprefix(PKG + "."), f"{prefix}{i}")
        _timed_op(st, rec, lambda: q.fn(spark, st.sf_dir), action)
        return rec

    # Warm-up: one untimed pass over the op set, 2-4x slower than later
    # ones (class loading, code generation, JIT). Its action collects the
    # result the oracle check compares, so the check costs no second
    # execution of any op. One noop write first warms the sink.
    outputs = {}

    def collect(name: str):
        def action(df) -> None:
            outputs[name] = df.toPandas()

        return action

    t0 = time.perf_counter()
    with st.tracer.span("session.warm"):
        _noop(spark.range(1))
        for i, name in enumerate(rng.sample(CURATION_OPS, len(CURATION_OPS))):
            st.warm.append(run("w", i, name, collect(name)))
            _hygiene(spark)
    st.warm_s = time.perf_counter() - t0
    st.extra["output_rows"] = {name: len(df) for name, df in outputs.items()}
    st.mark("warm")

    def one_pass(p: int) -> None:
        for i, name in enumerate(rng.sample(CURATION_OPS, len(CURATION_OPS))):
            st.measured.append(run("m", p * 100 + i, name, _noop))
            _hygiene(spark)

    t0 = time.perf_counter()
    _measure_passes(st, one_pass)
    st.measure_wall_s = time.perf_counter() - t0
    st.mark("measure")

    oracles = {n: q.oracle for n, q in qdefs.items() if q.oracle}
    cache = os.path.join(os.path.dirname(st.scratch), "oracle_cache")
    st.problems.update(oracle.check_queries(st.sf_dir, oracles, outputs, cache))
    st.mark("check")


# ---------------------------------------------------------- delta upserts


def _order_rows(rng: np.random.Generator, keys: np.ndarray, orders: pa.Table) -> pa.Table:
    """Fixture ``orders`` rows drawn with replacement, keyed ``keys``."""
    rows = orders.take(pa.array(rng.integers(0, orders.num_rows, len(keys))))
    return rows.set_column(0, "o_orderkey", pa.array(keys.astype(np.int64)))


def plan_delta(scratch: str, seed: int, orders: pa.Table) -> tuple[list[dict], list[list[dict]]]:
    """The warm steps and DELTA_MAX_ROUNDS rounds; batch files written now."""
    rng = np.random.default_rng(seed)
    order = random.Random(seed)
    batch_dir = os.path.join(scratch, "batches")
    os.makedirs(batch_dir, exist_ok=True)
    next_key = orders.num_rows
    plan = []
    kinds = list(DELTA_WARM)
    for _ in range(DELTA_MAX_ROUNDS):
        kinds += order.sample(DELTA_ROUND, len(DELTA_ROUND))
    for i, kind in enumerate(kinds):
        step = {"kind": kind}
        if kind == "append":
            keys = np.arange(next_key, next_key + APPEND_ROWS)
            next_key += APPEND_ROWS
        elif kind == "merge":
            lo = int(rng.integers(max(0, next_key - 4 * MERGE_WINDOW), next_key - MERGE_WINDOW))
            upd = rng.choice(np.arange(lo, lo + MERGE_WINDOW), MERGE_UPDATES, replace=False)
            keys = np.concatenate([np.sort(upd), np.arange(next_key, next_key + MERGE_INSERTS)])
            next_key += MERGE_INSERTS
        elif kind == "delete":
            step["predicate"] = f"o_custkey % 50 = {int(rng.integers(0, 50))}"
        elif kind == "read_range":
            lo = int(rng.integers(0, next_key - RANGE_WIDTH))
            step["range"] = (lo, lo + RANGE_WIDTH - 1)
        elif kind == "read_asof":
            step["frac"] = float(rng.random())
        if kind in ("append", "merge"):
            path = os.path.join(batch_dir, f"{i:03d}_{kind}.parquet")
            pq.write_table(_order_rows(rng, keys, orders), path)
            step["file"] = path
            step["rows"] = len(keys)
        plan.append(step)
    n, r = len(DELTA_WARM), len(DELTA_ROUND)
    return plan[:n], [plan[n + k * r : n + (k + 1) * r] for k in range(DELTA_MAX_ROUNDS)]


def _read_agg(df):
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


def run_delta(st: RunState) -> None:
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    spark = st.spark
    _copy_fixtures(st)
    seed_file = os.path.join(st.sf_dir, "orders.parquet")
    orders = pq.read_table(seed_file)
    warm_steps, rounds = plan_delta(st.scratch, st.seed, orders)
    st.mark("inputs")
    table = os.path.join(st.scratch, "tables", "orders_delta")
    uri = "file://" + table
    log_dir = os.path.join(table, "_delta_log")
    commits: list[tuple[int, str, str]] = []  # (version, kind, arg) for the replay
    state = {"version": 0}

    def run_step(prefix: str, i: int, step: dict) -> OpRecord:
        kind = step["kind"]
        rec = OpRecord(kind, kind, "sources.delta_log", f"{prefix}{i}", rows_in=step.get("rows", 0))
        action = None
        if kind == "append":
            build = lambda: dl.delta_write(spark.read.parquet(step["file"]), uri, mode="append")  # noqa: E731
        elif kind == "merge":
            build = lambda: dl.delta_merge(spark, uri, spark.read.parquet(step["file"]), on=["o_orderkey"])  # noqa: E731
        elif kind == "delete":
            build = lambda: dl.delta_delete(spark, uri, step["predicate"])  # noqa: E731
        elif kind == "optimize":
            build = lambda: dl.delta_optimize(spark, uri)  # noqa: E731
        elif kind == "vacuum":
            build = lambda: dl.delta_vacuum(spark, uri, keep_versions=VACUUM_KEEP)  # noqa: E731
        else:
            action = lambda df: _read_agg(df).collect()  # noqa: E731
            if kind == "read_full":
                build = lambda: dl.delta_read(spark, uri)  # noqa: E731
            elif kind == "read_range":
                lo, hi = step["range"]

                def build():
                    return dl.delta_read(spark, uri, range_filter={"o_orderkey": (lo, hi)}).where(
                        F.col("o_orderkey").between(lo, hi)
                    )
            else:
                v = int(step["frac"] * state["version"])
                build = lambda: dl.delta_read(spark, uri, version=v)  # noqa: E731
        result = _timed_op(st, rec, build, action)
        if rec.error is None and kind in ("append", "merge", "delete", "optimize"):
            state["version"] = int(result)
            arg = step.get("file") or step.get("predicate") or ""
            commits.append((state["version"], kind, arg))
        if st.trace and rec.error is None and kind == "read_range":
            # inputFiles() of the skipped read over those of the full snapshot
            scanned = len(result.inputFiles())
            live = len(dl.delta_read(spark, uri).inputFiles())
            rec.files_scanned_frac = scanned / live if live else 1.0
        _hygiene(spark)
        return rec

    t0 = time.perf_counter()
    with st.tracer.span("session.warm"):
        seed_rec = OpRecord("create", "create", "sources.delta_log", "w_create")
        _timed_op(
            st,
            seed_rec,
            lambda: dl.delta_write(
                spark.read.parquet(seed_file).repartitionByRange(4, "o_orderkey"),
                uri,
                mode="overwrite",
                stats_cols=["o_orderkey"],
            ),
            None,
        )
        st.warm.append(seed_rec)
        for i, step in enumerate(warm_steps):
            st.warm.append(run_step("w", i, step))
    st.warm_s = time.perf_counter() - t0
    st.mark("warm")

    log_before = set(os.listdir(log_dir))

    def one_pass(p: int) -> None:
        for i, step in enumerate(rounds[p]):
            st.measured.append(run_step("m", p * 100 + i, step))

    t0 = time.perf_counter()
    _measure_passes(st, one_pass, DELTA_MAX_ROUNDS)
    st.measured.append(run_step("m", 9999, {"kind": "vacuum"}))
    st.measure_wall_s = time.perf_counter() - t0
    st.mark("measure")

    # output check: the final snapshot and one time-travel snapshot that
    # VACUUM kept, against a DuckDB replay of the committed batch files
    final = state["version"]
    asof = final - 1 - st.seed % (VACUUM_KEEP - 1)
    expected = oracle.replay_delta(seed_file, commits, [asof, final])
    for v in (asof, final):
        try:
            got = dl.delta_read(spark, uri, version=v).toPandas()
        except Exception as exc:  # noqa: BLE001
            st.problems[f"v{v}"] = f"snapshot v{v}: read failed: {exc}"[:500]
            continue
        diff = oracle.compare(got, expected[v], f"snapshot v{v}")
        if diff:
            st.problems[f"v{v}"] = diff

    st.mark("check")
    new_logs = sorted(set(os.listdir(log_dir)) - log_before)
    commit_files = [f for f in new_logs if f.endswith(".json") and f[:20].isdigit()]
    added_bytes = 0
    for f in commit_files:
        with open(os.path.join(log_dir, f), encoding="utf-8") as fh:
            for line in fh:
                if line.startswith('{"add"'):
                    added_bytes += json.loads(line)["add"].get("size", 0)
    live_files = dl.delta_read(spark, uri).inputFiles()
    live_bytes = sum(os.path.getsize(unquote(urlparse(p).path)) for p in live_files)
    table_bytes = tree_bytes(table)
    ingested = sum(r.rows_in for r in st.measured if r.error is None)
    ingest_file_bytes = sum(
        os.path.getsize(s["file"]) for r in range(st.passes) for s in rounds[r] if "file" in s
    )
    st.extra = {
        "commits": len(commit_files),
        "checkpoints": sum(1 for f in new_logs if ".checkpoint" in f and f.endswith(".parquet")),
        "log_bytes": sum(os.path.getsize(os.path.join(log_dir, f)) for f in commit_files),
        "added_bytes": added_bytes,
        "ingest_file_bytes": ingest_file_bytes,
        "ingested_rows": ingested,
        "space_amp": table_bytes / live_bytes if live_bytes else 0.0,
    }


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


RUNNERS = {
    "curation_retrieval": run_queries,
    "delta_upsert_mix": run_delta,
}

"""Layered benchmark of the engine's serve and write paths.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

One process, one closed-loop client: each op starts when the previous one
has returned. A run writes seeded inputs, starts the engine, warms every op
of the workload until it is steady, then repeats rounds of the workload's
ops (order permuted per round from the seed) for ``--seconds``. The last
stdout line is the result JSON; the line before it carries per-op details.
``--trace 1`` alternates untraced and traced rounds and reports per-layer
metrics instead of end-to-end ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import uuid
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "data_etl_sh_lianjia_spark"
RUNS_DIR = ".perfbench-runs"
# The engine stages these under a fixed /tmp whatever TMPDIR says; the run
# removes the ones it created.
ENGINE_TMP = "/tmp"
ENGINE_CLOSED_EVENTS = os.path.join(ENGINE_TMP, "spark-graft-closed")

import datagen  # perfbench/ is on sys.path when this file runs as a script

SERVE_OPS = (
    "q1_scan_agg",
    "q3_join3",
    "q5_join5",
    "window_rank",
    "distinct_count",
    "topk_sort",
    "json_events",
    "sessionize",
    "string_regex",
    "cosine_topk",
    "ann_brute_topk",
)
DML_OPS = {
    "update_where_q1_projection": "mutations.update_ms",
    "delete_where_orders": "mutations.delete_ms",
    "merge_into_customers": "mutations.merge_ms",
}
STREAM_OPS = ("stream_lakehouse_ingest", "stream_stream_left_join")


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    ingest: bool  # serve reads the projections a cold ingest builds
    min_passes: int  # untimed warm-up passes before convergence is tested
    max_passes: int
    window: int  # passes compared against the window before them
    rounds: int  # measured rounds at least, whatever ``--seconds`` says


# serve: the JVM's C2 compiler keeps compiling for the first ~40 passes and
# the rounds get faster in steps whose timing varies from run to run; a window
# that starts earlier lands before such a step in some runs and after it in
# others. write: one cold pass, then one warm pass; three measured rounds, so
# each op's median is the middle of three samples, not the mean of two.
WORKLOADS = {
    "serve": Workload(SERVE_OPS, True, 35, 42, 4, 2),
    "write": Workload(tuple(DML_OPS) + STREAM_OPS, False, 2, 2, 1, 3),
}

# Warm-up is steady when the last window of passes is at most 5% faster than
# the window before it and no single op got more than 25% faster.
STEADY_ROUND = 0.95
STEADY_OP = 0.75


@dataclass
class OpRecord:
    """What one op produced across the run."""

    walls: list[float] = field(default_factory=list)  # untraced measured, s
    traced_walls: list[float] = field(default_factory=list)
    layers: list[dict[str, float]] = field(default_factory=list)
    ref: tuple | None = None  # (columns, rows) of the first result
    ref_hash: int | None = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)


class Bench:
    """One workload in one Spark session: setup, warm-up, measured rounds,
    result checks and the metrics computed from them."""

    def __init__(self, args: argparse.Namespace, cores: int, dirs: dict[str, str]):
        self.name = args.workload
        self.workload = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = cores
        self.dirs = dirs
        self.landed = dirs["landed"]
        self.ops = {op: OpRecord() for op in self.workload.ops}
        self.session: dict[str, float] = {}
        self.spark = None
        self.listener = None
        self.executions = 0
        self.warm_rounds: list[float] = []  # op time of each warm-up pass, s
        self.jit_ms: dict[str, float] = {}  # JVM JIT compile time per phase
        self.measured_rounds: list[float] = []  # op time of each measured round, s

    # -- setup -------------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        from data_etl_sh_lianjia_spark.plans.registry import all_queries
        from data_etl_sh_lianjia_spark.session import get_spark, ingest_tables

        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            extra_conf={
                "spark.sql.warehouse.dir": self.dirs["warehouse"],
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.dirs['tmp']} -XX:-UsePerfData"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.jit = self.spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        registry = all_queries()
        self.queries = {op: registry[op] for op in self.workload.ops}
        t1 = time.perf_counter()
        self.session["session.start_s"] = t1 - t0
        if self.workload.ingest:
            ingest_tables(self.spark, self.landed)
        t2 = time.perf_counter()
        self.session["session.ingest_s"] = t2 - t1
        self.session["session.ingest_bytes"] = float(tree_bytes(self.dirs["ingest"]))
        if self.trace:
            import layers

            # The first listener starts Py4J's callback server; pay that here.
            self.listener = layers.StreamProgress()
            self.spark.streams.addListener(self.listener)
            self.spark.streams.removeListener(self.listener)
        jit0 = self.jit.getTotalCompilationTime()
        passes = self.warm_up()
        t3 = time.perf_counter()
        jit1 = self.jit.getTotalCompilationTime()
        self.jit_ms = {"setup": float(jit0), "warmup": float(jit1 - jit0)}
        self.session["session.warmup_s"] = t3 - t2
        self.session["session.warmup_passes"] = float(passes)
        self.setup_s = t3 - t0

    def warm_up(self) -> int:
        """Untimed passes until every op is steady (bounded by max_passes)."""
        w = self.workload
        passes: list[dict[str, float]] = []
        while len(passes) < w.max_passes:
            passes.append(self.run_round(f"warm{len(passes)}", traced=False, measured=False))
            self.warm_rounds.append(sum(passes[-1].values()))
            if len(passes) >= max(w.min_passes, 2 * w.window) and steady(
                passes[-2 * w.window : -w.window], passes[-w.window :]
            ):
                break
        return len(passes)

    # -- rounds --------------------------------------------------------------

    def run_round(self, key: str, traced: bool, measured: bool) -> dict[str, float]:
        order = list(self.workload.ops)
        random.Random(f"{self.seed}:{key}").shuffle(order)
        if traced:
            self.spark.streams.addListener(self.listener)
        try:
            walls = {}
            for op in order:
                wall = self.run_op(op, traced, measured)
                if wall is not None:
                    walls[op] = wall
            return walls
        finally:
            if traced:
                self.spark.streams.removeListener(self.listener)

    def run_op(self, op: str, traced: bool, measured: bool) -> float | None:
        rec = self.ops[op]
        sc = self.spark.sparkContext
        self.executions += 1
        group = f"perfbench-{self.executions}"
        if measured:
            rec.attempted += 1
        try:
            t0 = time.perf_counter()
            if traced:
                sc.setJobGroup(group, op)
            df = self.queries[op].spark_fn(self.spark, self.landed)
            t1 = time.perf_counter()
            table = df.toArrow()
            t2 = time.perf_counter()
        except Exception as exc:  # an op error is a counted failure
            rec.errors.append(f"{type(exc).__name__}: {str(exc)[:300]}")
            if measured:
                rec.failed += 1
            return None
        finally:
            if traced:
                sc._jsc.clearJobGroup()
        wall = t2 - t0
        if not self.check(rec, table) and measured:
            rec.failed += 1
        if measured:
            (rec.traced_walls if traced else rec.walls).append(wall)
        if traced:
            rec.layers.append(self.trace_op(df, table, group, t1 - t0, t2 - t1, wall))
        return wall

    def check(self, rec: OpRecord, table) -> bool:
        """The first result is kept for the oracle; later ones must hash equal."""
        digest = result_digest(table)
        if rec.ref is None:
            rec.ref = (table.column_names, [tuple(r.values()) for r in table.to_pylist()])
            rec.ref_hash = digest
            return True
        if digest != rec.ref_hash:
            rec.errors.append("result differs from the run's first result")
            return False
        return True

    def trace_op(self, df, table, group, build_s, fetch_s, wall_s) -> dict[str, float]:
        import layers

        layers.drain_listener_bus(self.spark)
        out = {
            "registry.build_ms": build_s * 1e3,
            "exec.fetch_ms": fetch_s * 1e3,
            "wall_ms": wall_s * 1e3,
            "arrow.result_rows": float(table.num_rows),
            "arrow.result_bytes": float(table.nbytes),
        }
        out.update(layers.catalyst(df))
        out.update(layers.jobs(self.spark, group))
        out.update(layers.streaming(self.listener.take()))
        return out

    def measure(self) -> None:
        """Whole rounds until ``seconds`` have passed, and at least the
        workload's ``rounds``. A traced run alternates untraced and traced
        rounds and does at least two of each."""
        if self.listener is not None:
            self.listener.take()
        jit0 = self.jit.getTotalCompilationTime()
        end = time.perf_counter() + self.seconds
        least = max(self.workload.rounds, 4) if self.trace else self.workload.rounds
        n = 0
        while n < least or time.perf_counter() < end or (self.trace and n % 2):
            walls = self.run_round(f"m{n}", traced=self.trace and n % 2 == 1, measured=True)
            self.measured_rounds.append(sum(walls.values()))
            n += 1
        self.jit_ms["measured"] = float(self.jit.getTotalCompilationTime() - jit0)

    # -- teardown and report -------------------------------------------------

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def oracle_check(self) -> dict[str, str]:
        """Compare each op's first result with its DuckDB oracle."""
        import duckdb

        from data_etl_sh_lianjia_spark.canon import compare_results
        from data_etl_sh_lianjia_spark.session import TABLES, table_path

        con = duckdb.connect()
        for t in TABLES:
            path = table_path(self.landed, t)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        verdicts = {}
        for op, rec in self.ops.items():
            if rec.ref is None:
                verdicts[op] = "no result"
                continue
            cur = con.execute(self.queries[op].oracle)
            duck_cols = [d[0] for d in cur.description]
            res = compare_results(rec.ref[1], rec.ref[0], cur.fetchall(), duck_cols)
            verdicts[op] = res.reason if res.ok else f"MISMATCH: {res.reason}"
            if not res.ok:
                # every measured result hashed equal to (or differed from)
                # a wrong reference: none of them is correct
                rec.failed = rec.attempted
        con.close()
        return verdicts

    def pooled(self) -> list[float]:
        """Every untraced measured op latency, in seconds."""
        return [w for rec in self.ops.values() for w in rec.walls]

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "round_s": sum(median(rec.walls) for rec in self.ops.values()),
            "op_p50_ms": median(self.pooled()) * 1e3,
        }

    def per_layer(self, names, landed_bytes: int) -> tuple[dict[str, float], list[str]]:
        import layers

        out = dict.fromkeys(names, 0.0)
        out.update(self.session)
        out["session.storage_ratio"] = self.session["session.ingest_bytes"] / landed_bytes
        drift = []
        wall_ms = 0.0
        for op, rec in self.ops.items():
            if not rec.layers:
                continue
            for k in rec.layers[0].keys() & out.keys():
                out[k] += median([r[k] for r in rec.layers])
            wall_ms += median([r["wall_ms"] for r in rec.layers])
            counts = {tuple(r[k] for k in layers.COUNTS) for r in rec.layers}
            if len(counts) > 1:
                drift.append(f"{op}: {sorted(counts)}")
        if wall_ms:
            out["exec.cpu_busy"] = out["exec.task_cpu_ms"] / (wall_ms * self.cores)
        out["exec.count_drift_ops"] = float(len(drift))
        for op, metric in DML_OPS.items():
            if op in self.ops:
                out[metric] = median(self.ops[op].walls) * 1e3
                out["dml_s"] += median(self.ops[op].walls)
        for op in STREAM_OPS:
            if op in self.ops:
                out["stream_s"] += median(self.ops[op].walls)
        untraced = sum(median(rec.walls) for rec in self.ops.values())
        traced = sum(median(rec.traced_walls) for rec in self.ops.values())
        if untraced:
            out["trace.overhead_pct"] = (traced / untraced - 1.0) * 100.0
        return out, drift


def result_digest(table) -> int:
    """Order-insensitive fingerprint of a result: the schema with columns in
    name order plus the sorted per-row hashes."""
    import numpy as np
    import pandas as pd

    t = table.select(sorted(table.column_names))
    rows = pd.util.hash_pandas_object(t.to_pandas(), index=False).to_numpy()
    return hash((str(t.schema), np.sort(rows).tobytes()))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def steady(before: list[dict[str, float]], last: list[dict[str, float]]) -> bool:
    """Whether the ``last`` passes are no longer getting faster than ``before``."""

    def mean(passes, op=None):
        return statistics.fmean(p[op] if op else sum(p.values()) for p in passes)

    if mean(last) < STEADY_ROUND * mean(before):
        return False
    ops = set.intersection(*(set(p) for p in before + last))
    return all(mean(last, op) >= STEADY_OP * mean(before, op) for op in ops)


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(dirpath, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def isolate(run_dir: str, cores: int) -> dict[str, str]:
    """Fresh per-run directories; the engine and Spark are pointed at them."""
    dirs = {k: os.path.join(run_dir, k) for k in ("landed", "ingest", "warehouse", "tmp", "local")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        SPARK_GRAFT_INGEST_ROOT=dirs["ingest"],
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
    )
    tempfile.tempdir = None
    return dirs


def engine_leftovers(before: set[str]) -> list[str]:
    """Files the engine left under its fixed /tmp paths during this run."""
    pid = os.getpid()
    paths = [
        os.path.join(ENGINE_TMP, f"{ENGINE}-{pid}.zip"),
        os.path.join(ENGINE_TMP, f"google-protobuf-ship-{pid}.zip"),
    ]
    if os.path.isdir(ENGINE_CLOSED_EVENTS):
        paths += [
            os.path.join(ENGINE_CLOSED_EVENTS, e)
            for e in os.listdir(ENGINE_CLOSED_EVENTS)
            if e not in before
        ]
    return [p for p in paths if os.path.exists(p)]


def remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path):
        os.remove(path)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "session.py")):
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    # metric names and units are declared once, in BENCHMARK.json
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    closed_before = (
        set(os.listdir(ENGINE_CLOSED_EVENTS)) if os.path.isdir(ENGINE_CLOSED_EVENTS) else set()
    )
    runs = os.path.join(ROOT, RUNS_DIR)
    run_dir = os.path.join(runs, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    try:
        dirs = isolate(run_dir, cores)
        landed_bytes = datagen.write_landing(dirs["landed"], args.seed)
        bench = Bench(args, cores, dirs)
        try:
            bench.setup()
            bench.measure()
        finally:
            bench.shutdown()
        t0 = time.perf_counter()
        verdicts = bench.oracle_check()
        oracle_s = time.perf_counter() - t0
    finally:
        remove(run_dir)
        for path in engine_leftovers(closed_before):
            remove(path)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)

    if args.trace:
        metrics, drift = bench.per_layer([m["name"] for m in declared], landed_bytes)
    else:
        metrics, drift = bench.end_to_end(), []
    pooled = bench.pooled()
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "warmup_rounds_s": [round(t, 3) for t in bench.warm_rounds],
        "rounds_s": [round(t, 3) for t in bench.measured_rounds],
        "oracle_s": round(oracle_s, 3),
        # compile time of the JVM's JIT threads (ms, summed over threads) in
        # engine start + ingest, warm-up and the measured rounds
        "jit_compile_ms": bench.jit_ms,
        "op_samples": len(pooled),
        # a tail percentile only where at least ten samples lie beyond it
        "op_p90_ms": (
            statistics.quantiles(pooled, n=10)[8] * 1e3 if len(pooled) >= 100 else None
        ),
        "ops": {
            op: {
                "median_ms": round(median(rec.walls) * 1e3, 2),
                "n": len(rec.walls),
                "oracle": verdicts[op],
                "errors": rec.errors[:3],
            }
            for op, rec in bench.ops.items()
        },
        "count_drift": drift,
    }
    failed = sum(rec.failed for rec in bench.ops.values())
    clean = not any(rec.errors for rec in bench.ops.values())
    result = {
        "correct": failed == 0 and clean and all(v == "exact" for v in verdicts.values()),
        "attempted": sum(rec.attempted for rec in bench.ops.values()),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared
        },
    }
    print(json.dumps({"perfbench": details}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

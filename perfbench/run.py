"""Oracle-checked benchmark of the engine, driven through its public
functions only.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload serve --seed 1 --check-only --cycles 3

Workloads (see workloads.py): `analytic` (23 headline rows) and `serve`
(one long-lived SparkEngine answering a search/document/upload mix). Each
is a closed loop with one client in one process with one SparkSession on
local[<cores>].

A run primes the checkout first if needed (prime.py, in a child process),
then sets up (session start, workload prepare, one checked warm pass; that
is `setup_s`), then runs whole cycles of the seeded stream until
`--seconds` of op time have passed, checking every op's output outside
the timer. The last stdout line is one JSON object: with `--trace 0` the
end-to-end metrics, with `--trace 1` the per-layer metrics of a traced
run.
`--check-only` replays `--cycles` cycles of a seed's stream with every
check and no timer.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402
from perfbench import trace as tr  # noqa: E402
from perfbench.workloads import ANALYTIC_ROWS, SERVE_KINDS  # noqa: E402

WORKLOADS = ("analytic", "serve")

END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("latency_p50_s", "s"),
    ("driver_rss_mb", "MB"),
    ("store_mb", "MB"),
)

API_METRICS = {
    "keyword": "api.search.keyword_s",
    "vector": "api.search.vector_s",
    "hybrid": "api.search.hybrid_s",
    "get_context": "api.get_context_s",
    "get_document": "api.get_document_s",
    "get_document_chunks": "api.get_document_chunks_s",
    "upload": "api.upload_s",
}

PER_LAYER = (
    (("latency_p90_s", "s"), ("session.get_spark_s", "s"), ("build.self_s", "s"))
    + tuple((f"query.{r}_s", "s") for r in ANALYTIC_ROWS)
    + (
        ("catalyst.analysis_s", "s"),
        ("catalyst.optimization_s", "s"),
        ("catalyst.planning_s", "s"),
        ("spark.job_s", "s"),
        ("spark.executor_run_s", "s"),
        ("spark.executor_cpu_s", "s"),
        ("spark.jobs_per_op", "count"),
        ("spark.tasks_per_op", "count"),
        ("spark.single_task_jobs_per_op", "count"),
        ("spark.core_busy_ratio", "ratio"),
        ("spark.input_mb_per_op", "MB"),
        ("spark.shuffle_mb_per_op", "MB"),
        ("spark.spill_mb_per_op", "MB"),
        ("spark.output_mb_per_op", "MB"),
        ("collect.tail_s", "s"),
        ("op.driver_s", "s"),
    )
    + tuple((API_METRICS[k], "s") for k in SERVE_KINDS)
    + (
        ("api.close.indexes_released", "count"),
        ("jvm.rss_mb", "MB"),
        ("jvm.heap_live_mb", "MB"),
        ("jvm.write_mb_per_op", "MB"),
        ("driver.write_mb_per_op", "MB"),
        ("store.files", "count"),
        ("trace.overhead_ratio", "ratio"),
    )
)

MB = 1024.0 * 1024.0


def make_workload(name: str, base: str, answers: dict):
    from perfbench import oracle
    from perfbench.workloads import RowWorkload, ServeWorkload

    sf = str(common.base_dir(base))
    if name == "analytic":
        return RowWorkload(name, ANALYTIC_ROWS, sf, answers)
    con = oracle.connect(sf)
    (n_docs,) = con.execute("SELECT count(*) FROM documents").fetchone()
    con.close()
    return ServeWorkload(sf, n_docs)


class Tally:
    """Ops attempted, ops failed (raised or mismatched), first failures."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def record(self, label: str, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(f"{label}: {reason}")


def run_op(wl, op, clock, tally: Tally):
    """Run one op; an op that raises counts as failed and returns None."""
    try:
        return wl.run(op, clock)
    except Exception as e:
        tally.record(op.kind, f"raised {type(e).__name__}: {e}")
        return None


def check_op(wl, op, out, tally: Tally) -> None:
    """Check one op's output; called outside the op's timed interval."""
    if out is None:
        return
    try:
        reason = wl.check(op, out)
    except Exception as e:
        reason = f"check raised {type(e).__name__}: {e}"
    tally.record(op.kind, reason)


class LayerSums:
    """Per-op layer figures of a traced run, summed for per-op means."""

    def __init__(self) -> None:
        self.ops = 0
        self.sum: dict[str, float] = defaultdict(float)
        self.by_kind: dict[str, list[float]] = defaultdict(list)
        self.walls: list[float] = []
        self.with_probe: list[float] = []
        self.max_gap = 0.0

    def add(self, op, layers: dict, rec: dict, probe_s: float) -> None:
        self.max_gap = max(self.max_gap, tr.check_sum(layers))
        self.ops += 1
        self.by_kind[op.kind].append(layers["wall"])
        self.walls.append(layers["wall"])
        self.with_probe.append(layers["wall"] + probe_s)
        for part in (layers, rec):
            for k, v in part.items():
                if k != "jobs":
                    self.sum[k] += v

    def metrics(self, cores: int) -> dict[str, float]:
        n = max(self.ops, 1)
        s = self.sum
        job_s = s["job"]
        out = {
            "build.self_s": s["build.self"] / n,
            "catalyst.analysis_s": s["catalyst.analysis"] / n,
            "catalyst.optimization_s": s["catalyst.optimization"] / n,
            "catalyst.planning_s": s["catalyst.planning"] / n,
            "spark.job_s": job_s / n,
            "spark.executor_run_s": s["run_ms"] / 1e3 / n,
            "spark.executor_cpu_s": s["cpu_ns"] / 1e9 / n,
            "spark.jobs_per_op": s["n_jobs"] / n,
            "spark.tasks_per_op": s["tasks"] / n,
            "spark.single_task_jobs_per_op": s["single_task_jobs"] / n,
            "spark.core_busy_ratio": (s["run_ms"] / 1e3) / (job_s * cores) if job_s else 0.0,
            "spark.input_mb_per_op": s["input"] / MB / n,
            "spark.shuffle_mb_per_op": s["shuffle"] / MB / n,
            "spark.spill_mb_per_op": s["spill"] / MB / n,
            "spark.output_mb_per_op": s["output"] / MB / n,
            "collect.tail_s": s["tail"] / n,
            "op.driver_s": s["driver"] / n,
            "jvm.write_mb_per_op": s["jvm_write"] / MB / n,
            "driver.write_mb_per_op": s["driver_write"] / MB / n,
            "latency_p90_s": p90(self.walls),
            "trace.overhead_ratio": statistics.median(self.with_probe) / statistics.median(self.walls),
        }
        for r in ANALYTIC_ROWS:
            w = self.by_kind.get(r)
            out[f"query.{r}_s"] = statistics.fmean(w) if w else 0.0
        for k, name in API_METRICS.items():
            w = self.by_kind.get(k)
            out[name] = statistics.fmean(w) if w else 0.0
        return out


def timed_cycles(wl, seed: int, seconds: float, step) -> list[float]:
    """Run whole cycles of the stream until `seconds` of op time; returns
    the op latencies."""
    lat: list[float] = []
    cycle = 0
    while sum(lat) < seconds or not lat:
        for i, op in enumerate(wl.cycle_ops(seed, cycle)):
            lat.append(step(op, f"{wl.name}:{cycle}:{i}:{op.kind}"))
        cycle += 1
    return lat


def untraced_step(wl, tally: Tally):
    def step(op, _group):
        t0 = time.perf_counter()
        out = run_op(wl, op, time.perf_counter, tally)
        wall = time.perf_counter() - t0 if out is None else out.marks["done"] - out.marks["t0"]
        check_op(wl, op, out, tally)
        return wall

    return step


def traced_step(wl, probe: tr.SparkProbe, tally: Tally, sums: LayerSums):
    """Like untraced_step, with the op's layers read back around it. The
    op wall excludes the tracing work; `probe_s` is that work, so the
    overhead ratio compares op latency with and without it."""

    def step(op, group):
        b0 = time.perf_counter()
        mark = probe.begin(group)
        b1 = time.perf_counter()
        out = run_op(wl, op, time.time, tally)
        e0 = time.perf_counter()
        rec = probe.end(mark)
        if out is None:
            return e0 - b1
        m = out.marks
        if "built" in m:
            phases = tr.catalyst_phases(out.result[0])
            layers = tr.query_layers(m["t0"], m["built"], m["done"], phases, rec)
        else:
            layers = tr.api_layers(m["t0"], m["done"], rec)
        sums.add(op, layers, rec, probe_s=(b1 - b0) + (time.perf_counter() - e0))
        check_op(wl, op, out, tally)
        return layers["wall"]

    return step


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def run(args) -> dict:
    base = args.base
    common.setup_env(base)
    common.check_pins(base)
    from perfbench import prime

    if not prime.is_primed(base):
        subprocess.run(
            [sys.executable, "-m", "perfbench.prime", "--base", base],
            cwd=common.ROOT,
            stdout=sys.stderr,
            check=True,
        )
    answers = prime.load_answers(base)
    record = prime.load_record(base)

    tally = Tally()
    t_setup = time.perf_counter()
    wl = make_workload(args.workload, base, answers)
    t0 = time.perf_counter()
    spark = common.start_spark(f"perfbench-{args.workload}", base)
    get_spark_s = time.perf_counter() - t0
    metrics: dict[str, float] = {}
    closed: dict = {}
    sums = LayerSums()
    try:
        wl.prepare(spark)
        checked = untraced_step(wl, tally)
        for op in wl.warm_ops(args.seed):
            checked(op, None)
        setup_s = time.perf_counter() - t_setup

        if args.check_only:
            for cycle in range(args.cycles):
                for op in wl.cycle_ops(args.seed, cycle):
                    checked(op, None)
        elif not args.trace:
            lat = timed_cycles(wl, args.seed, args.seconds, untraced_step(wl, tally))
            metrics.update(
                setup_s=setup_s,
                ops_per_s=len(lat) / sum(lat),
                latency_p50_s=statistics.median(lat),
            )
        else:
            probe = tr.SparkProbe(spark)
            timed_cycles(wl, args.seed, args.seconds, traced_step(wl, probe, tally, sums))
            metrics.update(sums.metrics(probe.cores))
            metrics["session.get_spark_s"] = get_spark_s
        if args.trace:
            metrics["jvm.rss_mb"] = tr.proc_hwm_mb(tr.jvm_pid(spark))
            metrics["jvm.heap_live_mb"] = tr.jvm_live_heap_mb(spark)
    finally:
        try:
            closed = wl.close()
        finally:
            common.stop_spark(spark)

    store_bytes, store_files = tr.warehouse_stats(str(common.ROOT / "spark-warehouse"))
    if args.trace and not args.check_only:
        metrics["api.close.indexes_released"] = float(closed.get("indexes", 0))
        metrics["store.files"] = float(store_files)
        print(json.dumps({"trace_max_sum_gap": sums.max_gap}))
    elif not args.check_only:
        metrics.update(driver_rss_mb=tr.proc_hwm_mb("self"), store_mb=store_bytes / MB)
    if args.workload == "analytic":
        print(json.dumps({"context": {"duckdb_s_per_row": record["duckdb_s"]}}))
    if tally.errors:
        print(json.dumps({"failures": tally.errors}))

    names = END_TO_END if not args.trace else PER_LAYER
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {}
        if args.check_only
        else {n: {"value": float(metrics[n]), "unit": u} for n, u in names},
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-only", action="store_true", help="replay with checks, no timer")
    ap.add_argument("--cycles", type=int, default=3, help="cycles replayed by --check-only")
    ap.add_argument("--base", default="sf0.1", help="pinned base tables under perfbench/data")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        result = run(args)
    except common.Refused as e:
        print(f"perfbench: refused: {e}", file=sys.stderr)
        return 3
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

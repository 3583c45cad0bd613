"""Layer spans for one benchmark op, measured from outside the engine.

An op's wall splits into layers, each measured directly:

- `build`: the registered callable returning its DataFrame;
- `collect`: `toPandas()` on it;
- `catalyst.<phase>`: the `QueryPlanningTracker` phases of the op's
  DataFrame that fall inside the op;
- `spark.job`: every Spark job the op started, read back from the status
  store (the jobs carry a job group named after the op; jobs that a
  streaming query starts on its own thread run under the stream's group,
  so jobs are taken by id range instead);
- `collect.tail`: from the last job or planning phase inside `collect` to
  `toPandas()` returning;
- `op.driver`: what is left, i.e. driver time no child span covers.

Overlaps are resolved by precedence (job, then catalyst, then tail), so
each instant of the op is charged to exactly one layer and the self times
sum to the wall; `check_sum` asserts that they do.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError


def _merge(ivs):
    out = []
    for a, b in sorted(iv for iv in ivs if iv[1] > iv[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _length(ivs) -> float:
    return sum(b - a for a, b in _merge(ivs))


def _clip(ivs, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in ivs if min(b, hi) > max(a, lo)]


def _minus(ivs, cover) -> float:
    """Length of the union of `ivs` not covered by the union of `cover`."""
    ivs = _merge(ivs)
    return _length(ivs) - sum(_length(_clip(cover, a, b)) for a, b in ivs)


def proc_io_wchar(pid: int | str) -> int:
    with open(f"/proc/{pid}/io") as fh:
        for line in fh:
            if line.startswith("wchar:"):
                return int(line.split()[1])
    return 0


def proc_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class SparkProbe:
    """Reads per-op job and stage figures from the Spark driver's status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self.cores = self.sc.defaultParallelism
        self.jvm_pid = jvm_pid(spark)

    def begin(self, group: str) -> dict:
        self.sc.setJobGroup(group, group)
        return {
            "job0": self._dag.nextJobId(),
            "jvm_w": proc_io_wchar(self.jvm_pid),
            "drv_w": proc_io_wchar("self"),
        }

    def end(self, mark: dict) -> dict:
        """Job intervals (epoch s) and summed stage metrics of the jobs
        started since `begin`."""
        job1 = self._dag.nextJobId()
        jvm_w = proc_io_wchar(self.jvm_pid)
        drv_w = proc_io_wchar("self")
        self._bus.waitUntilEmpty(10_000)
        jobs, stages = [], set()
        tot = dict.fromkeys(
            ("run_ms", "cpu_ns", "input", "output", "shuffle", "spill", "tasks"), 0
        )
        single = 0
        for j in range(mark["job0"], job1):
            jd = self._store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                jobs.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            ntask = jd.numCompletedTasks()
            tot["tasks"] += ntask
            single += ntask == 1
            sids = jd.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in stages:
                    continue
                stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # never attempted: skipped in full
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                tot["run_ms"] += st.executorRunTime()
                tot["cpu_ns"] += st.executorCpuTime()
                tot["input"] += st.inputBytes()
                tot["output"] += st.outputBytes()
                tot["shuffle"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                tot["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return {
            "jobs": jobs,
            "n_jobs": job1 - mark["job0"],
            "single_task_jobs": single,
            "jvm_write": jvm_w - mark["jvm_w"],
            "driver_write": drv_w - mark["drv_w"],
            **tot,
        }


def jvm_live_heap_mb(spark) -> float:
    """JVM heap in use right after a full collection: the retained set."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0)


def jvm_pid(spark) -> int:
    """Pid of the JVM behind the session's py4j gateway."""
    return spark.sparkContext._gateway.proc.pid


def catalyst_phases(df) -> dict[str, tuple[float, float]]:
    """QueryPlanningTracker phase intervals (epoch s) of a DataFrame."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            p = opt.get()
            out[name] = (p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0)
    return out


def query_layers(t0, t_built, t_done, phases, spark_rec) -> dict[str, float]:
    """Self time per layer of one registered-row op (seconds)."""
    jobs = _clip(spark_rec["jobs"], t0, t_done)
    wall = t_done - t0
    ph = {k: _clip([iv], t0, t_done) for k, iv in phases.items()}
    all_ph = [iv for v in ph.values() for iv in v]
    covered = jobs + all_ph
    # The tail starts where the last job or planning phase inside collect ends.
    inside = [b for a, b in covered if b > t_built]
    tail0 = max([t_built] + inside)
    tail = [(tail0, t_done)]
    out = {"job": _length(jobs)}
    for k, v in ph.items():
        out[f"catalyst.{k}"] = _minus(v, jobs)
    out["tail"] = _minus(tail, covered)
    covered_all = covered + tail
    out["build.self"] = _minus([(t0, t_built)], covered_all)
    out["driver"] = _minus([(t_built, t_done)], covered_all)
    out["wall"] = wall
    return out


def api_layers(t0, t_done, spark_rec) -> dict[str, float]:
    """Self time per layer of one API-call op: jobs, and driver time."""
    jobs = _clip(spark_rec["jobs"], t0, t_done)
    job = _length(jobs)
    return {"job": job, "driver": (t_done - t0) - job, "wall": t_done - t0}


def check_sum(layers: dict[str, float], tolerance: float = 0.05) -> float:
    """Relative gap between the layers' self times and the op's wall;
    raises if it exceeds `tolerance`."""
    parts = sum(v for k, v in layers.items() if k != "wall")
    wall = layers["wall"]
    gap = abs(parts - wall) / wall if wall > 0 else 0.0
    if gap > tolerance:
        raise AssertionError(f"layer self times sum to {parts:.4f}s, op wall {wall:.4f}s")
    return gap


def warehouse_stats(root: str) -> tuple[int, int]:
    """(bytes, files) under a directory tree."""
    total = files = 0
    for d, _dirs, names in os.walk(root):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(d, n))
            except OSError:
                continue
            files += 1
    return total, files


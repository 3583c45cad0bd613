"""Paths, process environment and Spark session lifetime shared by the
benchmark's entry points. Everything the benchmark reads or writes stays
inside the checkout it runs from."""

from __future__ import annotations

import json
import os
import subprocess
from pathlib import Path

from . import oracle

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
PINS = BENCH / "pins.json"


class Refused(RuntimeError):
    """The checkout cannot be benchmarked (missing engine, changed data)."""


def base_dir(base: str) -> Path:
    return BENCH / "data" / base


def state_dir(base: str) -> Path:
    return BENCH / ".state" / base


def setup_env(base: str) -> None:
    """Point every scratch location Spark and Python use into the state
    directory, and size the session to this host's cores."""
    if not (ROOT / "etl_pdf_pipepline_spark" / "__init__.py").is_file():
        raise Refused(f"engine package not found under {ROOT}")
    tmp = state_dir(base) / "tmp"
    (tmp / "spark-local").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.chdir(ROOT)


def check_pins(base: str) -> None:
    """Refuse to run when a base table's content digest is not the pinned one."""
    pinned = json.loads(PINS.read_text())[base]
    got = oracle.table_digests(str(base_dir(base)))
    bad = [t for t in pinned if pinned[t] != got.get(t)]
    if bad:
        raise Refused(f"base tables differ from their pinned digests: {bad}")


def start_spark(app: str, base: str):
    from etl_pdf_pipepline_spark.session import get_spark

    tmp = state_dir(base) / "tmp"
    return get_spark(
        app,
        data_dir=str(base_dir(base)),
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"},
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and the JVM's Python
    workers) to exit; the JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)

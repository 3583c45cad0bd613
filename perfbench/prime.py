"""Prime a checkout once: build every served artifact the workloads read
and cache each row's normalized DuckDB answer.

    python3 -m perfbench.prime [--base sf0.1]

`run.py` starts this in a child process when the checkout is not primed,
so the set-up a run measures never includes it. The record it writes
(`.state/<base>/primed.json`) holds the pinned digests it primed against
and the DuckDB wall of each analytic row, which `run.py` prints as
ungated context.
"""

from __future__ import annotations

import argparse
import importlib
import json
import pickle
import sys
import time

from . import common, oracle
from .workloads import ANALYTIC_ROWS, PREPARE_STEPS


def is_primed(base: str) -> bool:
    rec = common.state_dir(base) / "primed.json"
    if not rec.is_file() or not (common.state_dir(base) / "answers.pkl").is_file():
        return False
    pins = json.loads(common.PINS.read_text())[base]
    return json.loads(rec.read_text()).get("pins") == pins


def load_answers(base: str) -> dict:
    with open(common.state_dir(base) / "answers.pkl", "rb") as fh:
        return pickle.load(fh)


def load_record(base: str) -> dict:
    return json.loads((common.state_dir(base) / "primed.json").read_text())


def prime(base: str) -> dict:
    common.setup_env(base)
    common.check_pins(base)
    sf = str(common.base_dir(base))

    from etl_pdf_pipepline_spark.registry import all_oracles

    spark = common.start_spark("perfbench-prime", base)
    prepared, skipped = [], []
    try:
        for mod, fn in PREPARE_STEPS:
            step = getattr(importlib.import_module(mod), fn, None)
            if step is None:
                skipped.append(f"{mod}.{fn}")
                continue
            step(spark, sf)
            prepared.append(f"{mod}.{fn}")
    finally:
        common.stop_spark(spark)

    oracles = all_oracles()
    con = oracle.connect(sf)
    answers, duck_walls = {}, {}
    try:
        for r in ANALYTIC_ROWS:
            con.execute(oracles[r]).fetchall()
            t0 = time.perf_counter()
            answers[r] = oracle.duck_answer(con, oracles[r])
            duck_walls[r] = time.perf_counter() - t0
    finally:
        con.close()

    state = common.state_dir(base)
    with open(state / "answers.pkl", "wb") as fh:
        pickle.dump(answers, fh)
    record = {
        "pins": json.loads(common.PINS.read_text())[base],
        "prepared": prepared,
        "prepare_steps_missing": skipped,
        "duckdb_s": duck_walls,
    }
    (state / "primed.json").write_text(json.dumps(record, indent=1) + "\n")
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="sf0.1")
    args = ap.parse_args(argv)
    try:
        prime(args.base)
    except common.Refused as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""One measured run in a fresh driver process: set-up, warm-up, timed passes.

    python3 perfbench/job.py --data DIR --out DIR --result FILE --seconds S [--snapshot DIR]

Builds the session and registers the input tables (set-up), then runs the
shipped job entry ``jobs/spans_extract.main`` on the pre-generated tables,
pass after pass, each into its own output dir under ``--out``: WARMUP
untimed passes first, then timed passes until ``--seconds`` have passed
(at least MIN_TIMED). With ``--snapshot``, every pass starts from that
cache, restored before the pass. Each pass is timed until results, cache,
progress and quarantine are written. The host's speed is calibrated
(``calib.py``) before set-up and between passes. Writes one JSON object
to ``--result``: the set-up window and, per pass, the job window as epoch
seconds, the process-tree CPU over it, the JVM's peak RSS and
old-generation peak, the job's own summary and the calibrations on either
side.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import calib  # noqa: E402
import common  # noqa: E402

# JIT and Spark's generated code keep the first pass slow (measured on a
# 4-core VM, 10k docs, local[2]: 14.8, then 7.2, 6.9, 6.2, 6.1, 5.8, 6.2 s).
# A run holds one warm-up and one timed pass, because the whole measurement
# (22 runs per workload) has to fit in an hour; the second pass still
# carries some JIT work, the same in every run
WARMUP = 1
MIN_TIMED = 1


def run_job(spark, data: str, out: str) -> dict:
    """Run the shipped job entry on the tables under ``data``; returns the
    job window (epoch seconds), its process-tree CPU, the JVM's peak RSS
    so far, its old-generation peak and the job summary."""
    from jobs.spans_extract import main as spans_extract

    me = os.getpid()
    cpu0 = common.tree_cpu_s(me)
    t0 = time.time()
    summary = spans_extract([
        "--input-table", os.path.join(data, "docs"),
        "--media-table", os.path.join(data, "media"),
        "--office-table", os.path.join(data, "office"),
        "--out", out, "--run-id", common.RUN_ID,
    ], spark=spark)
    t1 = time.time()
    return {"t0": t0, "t1": t1, "cpu_s": common.tree_cpu_s(me) - cpu0,
            "peak_rss_mb": common.jvm_peak_rss_mb(me),
            "old_gen_peak_mb": common.old_gen_peak_mb(spark), "summary": summary}


def run_passes(spark, cal, data: str, out: str, snapshot: str | None,
               seconds: float) -> list[dict]:
    """WARMUP passes, then timed passes until ``seconds`` have passed (at
    least MIN_TIMED). Before each pass, outside the job windows: the
    pass's output dir is made (with the cache restored from ``snapshot``),
    the JVM is collected and its old-generation peak reset, and the host's
    speed is calibrated (``cal``, a ``calib.Calibrator``), once more after
    the last pass; each pass records the calibrations on either side."""
    passes: list[dict] = []
    timed_from = None
    while True:
        n = len(passes)
        if n == WARMUP:
            timed_from = time.time()
        if (timed_from is not None and n - WARMUP >= MIN_TIMED
                and time.time() - timed_from >= seconds):
            passes[-1]["cal"].append(cal.measure())
            return passes
        pass_out = os.path.join(out, f"pass{n}")
        os.makedirs(pass_out)
        if snapshot:
            shutil.copytree(snapshot, os.path.join(pass_out, "cache"))
        common.settle(spark)
        before = cal.measure()
        if passes:
            passes[-1]["cal"].append(before)
        r = run_job(spark, data, pass_out)
        passes.append({**r, "out": pass_out, "warmup": n < WARMUP, "cal": [before]})


def setup(data: str):
    """The job's session, with its input tables registered."""
    from text_extract_api_spark.io import read_table

    spark = common.job_session()
    for t in ("docs", "media", "office"):
        read_table(spark, os.path.join(data, t)).schema  # noqa: B018
    return spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--snapshot")
    args = ap.parse_args()

    cal = calib.Calibrator(common.CORES)
    try:
        setup_cal = [cal.measure()]
        start = time.time()
        spark = setup(args.data)
        ready = time.time()
        passes = run_passes(spark, cal, args.data, args.out, args.snapshot, args.seconds)
        setup_cal.append(passes[0]["cal"][0])
        spark.stop()
    finally:
        cal.close()
    with open(args.result, "w") as f:
        json.dump({"start": start, "ready": ready, "setup_cal": setup_cal, "passes": passes}, f)


if __name__ == "__main__":
    main()

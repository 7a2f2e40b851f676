"""Extraction benchmark — one fresh driver process per run.

    python3 perfbench/run.py --workload cold|recrawl --seed N --seconds S --trace 0|1

Single-client closed loop: one ``jobs/spans_extract`` job at a time, all in
one fresh driver process on ``local[<cores/2>]`` (``job.py``): set-up, a
warm-up pass of the job, then timed passes until ``--seconds`` have passed
(at least one). The inputs are generated from ``--seed`` before any timing
(``gen.py``), and every pass's outputs, warm-up included, are checked doc
by doc (``check.py``). Times are scaled to the reference host's speed by a
calibration taken between passes (``calib.py``).

``--trace 0`` prints the end-to-end metrics (medians over the timed
passes; set-up is the process's); ``--trace 1`` runs the warm-up pass,
one untraced timed pass and the traced layers in one process
(``trace.py``) and prints the per-layer metrics. The last stdout line is
one JSON object: correct, attempted, failed, metrics. See README.md.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import calib  # noqa: E402
import common  # noqa: E402

NEEDED = ("jobs/spans_extract.py", "text_extract_api_spark/pipeline.py",
          "tools/corpus_scaleup.py", "tests/oracle.py")
DOCS = 10000
RECRAWL_FRAC = 0.8  # share of the docs the previous crawl saw
WORKLOADS = ("cold", "recrawl")  # recrawl restores the previous crawl's cache
KEEP_CORPORA = 12  # generated corpora kept for reuse, one per seed
DEADLINE_S = 170  # the whole run, generation and checks included


def run_child(name: str, argv: list[str], work: str, deadline: float, evl=None) -> None:
    """Run ``perfbench/<argv[0]>`` in its own process group, then stop and
    wait for everything it started (JVM, pyspark daemon, Python workers)."""
    log = os.path.join(work, f"{name}.log")
    with open(log, "w") as f:
        p = subprocess.Popen([sys.executable, os.path.join(HERE, argv[0]), *argv[1:]],
                             env=common.child_env(work, evl), cwd=common.ROOT, stdout=f,
                             stderr=subprocess.STDOUT, start_new_session=True)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        for _ in range(200):  # grandchildren are not ours to wait on: poll
            if not any(_pgid(pid) == p.pid for pid in _pids()):
                break
            time.sleep(0.05)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"{name}: exit {rc}")


def _pids():
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def _pgid(pid: int):
    try:
        return os.getpgid(pid)
    except OSError:
        return None


def corpus(seed: int, work: str, deadline: float) -> str:
    """The seed's generated inputs, shared by both workloads: built once
    (atomically) and kept for the next runs with that seed."""
    root = os.path.join(common.WORK, "corpora")
    data = os.path.join(root, f"seed{seed}-docs{DOCS}")
    if not os.path.exists(os.path.join(data, "expected.json")):
        tmp = os.path.join(work, "data")
        run_child("gen", ["gen.py", "--out", tmp, "--seed", str(seed), "--docs", str(DOCS),
                          "--recrawl-frac", str(RECRAWL_FRAC)], work, deadline)
        os.makedirs(root, exist_ok=True)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    os.utime(data)
    by_age = sorted(os.listdir(root), key=lambda d: -os.path.getmtime(os.path.join(root, d)))
    for old in by_age[KEEP_CORPORA:]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return data


def fresh_out(work: str, name: str, data: str, recrawl: bool) -> str:
    """A new output dir; for recrawl, the previous crawl's cache restored."""
    out = os.path.join(work, name)
    os.makedirs(out)
    if recrawl:
        shutil.copytree(os.path.join(data, "snapshot"), os.path.join(out, "cache"))
    return out


def check_passes(passes: list[dict], expected: dict) -> list[dict]:
    import check

    return [check.check_job(p["out"], expected["digests"], expected["quarantined"],
                            p["summary"]) for p in passes]


def slowdown(cal: list[float]) -> float:
    """The host's slowdown against the reference host, from the
    calibrations taken right before and right after a timed span
    (calib.py): times are divided by it, rates multiplied."""
    return statistics.mean(cal) / calib.REF_CPU_S


def snapshot_args(data: str, recrawl: bool) -> list[str]:
    return ["--snapshot", os.path.join(data, "snapshot")] if recrawl else []


E2E = {"docs_per_s": "1/s", "cpu_s": "s", "shuffle_mb": "MB"}


def e2e(work, data, recrawl, expected, seconds, deadline):
    """One fresh driver process: set-up, warm-up pass, timed passes; the
    metrics are medians over the timed passes, set-up is the process's."""
    evl = os.path.join(work, "evl")
    res = os.path.join(work, "job.json")
    run_child("job", ["job.py", "--data", data, "--out", os.path.join(work, "out"),
                      "--result", res, "--seconds", str(seconds),
                      *snapshot_args(data, recrawl)], work, deadline, evl)
    with open(res) as f:
        r = json.load(f)
    checks = check_passes(r["passes"], expected)
    timed = [p for p in r["passes"] if not p["warmup"]]
    stages = common.stages_between(evl, [(p["t0"], p["t1"]) for p in timed])
    per_pass = [{
        "docs_per_s": expected["docs"] / (p["t1"] - p["t0"]) * slowdown(p["cal"]),
        "cpu_s": p["cpu_s"] / slowdown(p["cal"]),
        "shuffle_mb": sum(x["sh_w_mb"] for x in st),
    } for p, st in zip(timed, stages)]
    for p, x in zip(timed, per_pass):
        print(f"pass: wall {p['t1'] - p['t0']:.3f} s, cpu {p['cpu_s']:.2f} s, slowdown "
              f"{slowdown(p['cal']):.3f} -> " + ", ".join(f"{m} {x[m]:.3f}" for m in E2E),
              file=sys.stderr)
    metrics = {m: {"value": statistics.median(x[m] for x in per_pass), "unit": u}
               for m, u in E2E.items()}
    setup_s = r["ready"] - r["start"]
    metrics["setup_s"] = {"value": setup_s / slowdown(r["setup_cal"]), "unit": "s"}
    print(f"setup: {setup_s:.3f} s, slowdown {slowdown(r['setup_cal']):.3f}", file=sys.stderr)
    return checks, metrics


def traced(work, data, recrawl, expected, deadline):
    """One traced run: the warm-up pass and one untraced timed pass of the
    job, then the layers (trace.py)."""
    import check

    out = fresh_out(work, "trace_out", data, recrawl)
    evl = os.path.join(work, "trace_evl")
    res = os.path.join(work, "trace.json")
    run_child("trace", ["trace.py", "--data", data, "--job-out", os.path.join(work, "job_out"),
                        "--out", out, "--result", res, *snapshot_args(data, recrawl)],
              work, deadline, evl)
    with open(res) as f:
        tr = json.load(f)
    checks = check_passes(tr["passes"], expected)
    checks.append(check.check_job(out, expected["digests"], expected["quarantined"],
                                  tr["summary"]))
    # one slowdown for the whole trace, so that the layers and the job pass
    # they are reconciled against are scaled alike
    slow = slowdown(tr["passes"][-1]["cal"] + [tr["end_cal"]])
    print(f"trace slowdown {slow:.3f}", file=sys.stderr)
    by = {s["name"]: s for s in tr["spans"]}
    full, flat = by["probe.no_cache_pipeline"], by["probe.flat_no_cache"]
    job = tr["passes"][-1]
    full_st, flat_st, job_st = common.stages_between(
        evl, [(x["t0"], x["t1"]) for x in (full, flat, job)])

    layers = {}
    for s in tr["spans"]:
        if s["parent"] == "probe":
            continue
        layers[s["name"]] = {
            "wall_s": (s["t1"] - s["t0"]) / slow, "cpu_s": (s["cpu1"] - s["cpu0"]) / slow,
            **{k: v for k, v in s.items()
               if k not in ("name", "parent", "t0", "t1", "cpu0", "cpu1")},
        }
    layers["pipeline.reassemble"] = {
        "wall_s": ((full["t1"] - full["t0"]) - (flat["t1"] - flat["t0"])) / slow,
        "cpu_s": ((full["cpu1"] - full["cpu0"]) - (flat["cpu1"] - flat["cpu0"])) / slow,
        "rows_in": flat["rows_out"], "rows_out": full["rows_out"],
        "shuffle_mb": sum(x["sh_w_mb"] for x in full_st) - sum(x["sh_w_mb"] for x in flat_st),
    }
    layers["io.write"]["out_mb"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(os.path.join(out, "results")) for f in fs
        if f.endswith(".parquet")) / 1e6
    wall = job["t1"] - job["t0"]
    top = sum(v["wall_s"] for k, v in layers.items() if by.get(k, {}).get("parent") is None)
    first = tr["passes"][0]
    layers["jobs.spans_extract"] = {
        "wall_s": wall / slow, "cpu_s": job["cpu_s"] / slow, "peak_rss_mb": job["peak_rss_mb"],
        "old_gen_peak_mb": job["old_gen_peak_mb"],
        "overhead_s": wall / slow - top,
        "task_busy_frac": sum(x["run_s"] for x in job_st) / (wall * common.SLOTS),
        "first_pass_s": (first["t1"] - first["t0"]) / slowdown(first["cal"]),
    }
    with open(os.path.join(common.WORK, "last_trace.json"), "w") as f:
        json.dump({"spans": tr["spans"], "passes": tr["passes"], "end_cal": tr["end_cal"],
                   "slowdown": slow, "layers": layers}, f, indent=1)
    metrics = {f"{layer}.{k}": {"value": v, "unit": UNITS.get(k, "count")}
               for layer, vals in layers.items() for k, v in vals.items()}
    return checks, metrics


UNITS = {"wall_s": "s", "cpu_s": "s", "overhead_s": "s", "first_pass_s": "s", "in_mb": "MB",
         "out_mb": "MB", "shuffle_mb": "MB", "peak_rss_mb": "MB", "old_gen_peak_mb": "MB",
         "hit_frac": "ratio", "rep_frac": "ratio", "task_busy_frac": "ratio"}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in NEEDED if not os.path.exists(os.path.join(common.ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    deadline = time.time() + DEADLINE_S
    work = os.path.join(common.WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        data = corpus(args.seed, work, deadline)
        with open(os.path.join(data, "expected.json")) as f:
            expected = json.load(f)
        recrawl = args.workload == "recrawl"
        if args.trace:
            checks, metrics = traced(work, data, recrawl, expected, deadline)
        else:
            checks, metrics = e2e(work, data, recrawl, expected, args.seconds, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(c["failed"] for c in checks)
    correct = failed == 0 and all(c["quarantine_ok"] for c in checks)
    print(json.dumps({
        "correct": correct,
        "attempted": sum(c["attempted"] for c in checks),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

"""Shared plumbing for the extraction benchmark: paths, child-process
environment, process-tree CPU/RSS from ``/proc``, and event-log reading.

Everything the benchmark writes lives under ``.perfbench_work/`` at the
checkout root (git-ignored); Spark's local dirs, temp files and event logs
go to each run's own directory there, removed when the run ends.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = len(os.sched_getaffinity(0))
# every Python-UDF task keeps a JVM task thread and a Python worker busy at
# once, so half the cores as task slots leaves the JIT, GC and the pyspark
# daemon a core instead of queueing them behind tasks
SLOTS = max(1, CORES // 2)
MASTER = f"local[{SLOTS}]"
# below the session's 16g default: the 4-core benchmark box has 15 GB of RAM
DRIVER_MEM = "6g"
RUN_ID = "bench"
CLK_TCK = os.sysconf("SC_CLK_TCK")

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def child_env(work: str, event_log_dir: str | None) -> dict:
    """Environment for every Spark child: workers import the package from
    the checkout, and every byte Spark or Python writes stays in ``work``,
    the run's own directory under WORK."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log_dir
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        SPARK_GRAFT_CPUS=str(SLOTS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_EXTRA_CONF=json.dumps(conf),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    return env


def job_session():
    """The session ``jobs/spans_extract.main`` builds for itself when run
    by spark-submit, built here so set-up is timed apart from the job."""
    from text_extract_api_spark.session import get_spark

    return get_spark(
        "spans_extract", master=MASTER,
        extra_conf={
            "spark.sql.sources.partitionOverwriteMode": "dynamic",
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        },
    )


# ------------------------------------------------------------ process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant, each counted with
    its reaped children (utime + stime + cutime + cstime). Python workers
    that exit are reaped by the pyspark daemon, so their time stays in the
    tree through the daemon's cutime."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (stat field 3): utime..cstime are fields 14-17
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def jvm_peak_rss_mb(root: int) -> float:
    """VmHWM of the (single, local-mode) JVM under ``root``."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            continue
    raise RuntimeError("no JVM found under the Spark driver process")


def _old_gen(spark):
    mf = spark._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if "Old Gen" in pool.getName():
            return pool
    raise RuntimeError("no old-generation memory pool in the Spark driver JVM")


def old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the JVM's old generation since the last
    ``settle``: the data that outlived young collections, where a heap
    blow-up shows. Far steadier run to run than VmHWM, which follows G1's
    adaptive eden sizing."""
    return _old_gen(spark).getPeakUsage().getUsed() / 2**20


def settle(spark) -> None:
    """Start the next pass from the same state: no cached frames, a
    collected heap, and the old-generation peak reset."""
    spark.catalog.clearCache()
    spark._jvm.java.lang.System.gc()
    _old_gen(spark).resetPeakUsage()


# --------------------------------------------------------------- event log


def stage_windows(evl_dir: str) -> dict[int, tuple[float, float]]:
    """Stage id → (first task launch, last task finish), epoch seconds —
    the only event-log fields ``tools/corpus_scaleup.parse_stages`` does
    not already report."""
    import glob

    import pyarrow as pa

    win: dict[int, tuple[float, float]] = {}
    for path in glob.glob(f"{evl_dir}/**/events*", recursive=True):
        if path.endswith(".zstd"):
            data = pa.CompressedInputStream(pa.OSFile(path), "zstd").read()
        else:
            with open(path, "rb") as f:
                data = f.read()
        for raw in data.splitlines():
            if b'"SparkListenerTaskEnd"' in raw:
                ev = json.loads(raw)
                info = ev.get("Task Info") or {}
                sid = ev.get("Stage ID", -1)
                lo = info.get("Launch Time", 0) / 1000.0
                hi = info.get("Finish Time", 0) / 1000.0
                a, b = win.get(sid, (lo, hi))
                win[sid] = (min(a, lo), max(b, hi))
    return win


def stages_between(evl_dir: str, windows: list[tuple[float, float]]) -> list[list[dict]]:
    """Per (t0, t1) window, the ``parse_stages`` rows for the stages whose
    tasks ran inside it (by first task launch)."""
    from tools.corpus_scaleup import parse_stages

    win = stage_windows(evl_dir)
    stages = [s for s in parse_stages(evl_dir) if s["stage"] in win]
    return [[s for s in stages if t0 <= win[s["stage"]][0] <= t1] for t0, t1 in windows]

"""Shared plumbing for the benchmark workloads: the pinned run
environment, the Spark session, medians, Spark job/task counts, CPU
time and peak memory.

Everything a run writes lives under ``<checkout>/.perfbench_work/``,
which is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The driver JVM's heap ceiling: well under the RAM of a small host, so a
# run never competes with its neighbours for memory.
DRIVER_MEMORY = "2g"


def cpu_count() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Pin the run environment before the JVM starts.

    - ``SPARK_DRIVER_MEMORY``: below host RAM (the package default is
      sized for a large host);
    - ``SPARK_LOCAL_DIRS`` and ``TMPDIR``: scratch space inside ``work``;
    - ``PYTHONPATH``: Python workers import the package (the
      ``gzk_stream`` source and the sink's ``mapPartitions`` hop run
      package code on workers).
    """
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def start_spark(work: str, cpus: int | None = None):
    """The package's own session factory as ``local[cpus]`` in this
    driver process (default: every CPU, ``local[nproc]``), with the
    warehouse, Java temp dir and progress history kept inside ``work``."""
    from go_zoom_kinesis_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus or cpu_count())
    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep every micro-batch's progress, not only the last 100
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            # keep every job's status for the per-group job/task counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def make_work_dir(workload: str) -> str:
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


# --- statistics -------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


# --- Spark job/task counts -------------------------------------------


def jobs_and_tasks(spark, group: str) -> tuple[int, int]:
    """Jobs run under a job group and the tasks they completed."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(jobs), tasks


# --- memory ------------------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_vm_hwm() -> None:
    """Reset this process's ``VmHWM`` to its current resident set, so
    that the next reading covers only what runs in between."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def jvm_vm_hwm_mb(spark) -> float:
    """Peak resident set of the driver JVM over its whole life."""
    return vm_hwm_mb(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# --- CPU time ----------------------------------------------------------

_HZ = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants: the JVM and the Python workers it starts. Reaped
    children's time is included through their parent's ``cutime`` and
    ``cstime``, so a difference of two readings is the CPU spent in
    between."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    ours = {os.getpid()}
    added = True
    while added:
        added = False
        for pid, (ppid, _) in stats.items():
            if ppid in ours and pid not in ours:
                ours.add(pid)
                added = True
    return sum(stats[p][1] for p in ours if p in stats) / _HZ

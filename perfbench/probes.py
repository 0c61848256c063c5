"""Exact counters the benchmark reads around each op and each pass:
Spark jobs, stages and tasks from the status tracker, JVM garbage
collection time over py4j, and CPU time and peak resident memory of
the process tree from ``/proc`` (Linux; no third-party module).
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu seconds, reaped-children cpu seconds)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm is parenthesised and may hold spaces; the fields after it
    # are space-separated (field 3 onward in proc(5) numbering)
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(v) for v in rest[11:15])
    return comm, ppid, (utime + stime) / CLK_TCK, (cutime + cstime) / CLK_TCK


def process_tree(root: int) -> dict[int, tuple[str, int, float, float]]:
    """Every live process descending from ``root``, ``root`` included."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            frontier.extend(p for p, st in stats.items() if st[1] == pid)
    return tree


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds of the tree, split into the Python driver (``root``
    itself), the JVM (``java`` children of the driver) and everything
    under the JVM (the PySpark daemon and its Python workers, live, or
    reaped into the JVM's children time)."""
    tree = process_tree(root)
    jvms = [p for p, st in tree.items() if st[1] == root and st[0] == "java"]
    under_jvm: set[int] = set()
    frontier = list(jvms)
    while frontier:
        pid = frontier.pop()
        kids = [p for p, st in tree.items() if st[1] == pid]
        under_jvm.update(kids)
        frontier.extend(kids)
    driver = tree[root][2] if root in tree else 0.0
    jvm = sum(tree[p][2] for p in jvms)
    pyworker = sum(tree[p][3] for p in jvms) + sum(
        tree[p][2] + tree[p][3] for p in under_jvm
    )
    other = sum(
        st[2] + st[3]
        for p, st in tree.items()
        if p != root and p not in jvms and p not in under_jvm
    )
    return {
        "driver": driver,
        "jvm": jvm,
        "pyworker": pyworker,
        "total": driver + jvm + pyworker + other,
    }


def tree_hwm_mb(root: int) -> float:
    """Sum of VmHWM (peak resident set) over the live process tree."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def jvm_gc_s(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def group_job_ids(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def group_counts(spark, jobs: list[int]) -> tuple[int, int, int]:
    """(jobs, stages run, tasks completed) of one op's jobs. A stage a
    job lists but skips (its shuffle output already exists) completes
    no task and is not counted."""
    tracker = spark.sparkContext.statusTracker()
    stage_ids: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
    return len(jobs), stages, tasks


def pinned_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def release_pinned(spark) -> None:
    """Unpersist every persistent RDD -- the localCheckpoint blocks a
    query leaves pinned -- and drop cached tables, so one op's leftovers
    do not tax the next."""
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)
    spark.catalog.clearCache()

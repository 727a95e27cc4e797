"""Pure helpers: medians, plan-tree counts and process memory."""

from __future__ import annotations

import os
import statistics


def median(values) -> float:
    """Median of ``values``; 0 when there are none (a layer the
    workload does not exercise)."""
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow")


def plan_stats(tree: tuple[str, list]) -> dict[str, int]:
    """Counts over a physical-plan tree given as ``(node_name,
    [children])``: exchanges (shuffle and broadcast), parquet file
    scans, checkpoint reads (``Scan ExistingRDD``), Python evaluation
    nodes and nested-loop or Cartesian joins."""
    out = {
        "exchanges": 0,
        "file_scans": 0,
        "existing_rdd_scans": 0,
        "python_eval_nodes": 0,
        "bnlj_cartesian": 0,
        "nodes": 0,
    }
    stack = [tree]
    while stack:
        name, children = stack.pop()
        out["nodes"] += 1
        if name in ("Exchange", "BroadcastExchange", "ShuffleExchange"):
            out["exchanges"] += 1
        elif name.startswith("Scan ExistingRDD"):
            out["existing_rdd_scans"] += 1
        elif name.startswith("Scan ") or name.startswith("FileScan"):
            out["file_scans"] += 1
        elif name in ("BroadcastNestedLoopJoin", "CartesianProduct"):
            out["bnlj_cartesian"] += 1
        elif any(m in name for m in PYTHON_NODE_MARKERS):
            out["python_eval_nodes"] += 1
        stack.extend(children)
    return out


#: JVM threads whose time is left out of :func:`cpu_ticks`: the JIT
#: compilers keep compiling in the background for minutes after start,
#: so their share of an operation is warm-up noise, not its work
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_ticks(root: int | None = None) -> dict[tuple[int, int], int]:
    """User plus system CPU clock ticks of every thread of process
    ``root`` (default: this one) and its descendants: the driver, its
    JVM and the JVM's Python workers, less the JIT compiler threads.
    Time the host steals from the machine is charged to no thread, so
    a neighbour's load moves this far less than wall time."""
    root = os.getpid() if root is None else root
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(f"/proc/{entry}/stat")
            if fields is not None:
                parent[int(entry)] = int(fields[1])
    out = {}
    for pid in parent:
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p != root:
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # the process ended while the table was read
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if fh.read().strip() in JIT_THREADS:
                        continue
            except OSError:
                continue
            fields = _stat(f"/proc/{pid}/task/{tid}/stat")
            if fields is not None:
                out[(pid, int(tid))] = int(fields[11]) + int(fields[12])
    return out


def cpu_seconds(before: dict, after: dict) -> float:
    """CPU seconds spent between two :func:`cpu_ticks` readings by the
    threads alive at the second; a thread that ended in between loses
    what it ran after the first."""
    ticks = sum(max(t - before.get(k, 0), 0) for k, t in after.items())
    return ticks / os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> list[str] | None:
    """The fields after the command name of a /proc stat file."""
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0

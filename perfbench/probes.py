"""Counters read from the JVM (through the Py4J gateway), from /proc and
from a Spark event log. Every probe is a read; none changes what Spark
does."""

from __future__ import annotations

import glob
import json
import os

_TICK = os.sysconf("SC_CLK_TCK")


class Jvm:
    """Cumulative JVM counters of one SparkSession's driver JVM."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compile = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def snapshot(self) -> dict[str, float]:
        return {
            "gc_s": sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())
            / 1e3,
            "jit_ms": float(self._mf.getCompilationMXBean().getTotalCompilationTime()),
            "compiles": float(self._codegen.METRIC_COMPILATION_TIME().getCount()),
            "codegen_ms": self._compile.compileTime() / 1e6,
        }


def process_cpu_s(pid: int | str) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_snapshot() -> dict[str, float]:
    """Host steal time (CPU-s over all cores) and the 1-minute loadavg."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal_s": int(cpu[8]) / _TICK, "loadavg": load1}


def delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in before}


def read_event_log(event_dir: str) -> dict:
    """Jobs (group, submit/complete epoch-s) and per-group task totals
    from the uncompressed event log(s) in ``event_dir``."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    tasks: dict[str | None, dict[str, float]] = {}
    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    for path in sorted(glob.glob(os.path.join(event_dir, "*", "events_*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = {
                        "group": group,
                        "start": ev["Submission Time"] / 1e3,
                        "end": None,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    t = tasks.setdefault(
                        stage_group.get(ev["Stage ID"]), {"exec_cpu_s": 0.0, "shuffle_mb": 0.0}
                    )
                    t["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["shuffle_mb"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
                    )
    return {"jobs": jobs, "tasks": tasks}

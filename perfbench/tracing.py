"""Tracing for the benchmark's traced run, kept outside the program.

- ``TimedCheckpointManager`` times each ``run_stage`` and ``write`` call of
  the checkpointed pipeline and tags the Spark jobs it starts with the
  stage name as job description.
- ``EventLogSummary`` reads the Spark event log and sums the
  ``SparkListenerTaskEnd`` counters per job description.
- ``event_log_detached`` detaches the event-log listener for a block, so
  the same session can time an untraced call beside a traced one.
- The ``/proc`` readers give host CPU ticks, load average and peak RSS.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

from kg_microbe_spark.plans.checkpoint import CheckpointManager

PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"


@contextlib.contextmanager
def job_description(spark, desc):
    sc = spark.sparkContext
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(None)


class TimedCheckpointManager(CheckpointManager):
    """CheckpointManager that records, per stage, the wall of ``run_stage``
    and, per publish, the wall of ``write``.

    ``write`` runs the stage's data job (which computes the lazy input and
    writes its parquet), then re-reads the output and appends ``_lineage``.
    ``read`` is called between the two, so the time from that call to the
    return of ``write`` is the publish bookkeeping alone (``lineage_s``)."""

    def __init__(self, spark, root, run_id=None):
        super().__init__(spark, root, run_id)
        self.stage_s = {}
        self.write_s = 0.0
        self.lineage_s = 0.0
        self.reused = []
        self._data_done = None

    def run_stage(self, stage, fn, input_fingerprint=""):
        if self.is_complete(stage, input_fingerprint):
            self.reused.append(stage)
        t0 = time.perf_counter()
        with job_description(self.spark, stage):
            out = super().run_stage(stage, fn, input_fingerprint)
        self.stage_s[stage] = time.perf_counter() - t0
        return out

    def write(self, df, stage, input_fingerprint=""):
        t0 = time.perf_counter()
        self._data_done = None
        out = super().write(df, stage, input_fingerprint)
        t1 = time.perf_counter()
        self.write_s += t1 - t0
        self.lineage_s += t1 - (self._data_done or t1)
        return out

    def read(self, stage):
        self._data_done = time.perf_counter()
        return super().read(stage)


@contextlib.contextmanager
def event_log_detached(spark):
    """Run a block with the event-log listener removed from the bus."""
    jsc = spark.sparkContext._jsc.sc()
    logger = jsc.eventLogger()
    if logger.isEmpty():
        yield
        return
    listener = logger.get()
    jsc.removeSparkListener(listener)
    try:
        yield
    finally:
        jsc.addSparkListener(listener)


class EventLogSummary:
    """Per-job-description totals from one application's event log."""

    def __init__(self, log_dir: str):
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
        stage_desc = {}
        # desc -> stage -> list of executor run times (ms)
        self._run_ms = defaultdict(lambda: defaultdict(list))
        self._sums = defaultdict(lambda: defaultdict(float))
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev["Stage ID"])
                    if desc is None:
                        continue
                    self._add_task(desc, ev)

    def _add_task(self, desc, ev):
        m = ev.get("Task Metrics") or {}
        s = self._sums[desc]
        run_ms = m.get("Executor Run Time", 0)
        self._run_ms[desc][ev["Stage ID"]].append(run_ms)
        s["run_ms"] += run_ms
        s["gc_ms"] += m.get("JVM GC Time", 0)
        s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        s["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        s["spill"] += m.get("Disk Bytes Spilled", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name = acc.get("Name")
            if name in (PY_RUN, PY_BOOT, PY_SENT):
                s[name] += float(acc.get("Update") or 0)

    def get(self, desc: str, key: str) -> float:
        return self._sums.get(desc, {}).get(key, 0.0)

    def task_skew(self, desc: str) -> float:
        """max / median task run time of the stage with the most run time."""
        stages = self._run_ms.get(desc)
        if not stages:
            return 0.0
        times = max(stages.values(), key=sum)
        return max(times) / max(statistics.median(times), 1)


def cpu_ticks():
    """(busy, idle, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]] + [0] * 8
    user, nice, system, idle, iowait, irq, softirq, steal = vals[:8]
    return user + nice + system + irq + softirq, idle + iowait, steal


def load_avg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")

"""Measurement probes of the benchmark: resident memory of the Spark
processes, spans around the harness's own call sites, py4j round trips and
the per-layer Spark task metrics read back from a benchmark-owned event log.

Nothing here touches the library: spans wrap the calls the harness makes,
py4j is counted at its client, and job, stage and task figures come from the
event log Spark writes when the traced session enables it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict
from typing import Dict, Iterator, List, Optional


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name may hold spaces and parentheses; ppid is the
        # second field after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(entry))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pids(root: int) -> List[int]:
    """`root` and every descendant."""
    kids = _children_map()
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        stack.extend(kids.get(pid, ()))
    return pids


def running(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of `root` and every descendant (the
    Spark JVM and the Python workers it forks). PSS, not RSS: forked
    Python workers share pages with their daemon, which RSS would count
    once per worker."""
    total = 0
    for pid in tree_pids(root):
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process ended between the scan and the read
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, with those of reaped children) used so
    far by `root` and every live descendant. Time the hypervisor gave
    to other guests (steal) is not in it, unlike wall time."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended between the scan and the read
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    """Process id of the JVM the session launched (py4j's gateway
    process), the root of the Spark process tree."""
    return spark.sparkContext._gateway.proc.pid


class RssSampler:
    """Samples tree_pss_bytes(root) on a thread while the `with` block
    runs; `peak_mb` holds the largest sample."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_pss_bytes(self.root) / 2 ** 20)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        # one last sample so a block shorter than the interval is seen
        self._sample()


def capacity_sha1_s(spark) -> float:
    """Box-state covariate: bench.py's capacity cell (sha1 of each id over
    64 partitions, JVM codegen only, no shuffle), one pass over a quarter
    of its 40M ids."""
    from pyspark.sql import functions as F

    df = spark.range(0, 10_000_000, 1, 64)
    t0 = time.perf_counter()
    df.select(
        F.sha1(F.col("id").cast("string").cast("binary")).alias("h")
    ).filter(F.col("h").startswith("0000")).count()
    return time.perf_counter() - t0


class Py4jCounter:
    """Counts py4j commands the driver sends to the JVM by wrapping the
    gateway client's `send_command` on the instance (py4j's own object;
    the library is not patched)."""

    def __init__(self, spark):
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def send_command(*args, **kwargs):
            self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    """Flat spans around the harness's calls into each layer.

    Each span tags the Spark jobs it launches with job group `kg:<name>`,
    and records its wall time, the driver process's CPU time and the py4j
    commands sent. With `enabled=False` every span is a no-op, so the
    untraced run pays nothing."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._sc = spark.sparkContext if enabled else None
        self._py4j = Py4jCounter(spark) if enabled else None

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        self._sc.setJobGroup(f"kg:{name}", name)
        calls0 = self._py4j.calls
        cpu0 = time.process_time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            cpu1 = time.process_time()
            calls1 = self._py4j.calls
            self._sc.setJobGroup("kg:harness", "harness")
            self.spans.append({
                "name": name, "start": t0, "end": t1, "s": t1 - t0,
                "driver_cpu_s": cpu1 - cpu0, "py4j_calls": calls1 - calls0,
            })

    def total(self, prefix: str, key: str) -> float:
        """Sum of `key` over the spans named `prefix` or `prefix.*`."""
        return sum(
            s[key] for s in self.spans
            if s["name"] == prefix or s["name"].startswith(prefix + ".")
        )

    def close(self) -> None:
        if self._py4j is not None:
            self._py4j.close()


def read_event_log(log_dir: str) -> Dict[str, dict]:
    """Per job group: jobs launched, summed and largest task run time,
    shuffle bytes written, bytes spilled to disk and records written.
    Read after the session stops, when the log is complete."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: Dict[int, str] = {}
    groups: Dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "task_s": 0.0, "max_task_s": 0.0, "tasks": 0,
        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "rows_out": 0,
    })
    with open(files[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                groups[props.get("spark.jobGroup.id", "untagged")]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = props.get(
                    "spark.jobGroup.id", "untagged"
                )
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "untagged")]
                m = ev.get("Task Metrics") or {}
                run_s = m.get("Executor Run Time", 0) / 1000.0
                g["tasks"] += 1
                g["task_s"] += run_s
                g["max_task_s"] = max(g["max_task_s"], run_s)
                g["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    / 2 ** 20
                )
                g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2 ** 20
                g["rows_out"] += m.get("Output Metrics", {}).get("Records Written", 0)
    return dict(groups)


def merged(groups: Dict[str, dict], prefix: str) -> dict:
    """Event-log figures summed over groups `kg:<prefix>` and
    `kg:<prefix>.*` (max for max_task_s)."""
    out = {"jobs": 0, "task_s": 0.0, "max_task_s": 0.0, "tasks": 0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "rows_out": 0}
    for name, g in groups.items():
        if name == f"kg:{prefix}" or name.startswith(f"kg:{prefix}."):
            for k, v in g.items():
                out[k] = max(out[k], v) if k == "max_task_s" else out[k] + v
    return out


def dir_stats(path: str, suffix: str = "") -> tuple:
    """(file count, MiB) of the regular files under `path` ending in
    `suffix`."""
    n, size = 0, 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size / 2 ** 20

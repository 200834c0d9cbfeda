"""Outside-only instrumentation for the pipeline benchmark.

Nothing here changes the program under test: it reads ``/proc``, the
Spark status tracker, the store's directory tree and the streaming
query's checkpoint, and it keeps trace spans in memory.
"""

from __future__ import annotations

import glob
import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------- percentiles

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    return float(np.percentile(values, 100.0 * q))


def tail_percentile(values):
    """The highest percentile of TAIL_LADDER that has at least
    MIN_BEYOND samples beyond it, as (percentile, value); None when
    even the lowest rung has too few. A sample is beyond percentile p
    when it lies above the p-quantile; with n samples that is
    floor(n * (1 - p/100)) of them."""
    n = len(values)
    for p in TAIL_LADDER:
        if math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= MIN_BEYOND:
            return p, quantile(values, p / 100.0)
    return None


def median(values) -> float:
    return quantile(values, 0.5)


# ----------------------------------------------------------------- RSS

def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM) of a process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of the Python driver plus the JVM it drives, in MB
    (sum of the two per-process peaks)."""
    return (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024.0


# ------------------------------------------------------ Spark counters

@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


def job_counts(sc, group: str) -> JobCounts:
    """Jobs, stages and tasks that ran under job group `group`, read
    from the status tracker (works with the UI disabled)."""
    st = sc.statusTracker()
    out = JobCounts()
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        out.jobs += 1
        for sid in info.stageIds:
            s = st.getStageInfo(sid)
            if s is None:
                continue
            out.stages += 1
            out.tasks += s.numTasks
            out.failed_tasks += s.numFailedTasks
    return out


# -------------------------------------------------------- store files

def file_set(root: str) -> dict[str, tuple[int, int]]:
    """{relative path: (inode, size)} for every data file under
    `root` (hidden and underscore-prefixed entries excluded, as Spark
    excludes them from the table)."""
    out = {}
    if not os.path.isdir(root):
        return out
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:    # swapped away mid-walk
                continue
            out[os.path.relpath(p, root)] = (st.st_ino, st.st_size)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes in files of `after` that are not identical (same path,
    inode and size) to a file of `before`."""
    return sum(sz for p, (ino, sz) in after.items()
               if before.get(p) != (ino, sz))


# ------------------------------------------------- streaming checkpoint

def checkpoint_file_batches(ckpt: str) -> dict[str, int]:
    """{input file name: batch id} from a file-source checkpoint's
    ``sources/0/`` log, compacted (``<id>.compact``) entries
    included. ``DataFrame.inputFiles()`` is empty inside foreachBatch,
    so this log is the only record of which files a batch read."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        base = os.path.basename(p)
        if base.startswith("."):
            continue
        with open(p) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:              # first line: version tag
            if not line.strip():
                continue
            e = json.loads(line)
            out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def checkpoint_commit_times(ckpt: str) -> dict[int, float]:
    """{batch id: commit time (epoch seconds)} from ``commits/<id>``
    file modification times."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "*")):
        base = os.path.basename(p)
        if base.isdigit():
            out[int(base)] = os.stat(p).st_mtime_ns / 1e9
    return out


# -------------------------------------------------------------- tracing

@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    parent: int | None = None
    sid: int = 0


@dataclass
class Tracer:
    """In-memory span recorder; spans are written out once, at the end
    of the run."""
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    @contextmanager
    def span(self, name: str, op: int):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            s = Span(name, op, time.perf_counter(),
                     parent=stack[-1].sid if stack else None,
                     sid=len(self.spans) + 1)
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def prefix_self_times(prefix: dict[str, float],
                      inputs: dict[str, tuple[str, ...]]
                      ) -> dict[str, float]:
    """Self time of each layer of a lazy pipeline from its prefix
    times. A layer's prefix time is the time to materialize its output
    from scratch, everything upstream recomputed; its self time is its
    prefix time minus the prefix times of the layers it consumes.
    `inputs` lists, per layer, consumed layers that share no upstream
    work (a source has none)."""
    return {name: t - sum(prefix[i] for i in inputs.get(name, ()))
            for name, t in prefix.items()}

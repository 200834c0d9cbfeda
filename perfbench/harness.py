"""Run context shared by the workloads: Spark session lifecycle, set-up
timing, per-operation job groups, and the traced run's layer calls.

A layer call in an untraced run is just the call. In a traced run the
call (plan building, since Spark is lazy) is timed, and the returned
DataFrame is then materialized to Spark's ``noop`` sink so that the
layer's *prefix* time (its output computed from scratch) can be
measured; self times come from prefix differences
(``probes.prefix_self_times``).
"""

from __future__ import annotations

import itertools
import os
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench import probes


class OpTrace:
    """What one traced operation recorded."""

    def __init__(self, op: int):
        self.op = op
        self.plan_s = 0.0
        self.prefix: dict[str, float] = {}
        self.inputs: dict[str, tuple[str, ...]] = {}
        self.counts: dict[str, int] = defaultdict(int)

    def self_times(self) -> dict[str, float]:
        """Self time per layer; repeated calls (`name#n`) summed, and
        every `operators.*` layer also summed into `operators.self`."""
        out: dict[str, float] = defaultdict(float)
        for k, v in probes.prefix_self_times(self.prefix,
                                             self.inputs).items():
            name = k.split("#")[0]
            out[name] += v
            if name.startswith("operators."):
                out["operators.self"] += v
        return dict(out)


class Ctx:
    def __init__(self, work: str, seed: int, seconds: float,
                 trace: bool):
        self.work = work
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.tracer = probes.Tracer()
        self.tracing = False      # operations started now are traced
        self.spark = None
        self.setup_s = 0.0
        self.get_spark_s = 0.0
        self.ops: list[OpTrace] = []
        self._op_ids = itertools.count(1)
        self.job_counts: list[probes.JobCounts] = []

    # ------------------------------------------------------ session

    def setup(self, warmup) -> None:
        """Start the program as a user of it does: import the package,
        launch the JVM through get_spark, run the workload's warm-up.
        `setup_s` times all three, `get_spark_s` the call alone."""
        t0 = time.perf_counter()
        from coinbase_data_pipeline_spark.session import get_spark
        t1 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t2 = time.perf_counter()
        warmup(self.spark)
        self.setup_s = time.perf_counter() - t0
        self.get_spark_s = t2 - t1
        self.spark.sparkContext.setLogLevel("ERROR")

    def jvm_pid(self) -> int:
        from pyspark import SparkContext
        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop Spark and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()            # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # --------------------------------------------------- operations

    @contextmanager
    def op(self, name: str, count: bool = True):
        """One operation of the workload under its own Spark job group.
        An untraced operation's jobs, stages and tasks are counted
        unless `count` is False (a cold operation, whose plan differs);
        a traced one gets a root span and an OpTrace."""
        oid = next(self._op_ids)
        group = f"perfbench-{oid}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        rec = OpTrace(oid)
        traced = self.tracing
        try:
            if traced:
                with self.tracer.span(name, oid):
                    yield rec
                self.ops.append(rec)
            else:
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            if count and not traced:
                self.job_counts.append(probes.job_counts(sc, group))

    def layer(self, rec: OpTrace, name: str, fn, *args,
              inputs: tuple[str, ...] = (), persist: bool = False,
              count_rows: bool = False, **kwargs):
        """Call a lazy layer function; while tracing also time the call
        and materialize its output (see module docstring).

        `persist=True` is for an output the operation reads more than
        once: it is persisted (the first action that reads it fills the
        cache) and, while tracing, filled with a count, which is then
        the materialization the prefix time measures. The caller
        unpersists it. `count_rows=True` adds the output's row count to
        the `operators.rows_out` count (traced, outside every span)."""
        if not self.tracing:
            df = fn(*args, **kwargs)
            return df.persist() if persist else df
        with self.tracer.span("plan:" + name, rec.op):
            t0 = time.perf_counter()
            df = fn(*args, **kwargs)
            rec.plan_s += time.perf_counter() - t0
        if persist:
            df = df.persist()
        with self.tracer.span(name, rec.op):
            t0 = time.perf_counter()
            if persist:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            rec.prefix[name] = time.perf_counter() - t0
        rec.inputs[name] = inputs
        if count_rows:
            rec.counts["operators.rows_out"] += df.count()
        return df

    def eager(self, rec: OpTrace, name: str, fn, *args,
              inputs: tuple[str, ...] = (), **kwargs):
        """Call a layer function that runs its own Spark jobs (a
        write or a collect). Its duration counts as its prefix time:
        its lazy inputs are recomputed inside it. A second call under
        the same name in one operation is recorded as `name#2`."""
        if not self.tracing:
            return fn(*args, **kwargs)
        key, n = name, 1
        while key in rec.prefix:
            n += 1
            key = f"{name}#{n}"
        with self.tracer.span(key, rec.op):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            rec.prefix[key] = time.perf_counter() - t0
        rec.inputs[key] = inputs
        return out

    def write(self, rec: OpTrace, name: str, fn, table_dir: str, *args,
              inputs: tuple[str, ...] = (), **kwargs):
        """An eager sink call; while tracing, also the bytes it wrote
        and the data files of the table after it, from the table's
        file set before and after the call."""
        if not self.tracing:
            return fn(*args, **kwargs)
        before = probes.file_set(table_dir)
        out = self.eager(rec, name, fn, *args, inputs=inputs, **kwargs)
        after = probes.file_set(table_dir)
        rec.counts["sinks.bytes_written_per_op"] += probes.bytes_written(
            before, after)
        rec.counts["sinks.store_files"] += len(after)
        return out

    # --------------------------------------------------- summaries

    def layer_medians(self) -> dict[str, float]:
        """Per layer, the median of its self time over the traced
        operations that called it."""
        return _medians([r.self_times() for r in self.ops])

    def count_medians(self) -> dict[str, float]:
        """Per count, its median over the traced operations that
        recorded it."""
        return _medians([r.counts for r in self.ops])

    def dump_trace(self) -> None:
        self.tracer.dump(os.path.join(self.work, "trace.json"))


def _medians(per_op: list[dict]) -> dict[str, float]:
    names = sorted({k for d in per_op for k in d})
    return {n: probes.median([d[n] for d in per_op if n in d])
            for n in names}

"""ingest_live: open-loop ticker feed into the live candle store.

One generator thread drops a JSON-lines ticker file into the source
directory on a fixed schedule. A Structured Streaming file source
feeds ``streaming.pipelines.candle_upsert_batch_writer``, which merges
each micro-batch into a ``candles`` store preloaded with history
(``sinks.tables.merge_upsert`` rewrites the store per batch).

Latency of a file: from when it was due at the generator to the commit
of the micro-batch that read it (file → batch from the checkpoint's
source log, commit time from ``commits/<batch>``).
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen, probes

TRIGGER_S = 5        # micro-batch interval; a divisor of --seconds
WARM_S = 10.0        # schedule run before the measured files (JIT warm-up)
COLD_TIMEOUT_S = 60.0
DRAIN_TIMEOUT_S = 30.0


class IngestLive:
    name = "ingest_live"
    history_days = "ingest_history_days"
    sizes = ("products", history_days, "ingest_rate_ticks_s",
             "ingest_file_interval_s", "ingest_late_share")

    def __init__(self, ctx):
        self.ctx = ctx
        w = ctx.work
        self.store = os.path.join(w, "store")
        self.src = os.path.join(w, "ticks")
        self.stage = os.path.join(w, "ticks_stage")
        self.ckpt = os.path.join(w, "checkpoint")
        self.cur = None                 # OpTrace of the running batch

    # ------------------------------------------------------------ inputs

    def prepare(self) -> None:
        self.history = gen.history_table(
            self.ctx.seed, gen.size(self.history_days), volume=False)
        gen.write_table(self.history, self.store, "candles")
        # file 0 feeds the cold first batch; the schedule is the rest
        self.files, self.ticks = gen.tick_files(
            self.ctx.seed, self.ctx.seconds + WARM_S
            + gen.size("ingest_file_interval_s"))
        os.makedirs(self.src)
        os.makedirs(self.stage)

    def warmup(self, spark) -> None:
        from coinbase_data_pipeline_spark.sinks.tables import read_table
        read_table(spark, self.store, "candles").count()

    # ---------------------------------------------------------- the run

    def _name(self, k: int) -> str:
        return f"ticks-{k:05d}.json"

    def _drop(self, k: int) -> None:
        tmp = os.path.join(self.stage, self._name(k))
        with open(tmp, "w") as f:
            f.write(self.files[k].text)
        os.rename(tmp, os.path.join(self.src, self._name(k)))

    def _wait(self, names, timeout: float) -> bool:
        """Wait until every file in `names` is in a committed batch."""
        end = time.time() + timeout
        while time.time() < end:
            fb = probes.checkpoint_file_batches(self.ckpt)
            commits = probes.checkpoint_commit_times(self.ckpt)
            if all(n in fb and fb[n] in commits for n in names):
                return True
            if self.query.exception() is not None:
                return False
            time.sleep(0.02)
        return False

    def _writer(self):
        """The package's foreachBatch writer. While tracing, its layer
        functions are wrapped: the writer binds them when it is built,
        so the modules are patched for the build only."""
        import coinbase_data_pipeline_spark.operators.candles as oc
        import coinbase_data_pipeline_spark.sinks.tables as st
        from coinbase_data_pipeline_spark.streaming.pipelines import \
            candle_upsert_batch_writer
        if not self.ctx.trace:
            return candle_upsert_batch_writer(self.store)
        ctx = self.ctx
        orig = (oc.candle_state, oc.candle_merge_partials,
                st.merge_upsert, st.read_table)

        def state(*a, **k):
            return ctx.layer(self.cur, "operators.candle_state", orig[0],
                             *a, inputs=("sources.parse_tickers",), **k)

        def merge(*a, **k):
            return ctx.layer(self.cur, "operators.candle_merge_partials",
                             orig[1], *a, count_rows=True,
                             inputs=("sinks.read_table",
                                     "operators.candle_state"), **k)

        def upsert(*a, **k):
            ctx.write(self.cur, "sinks.merge_upsert", orig[2],
                      os.path.join(self.store, "candles"), *a,
                      inputs=("operators.candle_merge_partials",), **k)

        def read(*a, **k):
            return ctx.layer(self.cur, "sinks.read_table", orig[3],
                             *a, **k)

        oc.candle_state, oc.candle_merge_partials = state, merge
        st.merge_upsert, st.read_table = upsert, read
        try:
            return candle_upsert_batch_writer(self.store)
        finally:
            (oc.candle_state, oc.candle_merge_partials,
             st.merge_upsert, st.read_table) = orig

    def run(self) -> None:
        """Commit a cold first batch (file 0), then drop the other files
        on their schedule. Files due in the first WARM_S seconds of it
        warm the stream up; the rest are measured."""
        from coinbase_data_pipeline_spark.streaming.pipelines import (
            file_ticker_source, ticker_pipeline)
        ctx = self.ctx
        writer = self._writer()
        self.measuring = False

        def apply(batch, batch_id):
            ctx.tracing = ctx.trace and self.measuring
            # batch 0 is the cold one (file 0 alone): not counted
            with ctx.op(f"batch-{batch_id}", count=batch_id > 0) as rec:
                self.cur = rec
                parsed = ctx.layer(rec, "sources.parse_tickers",
                                   lambda: batch)
                writer(parsed, batch_id)

        # every file that has arrived goes into the next micro-batch
        raw = file_ticker_source(ctx.spark, self.src, max_files=1 << 30)
        self.query = (ticker_pipeline(raw).writeStream.foreachBatch(apply)
                      .trigger(processingTime=f"{TRIGGER_S} seconds")
                      .option("checkpointLocation", self.ckpt).start())
        self._drop(0)
        if not self._wait([self._name(0)], COLD_TIMEOUT_S):
            raise RuntimeError("cold batch did not commit: "
                               f"{self.query.exception()}")
        base = self.files[1].due_s
        sched = range(1, len(self.files))
        measured = [self._name(k) for k in sched
                    if self.files[k].due_s - base >= WARM_S - 1e-9]
        due: dict[str, float] = {}
        lateness: list[float] = []

        def generator():
            t0 = time.time()
            for k in sched:
                offset = self.files[k].due_s - base
                at = t0 + offset
                pause = at - time.time()
                if pause > 0:
                    time.sleep(pause)
                self.measuring = offset >= WARM_S - 1e-9
                self._drop(k)
                due[self._name(k)] = at
                lateness.append(time.time() - at)

        g = threading.Thread(target=generator, name="tick-generator")
        g.start()
        g.join()
        drained = self._wait(measured, DRAIN_TIMEOUT_S)
        self.query.stop()
        ctx.tracing = False
        fb = probes.checkpoint_file_batches(self.ckpt)
        commits = probes.checkpoint_commit_times(self.ckpt)
        self.latency = [commits[fb[n]] - due[n] for n in measured
                        if n in fb and fb[n] in commits]
        self.attempted = len(measured)
        self.failed = self.attempted - len(self.latency)
        last = measured[-1]
        # undrained: the wait so far, a lower bound
        self.backlog_end_s = (commits[fb[last]] if drained
                              else time.time()) - due[last]
        self.gen_late_max_s = max(lateness)
        first = min(fb[n] for n in measured if n in fb)
        per_file = self.files[0].n
        self.batch_ticks = {}
        for n, b in fb.items():
            if b >= first:
                self.batch_ticks[b] = self.batch_ticks.get(b, 0) + per_file
        self.progress = [p for p in self.query.recentProgress
                         if p["batchId"] in self.batch_ticks]

    def metrics(self) -> dict:
        lat = self.latency
        n = len(lat)
        out = {
            "latency_p50_s": (probes.median(lat), "s",
                              f"file due -> batch commit, n={n}"),
            "backlog_end_s": (self.backlog_end_s, "s",
                              "last file due -> its commit"),
            "generator_late_max_s": (self.gen_late_max_s, "s",
                                     "latest file drop vs schedule"),
            "streaming.batches": (len(self.progress), "count", ""),
        }
        tail = probes.tail_percentile(lat)
        if tail is not None:
            out[f"latency_p{tail[0]:g}_s"] = (
                tail[1], "s", f"highest percentile with >=10 of n={n} "
                "samples beyond")
        for key, name in (("triggerExecution", "trigger_s"),
                          ("latestOffset", "latest_offset_s"),
                          ("walCommit", "wal_commit_s"),
                          ("addBatch", "add_batch_s"),
                          ("queryPlanning", "query_planning_s"),
                          ("commitOffsets", "commit_offsets_s")):
            per = [p["durationMs"].get(key, 0) / 1e3
                   for p in self.progress]
            out[f"streaming.{name}"] = (
                probes.median(per), "s", "median of per-batch "
                + " ".join(f"{x:.2f}" for x in per))
        rows = probes.median(list(self.batch_ticks.values()))
        out["streaming.batch_rows"] = (rows, "count",
                                       "median ticks per measured batch")
        out["streaming.scan_amplification"] = (
            sum(p["numInputRows"] for p in self.progress)
            / sum(self.batch_ticks[p["batchId"]] for p in self.progress),
            "1", "source rows scanned per tick (each re-scan counted)")
        per_op = self.ctx.count_medians()
        if "sinks.bytes_written_per_op" in per_op:
            out["sinks.bytes_written_per_tick"] = (
                per_op["sinks.bytes_written_per_op"] / rows, "B",
                "store bytes rewritten per ingested tick")
        return out

    # ------------------------------------------------------------ check

    def check(self) -> list[str]:
        """The final store must equal the preloaded history merged with
        a candle-state recompute over every generated tick."""
        t = self.ticks
        ticks = pd.DataFrame({
            "product_id": t["product_id"].astype(str),
            "start_time": t["time_us"] // gen.BUCKET_US * gen.BUCKET_US,
            "t": t["time_us"], "price": t["price"]})
        ticks = ticks.sort_values(["product_id", "start_time", "t"])
        g = ticks.groupby(["product_id", "start_time"], sort=False)
        delta = pd.DataFrame({
            "open": g["price"].first(), "high": g["price"].max(),
            "low": g["price"].min(), "close": g["price"].last(),
            "n_ticks": g["price"].size(), "first_ts": g["t"].min(),
            "last_ts": g["t"].max()})
        hist = _as_frame(self.history).set_index(
            ["product_id", "start_time"])
        exp = hist.copy()
        both = delta.index.intersection(hist.index)
        h, d = hist.loc[both], delta.loc[both]
        # merged open/close: lexicographic (first_ts, open) minimum and
        # (last_ts, close) maximum over the two partial states
        h_first = (h["first_ts"] < d["first_ts"]) | (
            (h["first_ts"] == d["first_ts"]) & (h["open"] <= d["open"]))
        h_last = (h["last_ts"] > d["last_ts"]) | (
            (h["last_ts"] == d["last_ts"]) & (h["close"] >= d["close"]))
        exp.loc[both, "open"] = np.where(h_first, h["open"], d["open"])
        exp.loc[both, "close"] = np.where(h_last, h["close"], d["close"])
        exp.loc[both, "high"] = np.maximum(h["high"], d["high"])
        exp.loc[both, "low"] = np.minimum(h["low"], d["low"])
        exp.loc[both, "n_ticks"] = h["n_ticks"] + d["n_ticks"]
        exp.loc[both, "first_ts"] = np.minimum(h["first_ts"], d["first_ts"])
        exp.loc[both, "last_ts"] = np.maximum(h["last_ts"], d["last_ts"])
        new = delta.index.difference(hist.index)
        exp = pd.concat([exp, delta.loc[new]]).sort_index()
        got = _as_frame(pq.read_table(
            os.path.join(self.store, "candles"))).set_index(
            ["product_id", "start_time"]).sort_index()
        return compare_frames(exp, got[exp.columns])


class IngestSmall(IngestLive):
    """The same feed into a one-day store: each batch rewrites ~1 MB
    of store instead of ~16 MB, so a change that cuts the bytes the
    sink rewrites should move this workload much less than
    ingest_live; the merge's fixed cost per batch, the streaming
    engine, parsing and candle state weigh on both."""
    name = "ingest_small"
    history_days = "ingest_small_history_days"
    sizes = ("products", history_days) + IngestLive.sizes[2:]


def _as_frame(table) -> pd.DataFrame:
    """A candles table as pandas with timestamps as int64 µs."""
    df = table.to_pandas()
    df["product_id"] = df["product_id"].astype(str)
    for c in ("start_time", "first_ts", "last_ts"):
        s = df[c]
        if s.dt.tz is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        df[c] = s.astype("datetime64[us]").astype("int64")
    return df


def compare_frames(exp: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    """Exact equality of two key-indexed frames: same keys, same
    values in every column."""
    if not exp.index.equals(got.index):
        return [f"store keys differ: expected {len(exp)} rows, "
                f"got {len(got)}"]
    errs = []
    for c in exp.columns:
        bad = int((exp[c].to_numpy() != got[c].to_numpy()).sum())
        if bad:
            errs.append(f"store column {c}: {bad} rows differ")
    return errs

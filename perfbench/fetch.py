"""fetch_mix: the data-fetcher API on the live store, reads between
writer upserts.

Closed loop, one client: it issues the fetcher's reads in a fixed
rotation (latest candles per product, one product's last day,
available products, data availability, recent predictions), each read
collected to pandas as a caller of the API gets it. On a fixed
schedule, every ``fetch_write_interval_s``, the client's next
operation is instead a writer upsert of a small batch of new and
revised candles (``sinks.tables.merge_upsert``, which rewrites the
store). Reads and writes take turns in the one client: the store
deletes the old table directory as soon as an upsert swaps the new
one in, so a read that overlapped a write could lose its files.

The check recomputes every read in pandas over the store as of that
read (the history upserted with the batches written before it) and
compares exactly; the final store files must equal the last version.
"""

from __future__ import annotations

import os
import time
import traceback

import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen, probes
from perfbench.ingest import compare_frames

DAY_US = 86_400 * 1_000_000
LATEST_N = 60                     # five hours of 5-minute candles
RANGE_START_US = gen.HISTORY_END_US - DAY_US
PRED_HOURS_BACK, PRED_LIMIT = 24, 100
# the latest prediction run; the read window is the 24 h before it
PRED_CUTOFF_US = gen.HISTORY_END_US - 3_600_000_000
READS = ("latest_n_per_key", "time_range_fetch", "available_products",
         "data_availability", "recent_predictions")
KEYS = ["product_id", "start_time"]
WRITE_INTERVAL_S = gen.size("fetch_write_interval_s")
WARM_S = 20.0       # untimed loop before the measured one


class FetchMix:
    name = "fetch_mix"
    sizes = ("products", "fetch_history_days", "fetch_write_interval_s",
             "fetch_revised_share", "fetch_prediction_hours")

    def __init__(self, ctx):
        self.ctx = ctx
        self.store = os.path.join(ctx.work, "store")
        self.version = 0             # writer batches in the store
        self.n_reads = 0
        self.read_s: dict[str, list[float]] = {k: [] for k in READS}
        self.write_s: list[float] = []
        self.results: list[tuple] = []     # (kind, version, arg, frame)
        self.failed = 0

    def prepare(self) -> None:
        seed = self.ctx.seed
        self.history = gen.history_table(
            seed, gen.size("fetch_history_days"))
        gen.write_table(self.history, self.store, "candles")
        self.predictions = gen.predictions_table(seed)
        gen.write_table(self.predictions, self.store, "predictions")

    def warmup(self, spark) -> None:
        from coinbase_data_pipeline_spark.sinks.tables import read_table
        read_table(spark, self.store, "candles").count()

    # ---------------------------------------------------------- the run

    def _product(self) -> str:
        """The product of a one-product read: the reads walk the
        product list from a seeded start."""
        names = gen.products()
        return names[(self.ctx.seed + self.n_reads) % len(names)]

    def read(self, rec, kind: str):
        """One fetcher read, collected to pandas. Returns the argument
        that varies between reads (the product) and the frame."""
        from pyspark.sql import functions as F

        from coinbase_data_pipeline_spark.operators import candles as C
        from coinbase_data_pipeline_spark.operators import predictions as P
        from coinbase_data_pipeline_spark.sinks.tables import read_table
        ctx = self.ctx
        arg, kw = None, {}
        if kind == "recent_predictions":
            table, fn = "predictions", P.recent_predictions
            kw = dict(model_col="model_name",
                      pred_time_col="prediction_time",
                      hours_back=PRED_HOURS_BACK, limit=PRED_LIMIT,
                      cutoff=gen.fmt_us(PRED_CUTOFF_US)[:19])
        else:
            table, fn = "candles", getattr(C, kind)
            if kind == "latest_n_per_key":
                kw = dict(n=LATEST_N, ts="start_time")
            elif kind == "time_range_fetch":
                arg = self._product()
                kw = dict(ts="start_time", key_value=arg,
                          start=F.lit(gen.fmt_us(RANGE_START_US))
                          .cast("timestamp"))
            elif kind == "data_availability":
                kw = dict(ts="start_time")
        src = ctx.layer(rec, "sinks.read_table", read_table, ctx.spark,
                        self.store, table)
        out = ctx.layer(rec, f"operators.{kind}", fn, src,
                        inputs=("sinks.read_table",), count_rows=True,
                        **kw)
        frame = ctx.eager(rec, "client.to_pandas", out.toPandas,
                          inputs=(f"operators.{kind}",))
        return arg, frame

    def write(self, rec, batch) -> None:
        from coinbase_data_pipeline_spark.sinks.tables import merge_upsert
        ctx = self.ctx
        df = ctx.spark.createDataFrame(batch)
        ctx.write(rec, "sinks.merge_upsert", merge_upsert,
                  os.path.join(self.store, "candles"), ctx.spark, df,
                  self.store, "candles", unique_keys=True)
        self.version += 1

    def _timed(self, name: str, fn, *args, count: bool = True):
        """Run one operation; its duration, or None if it raised (a
        failure, untimed operations included)."""
        t0 = time.perf_counter()
        try:
            with self.ctx.op(name, count=count) as rec:
                out = fn(rec, *args)
        except Exception:                             # noqa: BLE001
            print(f"# {name} failed", flush=True)
            traceback.print_exc()
            self.failed += 1
            return None, None
        return time.perf_counter() - t0, out

    def _read(self, kind: str, count: bool = True):
        version = self.version
        dt, out = self._timed(f"read-{kind}", self.read, kind,
                              count=count)
        self.n_reads += 1
        if dt is None:
            return None
        self.results.append((kind, version, out[0], out[1]))
        return dt

    def _write(self, count: bool = True):
        batch = gen.candle_batch(self.ctx.seed, self.version)
        dt, _ = self._timed(f"write-{self.version}", self.write, batch,
                            count=count)
        return dt

    def _loop(self, seconds: float, timed: bool) -> int:
        """Reads in rotation with a write every WRITE_INTERVAL_S, for
        `seconds`; returns the number of operations. If `timed`, their
        durations are kept."""
        t0 = time.perf_counter()
        end, next_write = t0 + seconds, t0 + WRITE_INTERVAL_S
        n = 0
        while n == 0 or time.perf_counter() < end:
            n += 1
            if time.perf_counter() >= next_write:
                next_write += WRITE_INTERVAL_S
                dt = self._write()
                if timed and dt is not None:
                    self.write_s.append(dt)
            else:
                kind = READS[self.n_reads % len(READS)]
                dt = self._read(kind)
                if timed and dt is not None:
                    self.read_s[kind].append(dt)
        return n

    def run(self) -> None:
        ctx = self.ctx
        # a cold round: every read and a write once, left out of the
        # job counts (first plans compile their code)
        for kind in READS:
            self._read(kind, count=False)
        self._write(count=False)
        # reads keep getting faster for ~20 s of the loop as the JIT
        # compiles the planner; the warm-up's untraced operations also
        # give the job counts
        self._loop(WARM_S, timed=False)
        ctx.tracing = ctx.trace
        self.attempted = self._loop(ctx.seconds, timed=True)
        ctx.tracing = False

    # ------------------------------------------------------------ check

    def check(self) -> list[str]:
        """Every read equals its pandas recompute over the store as of
        that read; the final store files equal the last version."""
        stores = [_frame(self.history.to_pandas())]
        for k in range(self.version):
            batch = _frame(gen.candle_batch(self.ctx.seed, k).to_pandas())
            stores.append(pd.concat([stores[-1], batch]).drop_duplicates(
                KEYS, keep="last"))
        preds = expected_recent_predictions(
            _frame(self.predictions.to_pandas()))
        bad: dict[str, int] = {}
        for kind, version, arg, got in self.results:
            exp = (preds if kind == "recent_predictions"
                   else expected_read(kind, stores[version], arg))
            if compare_frames(exp, _keyed(kind, _frame(got))[exp.columns]):
                bad[kind] = bad.get(kind, 0) + 1
        errs = [f"{kind}: {n} reads differ from the recompute"
                for kind, n in bad.items()]
        final = _frame(pq.read_table(os.path.join(
            self.store, "candles")).to_pandas()).set_index(KEYS)
        exp = stores[-1].set_index(KEYS).sort_index()
        errs += compare_frames(exp, final.sort_index()[exp.columns])
        return errs

    def metrics(self) -> dict:
        reads = [x for k in READS for x in self.read_s[k]]
        n = len(reads)
        out = {
            "latency_p50_s": (probes.median(reads), "s",
                              f"one read, n={n} over {len(READS)} kinds"),
        }
        if self.write_s:             # none in a run under 4 s
            out["write_p50_s"] = (probes.median(self.write_s), "s",
                                  f"one writer upsert, "
                                  f"n={len(self.write_s)}")
        tail = probes.tail_percentile(reads)
        if tail is not None:
            out[f"latency_p{tail[0]:g}_s"] = (
                tail[1], "s", f"highest percentile with >=10 of n={n} "
                "samples beyond")
        for k in READS:
            if self.read_s[k]:
                out[f"fetch.{k}_p50_s"] = (probes.median(self.read_s[k]),
                                           "s", f"n={len(self.read_s[k])}")
        return out


# ------------------------------------------------------- recomputation

def _frame(df: pd.DataFrame) -> pd.DataFrame:
    """A frame with product ids as str and timestamps as int64 µs."""
    df = df.copy()
    if "product_id" in df:
        df["product_id"] = df["product_id"].astype(str)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if s.dt.tz is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]").astype("int64")
    return df


_INDEX = {
    "latest_n_per_key": KEYS, "time_range_fetch": KEYS,
    "available_products": ["product_id"],
    "data_availability": ["product_id"],
    "recent_predictions": ["product_id", "model_name", "prediction_time",
                           "target_time"],
}


def _keyed(kind: str, df: pd.DataFrame) -> pd.DataFrame:
    return df.set_index(_INDEX[kind]).sort_index()


def expected_read(kind: str, store: pd.DataFrame, product) -> pd.DataFrame:
    """A candles read recomputed over `store` (int64 µs timestamps)."""
    if kind == "latest_n_per_key":
        out = store.sort_values(KEYS).groupby("product_id").tail(LATEST_N)
    elif kind == "time_range_fetch":
        out = store[(store["product_id"] == product)
                    & (store["start_time"] >= RANGE_START_US)]
    elif kind == "available_products":
        out = store[["product_id"]].drop_duplicates()
    else:
        g = store.groupby("product_id")["start_time"]
        out = pd.DataFrame({"earliest": g.min(), "latest": g.max(),
                            "row_count": g.size()}).reset_index()
    return _keyed(kind, out)


def expected_recent_predictions(preds: pd.DataFrame) -> pd.DataFrame:
    """``recent_predictions`` with a cutoff, in pandas: per (product,
    model) the rows of the window, newest run first and horizon
    ascending within a run, at most PRED_LIMIT."""
    lo = PRED_CUTOFF_US - PRED_HOURS_BACK * 3_600_000_000
    w = preds[preds["prediction_time"] >= lo]
    w = w.assign(_neg=-w["prediction_time"]).sort_values(
        ["product_id", "model_name", "_neg", "horizon"])
    out = w.groupby(["product_id", "model_name"]).head(PRED_LIMIT)
    return _keyed("recent_predictions", out.drop(columns="_neg"))

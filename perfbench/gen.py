"""Seeded input generators for the pipeline benchmark.

Every generator takes the workload seed and returns plain data (numpy
arrays, pyarrow tables, strings); nothing here touches Spark. The same
seed and sizes always give byte-identical inputs.

Sizes live in ``SIZES`` with the reason each was chosen; the run
report prints them.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BUCKET_US = 300 * 1_000_000                    # 5-minute candles
# history ends here; live ticks continue from it (2026-01-01T00:00Z)
HISTORY_END_US = 1_767_225_600 * 1_000_000
N_PRODUCTS = 30
ZIPF_S = 1.1

SIZES = {
    "products": (N_PRODUCTS, "a Coinbase-sized product list; Zipf "
                 "popularity puts about a quarter of ticks on one product"),
    "ingest_history_days": (30, "259k preloaded candles: rewriting the "
                            "store is most of each micro-batch, as in a "
                            "store holding history, yet a batch still "
                            "fits the 5 s trigger"),
    "ingest_small_history_days": (1, "8.6k preloaded candles: the "
                                  "store rewrite shrinks to a small part "
                                  "of a batch"),
    "ingest_rate_ticks_s": (2000, "the reference feed's order of "
                            "magnitude"),
    "ingest_file_interval_s": (0.1, "10 files/s gives 100 latency "
                               "samples per 10 s run, enough for p90"),
    "ingest_late_share": (0.02, "late and out-of-order ticks land in "
                          "stored buckets and force merges"),
    "predict_history_days": (5, "43k candles; the cycle is dominated by "
                             "per-task overhead, so more history only "
                             "lengthens a cycle already ~17 s warm on "
                             "4 cores"),
    "fetch_history_days": (7, "60k candles, a week of the store: the "
                           "fetcher's reads stay planning-bound and a "
                           "writer upsert (a whole-store rewrite) stays "
                           "near a second"),
    "fetch_write_interval_s": (4.0, "a new candle per product every "
                               "4 s: a store rewrite (~1.2 s) takes "
                               "under a third of the client's time"),
    "fetch_revised_share": (0.3, "share of products whose previous "
                            "candle a write revises, so upserts replace "
                            "rows as well as add them"),
    "fetch_prediction_hours": (48, "hourly prediction runs for 2 "
                               "models, 17k predictions; the 24 h read "
                               "window holds more than its row limit"),
}


def size(name: str):
    return SIZES[name][0]


def products() -> list[str]:
    return [f"C{i:02d}-USD" for i in range(N_PRODUCTS)]


def zipf_weights(rng: np.random.Generator) -> np.ndarray:
    """Zipf popularity over the products, the rank order permuted by
    the seed so a different product is hot on each seed."""
    w = 1.0 / np.arange(1, N_PRODUCTS + 1) ** ZIPF_S
    return rng.permutation(w / w.sum())


def base_prices(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 1])
    return np.round(np.exp(rng.uniform(np.log(0.5), np.log(50_000.0),
                                       N_PRODUCTS)), 6)


# ------------------------------------------------------------ history

def history_table(seed: int, days: int, *, volume: bool = True
                  ) -> pa.Table:
    """Candle-state history for every product, ending at
    HISTORY_END_US: the `candles` store schema that
    ``streaming.pipelines.candle_upsert_batch_writer`` maintains
    (start_time, OHLC, n_ticks, first_ts, last_ts, and volume unless
    `volume` is False)."""
    rng = np.random.default_rng([seed, 2])
    n_b = days * 86_400 * 1_000_000 // BUCKET_US
    starts = HISTORY_END_US - BUCKET_US * np.arange(n_b, 0, -1,
                                                    dtype=np.int64)
    p0 = base_prices(seed)
    cols: dict[str, list] = {k: [] for k in (
        "product_id", "start_time", "open", "high", "low", "close",
        "n_ticks", "first_ts", "last_ts", "volume")}
    for i, pid in enumerate(products()):
        r = rng.normal(0.0, 0.002, n_b)
        close = np.round(p0[i] * np.exp(np.cumsum(r)), 6)
        open_ = np.round(np.concatenate([[p0[i]], close[:-1]]), 6)
        hi = np.round(np.maximum(open_, close)
                      * (1 + np.abs(rng.normal(0, 0.001, n_b))), 6)
        lo = np.round(np.minimum(open_, close)
                      * (1 - np.abs(rng.normal(0, 0.001, n_b))), 6)
        vol = np.round(rng.lognormal(2.0, 1.0, n_b), 6)
        vol[rng.random(n_b) < 0.01] = 0.0      # clean_series fills these
        first = starts + rng.integers(0, 60_000_000, n_b)
        last = starts + BUCKET_US - 1 - rng.integers(0, 60_000_000, n_b)
        cols["product_id"].append(np.full(n_b, pid, dtype=object))
        cols["start_time"].append(starts)
        cols["open"].append(open_)
        cols["high"].append(hi)
        cols["low"].append(lo)
        cols["close"].append(close)
        cols["n_ticks"].append(rng.integers(1, 400, n_b))
        cols["first_ts"].append(first)
        cols["last_ts"].append(last)
        cols["volume"].append(vol)
    ts = pa.timestamp("us", tz="UTC")
    types = {"product_id": pa.string(), "start_time": ts,
             "first_ts": ts, "last_ts": ts, "n_ticks": pa.int64()}
    if not volume:
        del cols["volume"]
    return pa.table({k: pa.array(np.concatenate(v),
                                 type=types.get(k, pa.float64()))
                     for k, v in cols.items()})


def write_table(table: pa.Table, store_root: str, name: str) -> None:
    """Write `table` as the store's product-partitioned table `name`
    (the layout ``sinks.tables.merge_upsert`` produces), one file per
    product."""
    pq.write_to_dataset(table, os.path.join(store_root, name),
                        partition_cols=["product_id"],
                        basename_template="part-{i}.parquet")


def candle_batch(seed: int, k: int) -> pa.Table:
    """The k-th writer upsert after the history (k = 0, 1, ...): for
    every product the new candle starting at HISTORY_END_US + k
    buckets, and for the revised share of products a new version of
    the candle before it (for k = 0 the history's last). Same schema as
    ``history_table``; batch k depends only on (seed, k)."""
    rng = np.random.default_rng([seed, 4, k])
    prev = rng.random(N_PRODUCTS) < size("fetch_revised_share")
    pid = np.array(products(), dtype=object)
    pid = np.concatenate([pid, pid[prev]])
    n = len(pid)
    starts = HISTORY_END_US + BUCKET_US * np.concatenate([
        np.full(N_PRODUCTS, k), np.full(prev.sum(), k - 1)])
    p0 = np.concatenate([base_prices(seed), base_prices(seed)[prev]])
    open_ = np.round(p0 * np.exp(rng.normal(0, 0.01, n)), 6)
    close = np.round(open_ * np.exp(rng.normal(0, 0.002, n)), 6)
    ts = pa.timestamp("us", tz="UTC")
    return pa.table({
        "start_time": pa.array(starts, type=ts),
        "open": open_,
        "high": np.round(np.maximum(open_, close) * 1.001, 6),
        "low": np.round(np.minimum(open_, close) * 0.999, 6),
        "close": close,
        "n_ticks": rng.integers(1, 400, n),
        "first_ts": pa.array(starts + rng.integers(0, 60_000_000, n),
                             type=ts),
        "last_ts": pa.array(starts + BUCKET_US - 1
                            - rng.integers(0, 60_000_000, n), type=ts),
        "volume": np.round(rng.lognormal(2.0, 1.0, n), 6),
        "product_id": pa.array(pid, type=pa.string()),
    })


MODELS = ("lstm-v1", "lstm-v2")
HORIZONS = 6


def predictions_table(seed: int) -> pa.Table:
    """The ``predictions`` store: an hourly prediction run per model
    over the last `fetch_prediction_hours` hours before
    HISTORY_END_US, each predicting HORIZONS 5-minute steps ahead for
    every product."""
    rng = np.random.default_rng([seed, 5])
    hours = size("fetch_prediction_hours")
    runs = HISTORY_END_US - 3_600_000_000 * np.arange(hours, 0, -1,
                                                      dtype=np.int64)
    pid, model, at, h = (a.ravel() for a in np.meshgrid(
        np.array(products(), dtype=object), np.array(MODELS, dtype=object),
        runs, np.arange(1, HORIZONS + 1), indexing="ij"))
    n = len(pid)
    price = np.round(np.repeat(base_prices(seed), n // N_PRODUCTS)
                     * np.exp(rng.normal(0, 0.01, n)), 6)
    ts = pa.timestamp("us", tz="UTC")
    return pa.table({
        "model_name": pa.array(model, type=pa.string()),
        "prediction_time": pa.array(at, type=ts),
        "target_time": pa.array(at + BUCKET_US * h, type=ts),
        "horizon": pa.array(h, type=pa.int32()),
        "predicted_price": price,
        "product_id": pa.array(pid, type=pa.string()),
    })


# -------------------------------------------------------------- ticks

@dataclass
class TickFile:
    due_s: float          # offset from the generator's start
    text: str             # JSON lines
    n: int


def tick_files(seed: int, seconds: float
               ) -> tuple[list[TickFile], dict[str, np.ndarray]]:
    """The live ticker feed for `seconds`: one JSON-lines file per
    file interval at the tick rate of ``SIZES``, Zipf-skewed products,
    rows shuffled within each file, and the late share of ticks
    carrying an event time up to an hour back (into stored buckets).

    Event time runs one-to-one with the schedule from HISTORY_END_US;
    times are unique per product, so open/close are never tied.
    Returns the files and the ticks as columns for the output check.
    """
    rate = size("ingest_rate_ticks_s")
    interval = size("ingest_file_interval_s")
    late_share = size("ingest_late_share")
    rng = np.random.default_rng([seed, 3])
    n_files = max(1, int(round(seconds / interval)))
    per_file = int(round(rate * interval))
    n = n_files * per_file
    step_us = int(1_000_000 // rate)
    on_time = HISTORY_END_US + np.arange(n, dtype=np.int64) * step_us
    late = rng.random(n) < late_share
    back = rng.integers(1, 3600 * 1_000_000 // step_us, n) * step_us
    # late ticks sit half a step off the on-time grid: never equal to
    # an on-time tick, and de-duplicated among themselves below
    t = np.where(late, on_time - back + step_us // 2, on_time)
    pid_idx = rng.choice(N_PRODUCTS, n, p=zipf_weights(rng))
    key = pid_idx.astype(np.int64) * (1 << 56) + (t - HISTORY_END_US
                                                  + (1 << 40))
    order = np.argsort(key, kind="stable")
    dup = np.zeros(n, dtype=bool)
    dup[order[1:]] = key[order[1:]] == key[order[:-1]]
    while dup.any():
        t[dup] += 1
        key[dup] += 1
        order = np.argsort(key, kind="stable")
        dup[:] = False
        dup[order[1:]] = key[order[1:]] == key[order[:-1]]
    p0 = base_prices(seed)
    price = np.round(p0[pid_idx] * np.exp(rng.normal(0, 0.003, n)), 6)
    names = np.array(products())
    files = []
    for k in range(n_files):
        sl = np.arange(k * per_file, (k + 1) * per_file)
        sl = sl[rng.permutation(per_file)]
        # Coinbase ticker-channel payloads, numerics as strings
        lines = [json.dumps({
            "type": "ticker", "product_id": str(names[pid_idx[i]]),
            "price": repr(float(price[i])),
            "time": fmt_us(int(t[i]), iso=True)}) for i in sl]
        files.append(TickFile(k * interval, "\n".join(lines) + "\n",
                              per_file))
    cols = {"product_id": names[pid_idx], "time_us": t, "price": price}
    return files, cols


def fmt_us(us: int, iso: bool = False) -> str:
    """Epoch microseconds as 'YYYY-MM-DD HH:MM:SS.ffffff' (UTC), or as
    ISO 8601 with a 'Z' suffix."""
    s, frac = divmod(us, 1_000_000)
    day = np.datetime64(s, "s").astype(str)
    if iso:
        return f"{day}.{frac:06d}Z"
    return day.replace("T", " ") + f".{frac:06d}"

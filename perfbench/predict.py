"""predict_cycle: the prediction service's pass over every product.

Closed loop, one client: each cycle reads the candle history range,
cleans it, engineers the feature matrix, scales it (fit on the train
split), cuts sliding windows, scores them, maps the scores back to
prices, upserts the latest predictions, computes the model metrics on
the evaluation split and upserts those.

Each cycle writes its rows under its own model name (``<model>@<n>``
for cycle n), so its upserts add rows beside the earlier cycles' and
the check can tell every cycle's output apart.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from perfbench import gen, probes

DAY_US = 86_400 * 1_000_000
EVAL_DAYS = 2                # scaler fit before, model metrics after
SEQ_LEN, PRED_LEN = 24, 6
ROBUST = ["open", "high", "low", "close", "price_ma_ratio",
          "price_spread", "volume", "volume_zscore", "volume_ma_ratio",
          "liquidity"]
MINMAX = ["rsi", "atr", "obv", "log_returns", "volatility_6",
          "volatility_12", "volatility_24", "momentum_3_6",
          "momentum_6_12", "hour_sin", "hour_cos", "dow_sin", "dow_cos",
          "is_weekend", "is_market_open"]
WARM_GATE = ["volatility_24", "volume_zscore", "volume_ma_ratio"]


class PredictCycle:
    name = "predict_cycle"
    sizes = ("products", "predict_history_days")

    def __init__(self, ctx):
        self.ctx = ctx
        self.store = os.path.join(ctx.work, "store")
        days = gen.size("predict_history_days")
        end = gen.HISTORY_END_US
        self.range_start = gen.fmt_us(end - days * DAY_US)
        self.split = gen.fmt_us(end - EVAL_DAYS * DAY_US)
        # the newest origin with a full PRED_LEN horizon after it
        self.last_origin = gen.fmt_us(end - (PRED_LEN + 1) * gen.BUCKET_US)
        self.evaluated_at = gen.fmt_us(end)
        self.cycle_s: list[float] = []
        self.n_cycles = 0

    def prepare(self) -> None:
        gen.write_table(gen.history_table(
            self.ctx.seed, gen.size("predict_history_days")), self.store,
            "candles")

    def warmup(self, spark) -> None:
        from coinbase_data_pipeline_spark.sinks.tables import read_table
        read_table(spark, self.store, "candles").count()

    def cycle(self, rec) -> None:
        from pyspark.sql import functions as F

        from coinbase_data_pipeline_spark.operators import candles as C
        from coinbase_data_pipeline_spark.operators import indicators as I
        from coinbase_data_pipeline_spark.operators import predictions as P
        from coinbase_data_pipeline_spark.operators import scoring as SC
        from coinbase_data_pipeline_spark.operators import windows as WD
        from coinbase_data_pipeline_spark.sinks.tables import (
            merge_upsert, read_table)
        ctx, spark = self.ctx, self.ctx.spark
        key, ts = "product_id", "bucket_start"
        tag = f"@{self.n_cycles}"
        self.n_cycles += 1

        def read():
            c = read_table(spark, self.store, "candles")
            c = C.time_range_fetch(c, ts="start_time",
                                   start=F.lit(self.range_start)
                                   .cast("timestamp"))
            return c.withColumnRenamed("start_time", ts)

        c = ctx.layer(rec, "sinks.read_table", read)
        # the cleaned history, the scaled matrix and the predictions
        # are each read more than once, so the cycle persists them
        cl = ctx.layer(rec, "operators.clean_series", I.clean_series, c,
                       key=key, ts=ts, inputs=("sinks.read_table",),
                       persist=True)
        feat = ctx.layer(rec, "operators.enhance_features",
                         I.enhance_features, cl)
        scaled = ctx.layer(rec, "operators.grouped_scale",
                           I.grouped_scale,
                           feat.na.drop(subset=WARM_GATE), key=key, ts=ts,
                           split=self.split, robust_cols=ROBUST,
                           minmax_cols=MINMAX,
                           inputs=("operators.enhance_features",),
                           persist=True)

        def windows():
            # only the evaluation split is scored: the newest origin
            # feeds the predictions, the rest the model metrics
            w = WD.sliding_windows(scaled, price="close_scaled",
                                   seq_len=SEQ_LEN, pred_len=PRED_LEN)
            return w.filter(F.col(ts) >= F.lit(self.split)
                            .cast("timestamp"))

        win = ctx.layer(rec, "operators.sliding_windows", windows)
        scored = ctx.layer(rec, "operators.score_windows",
                           SC.score_windows, win, seq_len=SEQ_LEN,
                           pred_len=PRED_LEN, count_rows=True,
                           inputs=("operators.sliding_windows",))
        preds = (scored.withColumnRenamed("predicted_price", "pred_scaled")
                 .withColumn("target_time", F.expr(
                     "timestampadd(MINUTE, 5 * horizon, origin_time)")))
        q = F.percentile("close", F.array(F.lit(0.25), F.lit(0.5),
                                          F.lit(0.75)))
        stats = (cl.filter(F.col(ts) < F.lit(self.split)
                           .cast("timestamp")).groupBy(key)
                 .agg(q.alias("q"),
                      F.max_by("close", ts).alias("last_close"))
                 .select(key, F.col("q")[1].alias("c_med"),
                         F.col("q")[0].alias("c_q1"),
                         F.col("q")[2].alias("c_q3"), "last_close"))
        out = ctx.layer(rec, "operators.denormalize_predictions",
                        P.denormalize_predictions, preds, stats,
                        inputs=("operators.score_windows",),
                        persist=True)
        latest = (out.filter(F.col("origin_time")
                             == F.lit(self.last_origin).cast("timestamp"))
                  .select(key,
                          F.concat("model_version", F.lit(tag))
                          .alias("model_name"),
                          F.col("origin_time").alias("prediction_time"),
                          "target_time", "horizon", "predicted_price",
                          "pred_scaled"))
        ctx.write(rec, "sinks.merge_upsert", merge_upsert,
                  os.path.join(self.store, "predictions"), spark, latest,
                  self.store, "predictions", unique_keys=True)
        mm = ctx.layer(rec, "operators.model_metrics", P.model_metrics,
                       out, cl)
        rows = mm.select(
            key,
            F.concat(F.concat_ws("-h", "model_version", F.col("horizon")
                                 .cast("string")), F.lit(tag))
            .alias("model_name"),
            F.lit(self.evaluated_at).cast("timestamp")
            .alias("evaluated_at"),
            "horizon", "mae", "rmse", "mape", "directional_accuracy",
            "sample_count")
        ctx.write(rec, "sinks.merge_upsert", merge_upsert,
                  os.path.join(self.store, "model_metrics"), spark, rows,
                  self.store, "model_metrics", unique_keys=True,
                  inputs=("operators.model_metrics",))
        for df in (cl, scaled, out):
            df.unpersist(blocking=True)

    def run(self) -> None:
        ctx = self.ctx
        # the cold cycle creates the output tables; later upserts merge
        # into them, so its plan differs and its jobs are not counted
        with ctx.op("cycle-cold", count=False) as rec:     # untimed
            self.cycle(rec)
        if ctx.trace:
            # job counts come from untraced operations
            with ctx.op("cycle-warm") as rec:               # untimed
                self.cycle(rec)
        ctx.tracing = ctx.trace
        end = time.perf_counter() + ctx.seconds
        while not self.cycle_s or time.perf_counter() < end:
            t0 = time.perf_counter()
            with ctx.op("cycle") as rec:
                self.cycle(rec)
            self.cycle_s.append(time.perf_counter() - t0)
        ctx.tracing = False
        self.attempted = len(self.cycle_s)
        self.failed = 0

    def check(self) -> list[str]:
        """Per cycle: one prediction and one metrics row per (product,
        horizon) under the cycle's model name, no NULL prices, every
        metric backed by samples."""
        want = {(p, h) for p in gen.products()
                for h in range(1, PRED_LEN + 1)}
        pr = _by_cycle(os.path.join(self.store, "predictions"))
        mm = _by_cycle(os.path.join(self.store, "model_metrics"))
        errs = []
        for n in range(self.n_cycles):
            p, m = pr.get(n), mm.get(n)
            if p is None or _keys(p) != want or len(p) != len(want):
                errs.append(f"cycle {n}: predictions rows are not one per "
                            f"(product, horizon) = {len(want)}")
            elif p["predicted_price"].isna().any() or \
                    not (p["predicted_price"] > 0).all():
                errs.append(f"cycle {n}: NULL or non-positive price")
            if m is None or _keys(m) != want or len(m) != len(want):
                errs.append(f"cycle {n}: model_metrics rows are not one "
                            f"per (product, horizon) = {len(want)}")
            elif m[["mae", "rmse", "directional_accuracy"]].isna() \
                    .any().any() or not (m["sample_count"] > 0).all():
                errs.append(f"cycle {n}: NULL metric or empty sample")
        return errs

    def metrics(self) -> dict:
        return {"latency_p50_s": (probes.median(self.cycle_s), "s",
                                  f"one full cycle, n={len(self.cycle_s)}")}


def _by_cycle(path: str) -> dict:
    """A written table's rows as pandas, split by the cycle number
    in their model name."""
    df = pq.read_table(path).to_pandas()
    cyc = df["model_name"].str.rsplit("@", n=1).str[1].astype(int)
    return {int(n): g for n, g in df.groupby(cyc)}


def _keys(df) -> set:
    return set(zip(df["product_id"].astype(str), df["horizon"]))

"""The benchmark's own tests (no Spark needed):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import gen, harness, probes  # noqa: E402


# ------------------------------------------------------------ generator

def test_tick_files_are_deterministic_per_seed():
    a_files, a_cols = gen.tick_files(7, 2.0)
    b_files, b_cols = gen.tick_files(7, 2.0)
    assert [f.text for f in a_files] == [f.text for f in b_files]
    for k in a_cols:
        assert np.array_equal(a_cols[k], b_cols[k])
    c_files, _ = gen.tick_files(8, 2.0)
    assert [f.text for f in a_files] != [f.text for f in c_files]


def test_tick_files_shape_skew_and_lateness():
    files, cols = gen.tick_files(3, 10.0)
    rate = gen.size("ingest_rate_ticks_s")
    interval = gen.size("ingest_file_interval_s")
    assert len(files) == round(10.0 / interval)
    assert all(f.n == round(rate * interval) for f in files)
    assert [f.due_s for f in files] == sorted(f.due_s for f in files)
    # open/close are never tied: event times unique per product
    keys = set(zip(cols["product_id"], cols["time_us"]))
    assert len(keys) == len(cols["time_us"])
    late = (cols["time_us"] < gen.HISTORY_END_US).mean()
    assert 0.5 * gen.size("ingest_late_share") < late \
        < 2 * gen.size("ingest_late_share")
    # Zipf skew: the hottest product carries far more than 1/30
    _, counts = np.unique(cols["product_id"], return_counts=True)
    assert counts.max() / counts.sum() > 3 / gen.N_PRODUCTS
    row = json.loads(files[0].text.splitlines()[0])
    assert row["type"] == "ticker" and row["time"].endswith("Z")


def test_candle_batches_are_deterministic_and_key_unique():
    a = gen.candle_batch(4, 3)
    assert a.equals(gen.candle_batch(4, 3))
    assert not a.equals(gen.candle_batch(4, 2))
    assert not a.equals(gen.candle_batch(5, 3))
    df = a.to_pandas()
    # merge_upsert(unique_keys=True) needs one row per key
    assert not df.duplicated(["product_id", "start_time"]).any()
    new = df["start_time"] == df["start_time"].max()
    assert new.sum() == gen.N_PRODUCTS
    assert set(gen.history_table(4, 1).schema.names) == set(a.schema.names)


def test_recent_predictions_recompute_keeps_the_newest_rows():
    from perfbench import fetch
    preds = fetch._frame(gen.predictions_table(2).to_pandas())
    assert len(preds) == (gen.N_PRODUCTS * len(gen.MODELS)
                          * gen.size("fetch_prediction_hours")
                          * gen.HORIZONS)
    got = fetch.expected_recent_predictions(preds).reset_index()
    per = got.groupby(["product_id", "model_name"]).size()
    assert (per == fetch.PRED_LIMIT).all()
    # 16 whole runs of 6 horizons, then horizons 1-4 of the 17th
    g = got[(got["product_id"] == "C00-USD")
            & (got["model_name"] == gen.MODELS[0])]
    runs = g.groupby("prediction_time")["horizon"].apply(sorted)
    assert runs.iloc[-1] == list(range(1, 7))
    assert runs.iloc[0] == [1, 2, 3, 4] and len(runs) == 17
    assert runs.index.max() == fetch.PRED_CUTOFF_US


def test_history_is_deterministic_and_consistent():
    a = gen.history_table(5, 2)
    assert a.equals(gen.history_table(5, 2))
    assert not a.equals(gen.history_table(6, 2))
    df = a.to_pandas()
    assert len(df) == gen.N_PRODUCTS * 2 * 288
    assert (df["low"] <= df[["open", "close"]].min(axis=1)).all()
    assert (df["high"] >= df[["open", "close"]].max(axis=1)).all()
    assert (df["first_ts"] < df["last_ts"]).all()
    assert "volume" not in gen.history_table(5, 1, volume=False).schema.names


# ----------------------------------------------------------- percentiles

@pytest.mark.parametrize("n, want", [
    (1000, 99.0),     # 10 samples beyond p99
    (999, 95.0),      # 9.99 -> 9 beyond p99, 49 beyond p95
    (200, 95.0),
    (100, 90.0),
    (99, 75.0),
    (40, 75.0),
    (39, None),       # 9 beyond p75: no percentile qualifies
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    values = list(range(n))
    got = probes.tail_percentile(values)
    if want is None:
        assert got is None
        return
    p, v = got
    assert p == want
    assert v == pytest.approx(np.percentile(values, p))
    assert sum(x > v for x in values) >= probes.MIN_BEYOND


def test_median_matches_numpy():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    assert probes.median(xs) == pytest.approx(np.median(xs))


# ------------------------------------------------------------ self time

def test_prefix_self_time_chain_and_join():
    prefix = {"read": 1.0, "clean": 3.0, "delta": 0.5, "merge": 4.0}
    inputs = {"clean": ("read",), "merge": ("clean", "delta")}
    got = probes.prefix_self_times(prefix, inputs)
    assert got == pytest.approx({"read": 1.0, "clean": 2.0,
                                 "delta": 0.5, "merge": 0.5})


def test_op_self_times_sum_repeats_and_operators():
    rec = harness.OpTrace(1)
    rec.prefix = {"sinks.read_table": 1.0, "operators.a": 3.0,
                  "operators.b": 4.5, "sinks.merge_upsert": 5.0,
                  "sinks.merge_upsert#2": 0.75}
    rec.inputs = {"operators.a": ("sinks.read_table",),
                  "operators.b": ("operators.a",),
                  "sinks.merge_upsert": ("operators.b",)}
    got = rec.self_times()
    assert got == pytest.approx({
        "sinks.read_table": 1.0, "operators.a": 2.0, "operators.b": 1.5,
        "operators.self": 3.5, "sinks.merge_upsert": 0.5 + 0.75})


def test_layer_medians_skip_ops_that_do_not_call_the_layer():
    ctx = harness.Ctx("unused", 1, 1.0, True)
    for k, t in enumerate((1.0, 2.0, 3.0)):
        rec = harness.OpTrace(k)
        rec.prefix = {"sinks.read_table": t}
        ctx.ops.append(rec)
    write = harness.OpTrace(9)
    write.prefix = {"sinks.merge_upsert": 5.0}
    write.counts["sinks.store_files"] = 30
    ctx.ops.append(write)
    assert ctx.layer_medians() == {"sinks.read_table": 2.0,
                                   "sinks.merge_upsert": 5.0}
    assert ctx.count_medians() == {"sinks.store_files": 30}


def test_tracer_links_children_to_parent():
    tr = probes.Tracer()
    with tr.span("op", 1) as root:
        with tr.span("layer", 1) as child:
            pass
    assert child.parent == root.sid and root.parent is None
    assert root.start <= child.start <= child.end <= root.end


# ------------------------------------------------- checkpoint and files

def test_checkpoint_file_log_reads_plain_and_compacted(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    entry = lambda name, b: json.dumps(  # noqa: E731
        {"path": f"file:///in/{name}", "timestamp": 1, "batchId": b})
    (src / "9.compact").write_text(
        "v1\n" + "\n".join(entry(f"f{i}.json", i) for i in range(10)))
    (src / "10").write_text("v1\n" + entry("f10.json", 10)
                            + "\n" + entry("f11.json", 10))
    (src / ".10.crc").write_text("junk")
    got = probes.checkpoint_file_batches(str(tmp_path))
    assert got["f3.json"] == 3 and got["f11.json"] == 10
    assert len(got) == 12
    (tmp_path / "commits").mkdir()
    (tmp_path / "commits" / "4").write_text("v1\n{}")
    assert set(probes.checkpoint_commit_times(str(tmp_path))) == {4}


def test_file_set_diff_counts_rewritten_bytes(tmp_path):
    part = tmp_path / "product_id=A"
    part.mkdir()
    (part / "a.parquet").write_bytes(b"x" * 10)
    (part / "b.parquet").write_bytes(b"y" * 20)
    (tmp_path / "_applied").mkdir()
    (tmp_path / "_applied" / "3").write_text("")
    before = probes.file_set(str(tmp_path))
    assert set(before) == {"product_id=A/a.parquet", "product_id=A/b.parquet"}
    os.remove(part / "b.parquet")
    (part / "b.parquet").write_bytes(b"z" * 25)     # rewritten
    (part / "c.parquet").write_bytes(b"w" * 5)      # new
    after = probes.file_set(str(tmp_path))
    assert probes.bytes_written(before, after) == 30

"""``join_replay``: closed-loop, as-fast-as-possible replay of the webtext join.

Seeded ``generate_webtext`` rows, ordered by event time, are replayed as
parquet files through the flagship pipeline:

    read_webtext_stream (1 file per trigger)
      → build_webtext_join(assume_in_order=True)   # HTML→text pandas UDF,
                                                   # watermark, stateful join
      → IdempotentBatchSink                        # foreachBatch, availableNow

The input has ``ROWS_PER_SECOND × --seconds`` rows in ``N_FILES`` files, so
the query runs a few large micro-batches plus the trailing watermark batch.
Set-up is ``get_spark`` plus the same pipeline on a tiny input.

Checks (outside the timed window): the committed pair set equals
``kernels.closure_pairs`` over the input with no duplicates; every paired
row carries the input's reference text; every micro-batch is committed once
by the sink; a restart on the same checkpoint commits 0 new rows
(exactly-once).

A pair's latency is the sink-call return time minus the trigger start of
the micro-batch that committed it.
"""

from __future__ import annotations

import json
import os
import re
import time
from datetime import datetime

import pandas as pd

import data
import layers
from harness import MASTER, Run, engine_record, median, quantile, tail_quantile

ROWS_PER_SECOND = 6000
N_FILES = 3
WARMUP_ROWS = 200


class Replay:
    """One availableNow run of the pipeline into an IdempotentBatchSink."""

    def __init__(self, run: Run, spark, input_dir: str, out_dir: str):
        from statefulstreamprocessor_spark.streaming.pipeline import (
            build_webtext_join,
            read_webtext_stream,
        )
        from statefulstreamprocessor_spark.streaming.sink import IdempotentBatchSink

        self.sink = IdempotentBatchSink(out_dir)
        self.commits: dict[int, float] = {}  # batch id -> sink return, epoch s
        self.call_s: list[float] = []
        self.nodes: dict[tuple[str, str], float] = {}  # traced runs only
        self.query = None
        tracer, parent = run.tracer, run.tracer.current()

        def commit(batch_df, batch_id: int) -> None:
            t0 = time.perf_counter()
            self.sink(batch_df, batch_id)
            t1 = time.perf_counter()
            self.commits[batch_id] = time.time()
            self.call_s.append(t1 - t0)
            tracer.add("sink.call", t0, t1, parent, batch_id=batch_id)
            if run.trace and self.query is not None:
                plan = self.query._jsq.streamingQuery().lastExecution().executedPlan()
                for k, v in layers.plan_metrics(plan).items():
                    self.nodes[k] = self.nodes.get(k, 0.0) + v

        raw = read_webtext_stream(spark, input_dir, max_files_per_trigger=1)
        self.joined = build_webtext_join(raw, assume_in_order=True)
        self.start = time.perf_counter()
        q = (self.joined.writeStream.foreachBatch(commit)
             .option("checkpointLocation", os.path.join(out_dir, "checkpoint"))
             .trigger(availableNow=True)
             .start())
        self.query = q
        try:
            q.awaitTermination()
        finally:
            self.end = time.perf_counter()
            self.progress = [json.loads(p.json) for p in q.recentProgress]
            self.run_id = str(q.runId)

    def trigger_starts(self) -> dict[int, float]:
        """Batch id -> trigger start (epoch s) from the progress records."""
        return {p["batchId"]: datetime.fromisoformat(
                    p["timestamp"].replace("Z", "+00:00")).timestamp()
                for p in self.progress}

    def pairs(self) -> pd.DataFrame:
        """Committed output rows, with their batch id."""
        import pyarrow.dataset as ds

        cols = ["url", "r_warc_ts", "s_warc_ts", "r_text", "s_text", "batch"]
        t = ds.dataset(self.sink.data_dir, format="parquet",
                       partitioning="hive").to_table(columns=cols)
        pdf = t.to_pandas()
        pdf = pdf[pdf["batch"].isin(self.sink.committed_batches())]
        pdf["r_us"] = data.ts_us(pdf["r_warc_ts"])
        pdf["s_us"] = data.ts_us(pdf["s_warc_ts"])
        return pdf.reset_index(drop=True)


def _bucket_count(joined) -> int:
    plan = joined._jdf.queryExecution().analyzed().toString()
    m = re.search(r"pmod\(xxhash64\([^)]*\), (?:cast\()?(\d+)", plan)
    return int(m.group(1)) if m else -1


def _check(run: Run, rep: Replay, oracle: pd.DataFrame, ref: pd.DataFrame) -> pd.DataFrame:
    out = rep.pairs()
    key = ["url", "r_us", "s_us"]
    run.op(not out.duplicated(key).any(), "duplicate pairs in the sink")
    got = out[key].drop_duplicates().sort_values(key).reset_index(drop=True)
    want = oracle[key].sort_values(key).reset_index(drop=True)
    run.op(len(got) == len(want) and bool((got.to_numpy() == want.to_numpy()).all()),
           f"pair set != closure oracle ({len(got)} vs {len(want)} pairs)")
    text = ref.set_index(["url", "ts_us"])["text"]
    r_ok = text.reindex(pd.MultiIndex.from_arrays([out["url"], out["r_us"]])).to_numpy()
    s_ok = text.reindex(pd.MultiIndex.from_arrays([out["url"], out["s_us"]])).to_numpy()
    run.op(bool((r_ok == out["r_text"].to_numpy()).all()
                and (s_ok == out["s_text"].to_numpy()).all()),
           "extracted text differs from the reference text")
    return out


def _check_batches(run: Run, rep: Replay, out: pd.DataFrame) -> None:
    """One op per micro-batch: the sink's ledger commits it once and its
    lineage record holds the row count read back from its epoch."""
    ledger = rep.sink.committed_batches()
    with open(rep.sink.lineage_path) as f:
        lineage = [json.loads(line) for line in f if line.strip()]
    rows = out["batch"].value_counts().to_dict()
    for p in rep.progress:
        b = p["batchId"]
        logged = [r["rows"] for r in lineage if r["batch_id"] == b]
        run.op(ledger.count(b) == 1 and logged == [rows.get(b, 0)],
               f"micro-batch {b}: ledger {ledger}, lineage rows {logged}")


def join_replay(run: Run) -> dict:
    from statefulstreamprocessor_spark.session import get_spark

    n_rows = ROWS_PER_SECOND * run.seconds
    src, warm = data.prepare(data.replay_inputs, run.cache, run.seed, n_rows, N_FILES,
                             WARMUP_ROWS)
    tr = run.tracer
    listener = layers.ProgressListener() if run.trace else None

    run.begin_window()
    with tr.span("setup"):
        t0 = time.perf_counter()
        with tr.span("get_spark"):
            spark = get_spark("perfbench-join-replay", master=MASTER)
            spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with tr.span("warmup"):
            Replay(run, spark, os.path.join(warm, "input"), os.path.join(run.work, "warm"))
        t2 = time.perf_counter()
    if listener is not None:
        spark.streams.addListener(listener)
    first = layers.last_stage_id(spark) + 1 if run.trace else 0
    out_dir = os.path.join(run.work, "out")
    with tr.span("query"):
        rep = Replay(run, spark, os.path.join(src, "input"), out_dir)
    peak_mb = run.end_window()
    last = layers.last_stage_id(spark) if run.trace else 0

    oracle = pd.read_parquet(os.path.join(src, "oracle.parquet"))
    ref = pd.read_parquet(os.path.join(src, "reference.parquet"))
    out = _check(run, rep, oracle, ref)
    _check_batches(run, rep, out)
    again = Replay(run, spark, os.path.join(src, "input"), out_dir)
    run.op(len(again.pairs()) == len(out) and not again.commits,
           "restart on the same checkpoint committed new rows")

    wall = rep.end - rep.start
    lat_ms = list((out["batch"].map(rep.commits) - out["batch"].map(rep.trigger_starts()))
                  .to_numpy() * 1e3)
    q = tail_quantile(len(lat_ms))
    metrics = {
        "setup_s": t2 - t0,
        "joined_rows_per_s": len(out) / wall,
        "emit_latency_p50_ms": quantile(lat_ms, 0.5),
        "emit_latency_p99_ms": quantile(lat_ms, q),
        "batch_total_s": wall,
    }
    run.record.update(
        engine=engine_record(spark, join_buckets=_bucket_count(rep.joined)),
        input_rows=n_rows, input_files=N_FILES, joined_rows=len(out),
        latency_samples=len(lat_ms), latency_tail_quantile=q, peak_rss_mb=peak_mb,
    )
    layer = {}
    if run.trace:
        progress = listener.wait_for(rep.run_id, len(rep.progress))
        layer.update(layers.progress_metrics(progress))
        layer.update(layers.stage_metrics(spark, first, last))
        layer.update(layers.python_metrics(rep.nodes))
        layer["sink.call_ms"] = median(rep.call_s) * 1e3
        layer["sink.batches"] = float(len(rep.call_s))
        layer["session.get_spark_s"] = t1 - t0
        layer["session.warmup_s"] = t2 - t1
        layer["process.peak_rss_mb"] = peak_mb
        layer["host.calibration_s"] = run.calibration_s
        run.record["progress"] = progress
    return {"metrics": metrics, "layers": layer}

"""``batch_headline``: the 13 ``bench.py`` headline queries at sf0.1.

Set-up is ``get_spark`` plus a first run of each query on the sf0.1 tables,
built and collected to Arrow. That result is checked outside the timed
set-up: its row count, column names and order-insensitive digest
(``scripts/check_oracles.py`` canonicalization, imported) must equal the
query's ``oracle_sql()`` on DuckDB over the same tables.

The timed window is ``PASSES`` passes over the queries in ``HEADLINE``
order, each query built and executed to ``write.format("noop")`` so every
output column is computed (``.count()`` would let Catalyst prune columns).
Each query's figures are its medians over the passes. The JVM's JIT
compiler is still busy during a query's first runs on the sf0.1 inputs, and
its threads compete with the four task threads; how much it compiles in a
pass varies from run to run, and the median leaves out the pass it slowed
most.
"""

from __future__ import annotations

import hashlib
import time

import numpy as np

import data
import layers
from harness import MASTER, Run, engine_record, jvm_jit_s, median

# the bench.py HEADLINE set, in its order
HEADLINE = [
    "nn_pair_join",
    "nn_pair_join_delta",
    "asof_backward",
    "tumbling_hourly",
    "sliding_1h_15m",
    "session_30m",
    "unpivot_lineitem",
    "dedup_exact",
    "ngram_jaccard",
    "ann_cosine_topk",
    "text_quality",
    "salted_agg",
    "windowed_latest_pair",
]
SF = 0.1
PASSES = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _catalyst_s(df) -> tuple[float, float]:
    """Force the physical plan; return its analysis + optimization +
    planning time and the optimization + planning part, from Catalyst's
    ``QueryPlanningTracker``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    ms = {p: phases.get(p).get().durationMs()
          for p in ("analysis", "optimization", "planning") if phases.get(p).isDefined()}
    return sum(ms.values()) / 1e3, (ms.get("optimization", 0) + ms.get("planning", 0)) / 1e3


def _timed_query(run: Run, spark, builder, name: str, tables: str) -> dict[str, float]:
    """Build, (traced: force the plan,) execute to noop; one op."""
    tr = run.tracer
    rec = {}
    with tr.span(f"query.{name}"):
        if run.trace:
            spark.sparkContext.setJobGroup(f"perfbench:{name}", name)
        s = time.perf_counter()
        with tr.span("build"):
            df = builder(spark, tables)
        b = time.perf_counter()
        replan = 0.0
        if run.trace:
            with tr.span("catalyst"):
                rec["catalyst_s"], replan = _catalyst_s(df)
        c = time.perf_counter()
        with tr.span("execute"):
            try:
                _noop(df)
                ok = True
            except Exception as err:  # a failed query is a failed op
                ok = False
                print(f"{name}: {type(err).__name__}: {str(err)[:300]}")
        e = time.perf_counter()
    run.op(ok, f"{name}: query failed")
    # the noop write optimizes and plans the analyzed plan again: exec_s
    # leaves that pass out, taking it to cost what the forced pass cost
    rec.update(build_s=b - s, exec_s=e - c - replan, total_s=(b - s) + (e - c))
    return rec


def _digest(t) -> tuple[str, int, list[str]]:
    """``check_oracles.digest`` of a query's Arrow result and its sorted
    column names: the same lines and hash, with ``canon`` run once per
    distinct value of a column (Arrow tells 0.0 from -0.0 as ``canon`` does).
    It takes a quarter of ``digest``'s time on the 2.4M-row unpivot output."""
    import check_oracles

    names = sorted(t.column_names)
    cols = []
    for name in names:
        enc = t.column(name).combine_chunks().dictionary_encode(null_encoding="encode")
        uniq = np.array([check_oracles.canon(v) for v in enc.dictionary.to_pylist()],
                        dtype=object)
        cols.append(uniq[enc.indices.to_numpy(zero_copy_only=False)].tolist())
    lines = sorted(map("|".join, zip(*cols)))
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, len(lines), names


def _first_run(run: Run, spark, builder, name: str, tables: str, want: dict) -> tuple[float, int]:
    """Build the query and collect it to Arrow, timed; then compare the
    result with the oracle, untimed. One op; returns the collect time and
    the row count (-1 if the query failed)."""
    tr = run.tracer
    s = time.perf_counter()
    with tr.span(f"collect.{name}"):
        try:
            t = builder(spark, tables).toArrow()
        except Exception as e:  # a query that cannot be checked fails its check
            t, err = None, f"{type(e).__name__}: {str(e)[:200]}"
    collect_s = time.perf_counter() - s
    with tr.span(f"check.{name}"):
        h, n, cols = _digest(t) if t is not None else (err, -1, [])
    run.op(h == want["hash"] and n == want["rows"] and cols == want["columns"],
           f"{name}: rows {n}/{want['rows']} hash {h}/{want['hash']}")
    return collect_s, n


def batch_headline(run: Run) -> dict:
    import __spark_entry__
    from statefulstreamprocessor_spark.session import get_spark

    tables, oracle = data.prepare(data.batch_inputs, run.cache, SF, HEADLINE)
    qs = __spark_entry__.queries()
    tr = run.tracer

    run.begin_window()
    t0 = time.perf_counter()
    with tr.span("get_spark"):
        spark = get_spark("perfbench-batch-headline", master=MASTER)
        spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t0
    if run.trace:
        spark.sparkContext.setJobGroup("perfbench:warmup", "warm-up")
    warmup_s, rows = 0.0, {}
    with tr.span("warmup"):
        for name in HEADLINE:
            s, rows[name] = _first_run(run, spark, qs[name], name, tables, oracle[name])
            warmup_s += s

    first = layers.last_stage_id(spark) + 1 if run.trace else 0
    first_ex = layers.last_execution_id(spark) + 1 if run.trace else 0
    passes, jit_s = [], []
    for _ in range(PASSES):
        jit0 = jvm_jit_s(spark)
        with tr.span("pass"):
            passes.append({name: _timed_query(run, spark, qs[name], name, tables)
                           for name in HEADLINE})
        jit_s.append(jvm_jit_s(spark) - jit0)
    peak_mb = run.end_window()
    last = layers.last_stage_id(spark) if run.trace else 0
    last_ex = layers.last_execution_id(spark) if run.trace else 0
    per_query = {name: {k: median([p[name][k] for p in passes]) for k in passes[0][name]}
                 for name in HEADLINE}
    for name in HEADLINE:
        per_query[name]["rows"] = rows[name]

    times = sorted(q["total_s"] for q in per_query.values())
    nn = per_query["nn_pair_join"]
    metrics = {
        "setup_s": get_spark_s + warmup_s,
        "joined_rows_per_s": nn["rows"] / nn["total_s"],
        "emit_latency_p50_ms": times[len(times) // 2] * 1e3,
        # 13 samples cannot support a p99: the slowest query stands in for it
        "emit_latency_p99_ms": times[-1] * 1e3,
        "batch_total_s": sum(times),
    }
    run.record.update(engine=engine_record(spark), tables_sf=SF, queries=per_query,
                      pass_total_s=[sum(q["total_s"] for q in p.values()) for p in passes],
                      pass_jit_s=jit_s, peak_rss_mb=peak_mb)
    layer = {}
    if run.trace:
        layer["session.get_spark_s"] = get_spark_s
        layer["session.warmup_s"] = warmup_s
        layer["process.peak_rss_mb"] = peak_mb
        layer["host.calibration_s"] = run.calibration_s
        for name, q in per_query.items():
            for k in ("build_s", "catalyst_s", "exec_s"):
                layer[f"entry.{name}.{k}"] = q[k]
        layer.update(layers.stage_metrics(spark, first, last))
        nodes = layers.node_metrics(spark, first_ex, last_ex)
        layer.update(layers.python_metrics(nodes))
    return {"metrics": metrics, "layers": layer}

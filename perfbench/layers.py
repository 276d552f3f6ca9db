"""Per-layer readings from Spark's public status records (traced runs only).

* stage metrics from the app status store
  (``SparkContext.statusStore().stageList``), restricted to the stages a
  timed window submitted;
* SQL metrics of named plan nodes (the Python nodes: ``ArrowEvalPython`` =
  ``functions.textops.html_to_text_udf``, ``FlatMapGroupsInPandasWithState``
  = ``streaming.stateful_join``), from the SQL status store for batch
  queries and from each micro-batch's executed plan for streaming;
* micro-batch progress from a ``StreamingQueryListener``.

All of these are readable with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import re
import time

from pyspark.sql.streaming import StreamingQueryListener

from harness import median

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _stages(spark) -> list:
    sc = spark.sparkContext
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    return _seq(sc._jsc.sc().statusStore().stageList(None, False, False, no_quantiles, None))


def last_stage_id(spark) -> int:
    return max((s.stageId() for s in _stages(spark)), default=-1)


def stage_metrics(spark, first: int, last: int) -> dict[str, float]:
    """Executor totals over stages ``first..last`` and the task skew of the
    largest of them (max / median task run time)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    window = [s for s in _stages(spark) if first <= s.stageId() <= last]
    out = {
        "spark.executor_run_s": sum(s.executorRunTime() for s in window) / 1e3,
        "spark.executor_cpu_s": sum(s.executorCpuTime() for s in window) / 1e9,
        "spark.shuffle_write_mb": sum(s.shuffleWriteBytes() for s in window) / 2**20,
        "spark.spill_mb": sum(s.diskBytesSpilled() for s in window) / 2**20,
        "spark.task_skew": 1.0,
    }
    if window:
        big = max(window, key=lambda s: s.executorRunTime())
        qs = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        dist = store.taskSummary(big.stageId(), big.attemptId(), qs)
        if dist.isDefined():
            run = dist.get().executorRunTime()
            med, top = run.apply(0), run.apply(1)
            out["spark.task_skew"] = top / med if med > 0 else 1.0
    return out


def last_execution_id(spark) -> int:
    sql = spark._jsparkSession.sharedState().statusStore()
    return max((e.executionId() for e in _seq(sql.executionsList())), default=-1)


# SQLMetrics.stringValue renders timings in ms/s/m/h and sizes in B..TiB
_UNIT = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
         "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}


def _total(text: str) -> float | None:
    """The task total of a rendered SQL metric (ms for timings, bytes for
    sizes): multi-task values read ``total (min, med, max ...)\n<total> ...``."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if m is None:
        return None
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


def node_metrics(spark, first: int, last: int) -> dict[tuple[str, str], float]:
    """SQL metric totals per (plan node name, metric name) over the SQL
    executions ``first..last``; timings in ms, sizes in bytes."""
    sql = spark._jsparkSession.sharedState().statusStore()
    out: dict[tuple[str, str], float] = {}
    for ex in _seq(sql.executionsList()):
        eid = ex.executionId()
        if not first <= eid <= last:
            continue
        values = sql.executionMetrics(eid)
        for node in _seq(sql.planGraph(eid).allNodes()):
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                total = _total(v.get()) if v.isDefined() else None
                if total is not None:
                    key = (node.name(), m.name())
                    out[key] = out.get(key, 0.0) + total
    return out


def plan_metrics(plan) -> dict[tuple[str, str], float]:
    """Raw SQL metric values per (node name, metric name) of an executed
    plan; timings in ms, sizes in bytes. For micro-batches, whose jobs run
    under the sink's own SQL execution, the status store keeps no values for
    the micro-batch plan's nodes, so the plan itself is read."""
    out: dict[tuple[str, str], float] = {}
    todo = [plan]
    while todo:
        node = todo.pop()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            v = float(m.value()) / (1e6 if m.metricType() == "nsTiming" else 1.0)
            key = (node.nodeName(), kv._1() if not m.name().isDefined() else m.name().get())
            out[key] = out.get(key, 0.0) + v
        todo.extend(_seq(node.children()))
    return out


def python_metrics(nodes: dict[tuple[str, str], float]) -> dict[str, float]:
    def total(node: str | None, metric: str) -> float:
        return sum(v for (n, m), v in nodes.items()
                   if m == metric and (node is None or n.startswith(node)))

    return {
        "spark.python_run_s": total(None, PY_RUN) / 1e3,
        "textops.python_run_s": total("ArrowEvalPython", PY_RUN) / 1e3,
        "textops.arrow_sent_mb": total("ArrowEvalPython", PY_SENT) / 2**20,
        "stateful_join.python_run_s":
            total("FlatMapGroupsInPandasWithState", PY_RUN) / 1e3,
    }


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress record as a dict."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def wait_for(self, run_id: str, n: int, timeout: float = 10.0) -> list[dict]:
        """The query's records, once the listener bus has delivered ``n``."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            got = [p for p in self.progress if p["runId"] == run_id]
            if len(got) >= n:
                return got
            time.sleep(0.05)
        return [p for p in self.progress if p["runId"] == run_id]


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """``streaming.pipeline`` phases, ``sources`` offsets and
    ``streaming.stateful_join`` state from micro-batch progress."""
    def dur(p: dict, k: str) -> float:
        return float(p.get("durationMs", {}).get(k, 0))

    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    n = len(progress)
    return {
        "pipeline.batches": float(n),
        "pipeline.empty_batch_ratio":
            sum(1 for p in progress if p["numInputRows"] == 0) / n if n else 0.0,
        "pipeline.trigger_ms": median([dur(p, "triggerExecution") for p in progress]),
        "pipeline.add_batch_ms": median([dur(p, "addBatch") for p in progress]),
        "pipeline.query_planning_ms": median([dur(p, "queryPlanning") for p in progress]),
        "pipeline.wal_commit_ms": median([dur(p, "walCommit") for p in progress]),
        "pipeline.commit_offsets_ms": median([dur(p, "commitOffsets") for p in progress]),
        "sources.offset_ms": median(
            [dur(p, "latestOffset") + dur(p, "getBatch") for p in progress]),
        "stateful_join.state_rows": float(max((o["numRowsTotal"] for o in ops), default=0)),
        "stateful_join.state_mb":
            max((o["memoryUsedBytes"] for o in ops), default=0) / 2**20,
        "stateful_join.state_partitions":
            float(max((o.get("numShufflePartitions", 0) for o in ops), default=0)),
        "stateful_join.state_commit_ms": median([float(o["commitTimeMs"]) for o in ops]),
    }

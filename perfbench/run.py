#!/usr/bin/env python3
"""Benchmark of the stateful stream engine, run from the root of a checkout:

    python3 perfbench/run.py --workload join_replay --seed 1 --seconds 6 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md):

* ``join_replay``    — closed-loop replay of the webtext stream-stream join;
* ``batch_headline`` — the 13 headline batch queries at sf0.1.

Each invocation is one fresh driver process on ``local[4]``. Inputs come
from ``--seed`` and are cached in ``.perfbench_cache``; outputs are checked
against oracles outside the timed window. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is a ``{"record": ...}`` object with the effective engine
config, library versions and per-query / per-batch details.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402


def _workloads() -> dict:
    from batch import batch_headline
    from replay import join_replay

    return {"join_replay": join_replay, "batch_headline": batch_headline}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _metrics(specs: list[dict], values: dict[str, float]) -> dict:
    """Every metric of ``specs``; a layer the workload does not exercise
    reads 0."""
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in specs}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run = harness.Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        spec = _spec()
        run.enter()
        workload = _workloads()[args.workload]
    except (OSError, harness.EngineMissing, ImportError, KeyError) as e:
        print(f"perfbench: cannot run {args.workload!r}: {type(e).__name__}: {e}",
              file=sys.stderr)
        run.cleanup()
        return 2

    result, crashed = {"metrics": {}, "layers": {}}, False
    try:
        result = workload(run)
    except Exception:  # report the failed run instead of a partial result
        traceback.print_exc()
        run.op(False, "workload raised")
        crashed = True
    finally:
        run.rss.stop()
        harness.stop_engine()
        residue = run.residue_files()
        run.cleanup()

    failed = len(run.failures)
    for f in run.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    if run.trace:
        layer = dict(result["layers"])
        layer["session.tmp_residue_files"] = residue
        layer["ops.attempted"] = run.attempted
        layer["ops.failed_ratio"] = failed / max(run.attempted, 1)
        for k, v in result["metrics"].items():
            layer[f"traced.{k}"] = v
        run.record["trace_file"] = run.write_trace()
        run.record["self_s"] = run.tracer.self_times()
        metrics = _metrics(spec["per_layer"], layer)
    else:
        metrics = _metrics(spec["end_to_end"], result["metrics"])
    run.record.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                      trace=args.trace, tmp_residue_files=residue, failures=run.failures)
    print(json.dumps({"record": run.record}, default=str))
    print(json.dumps({"correct": failed == 0 and not crashed,
                      "attempted": max(run.attempted, 1), "failed": failed,
                      "metrics": {} if crashed else metrics}))
    return 1 if crashed else 0


if __name__ == "__main__":
    sys.exit(main())

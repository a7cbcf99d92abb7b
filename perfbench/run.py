"""Closed-loop benchmark of the pythongis_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One client issues ops back to back on a
``local[nproc]`` session; every result goes to the ``noop`` sink and
every op's output is checked. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``:

* ``--trace 0``: the end-to-end metrics (``setup_s``, ``items_per_s``,
  ``op_p50_s``), no tracing;
* ``--trace 1``: the per-layer metrics, from spans around each public
  call and layer probe plus Spark's job, task, shuffle and SQL metrics.
  Spans and counts are written to ``perfbench/.out/``.

Workloads and their design are described in ``perfbench/design.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {"setup_s": "s", "items_per_s": "1/s", "op_p50_s": "s"}
# per-layer metrics of the run itself, beside the workload's own
RUN_UNITS = {
    "session.start_s": "s", "fixtures.setup_s": "s", "warmup.s": "s",
    "warmup.ops": "count", "trace.op_p50_s": "s",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pythongis_spark", "__init__.py")):
        print(f"pythongis_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # the Python workers import this directory's modules (mapInPandas
    # bodies are pickled by reference) as well as the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, os.environ.get("PYTHONPATH")) if p
    )
    import harness as H
    from workloads import PER_LAYER, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = H.start_session(ROOT, work)
        t_session = time.perf_counter() - t0

        tracer = H.Tracer(bool(args.trace))
        ctx = types.SimpleNamespace(
            spark=spark, seed=args.seed, work=work, cores=H.host_cores(),
            tracer=tracer, counters=H.SparkCounters(spark) if args.trace else None,
        )
        w = WORKLOADS[args.workload](ctx)
        t1 = time.perf_counter()
        w.setup()
        t_inputs = time.perf_counter() - t1

        loop = H.Loop(w, tracer)
        t2 = time.perf_counter()
        k = loop.warm_up(0, w.warm_min)
        t_warm = time.perf_counter() - t2
        warm_failed = loop.failed
        setup_s = time.perf_counter() - t0
        loop.reset()

        k_end, busy = loop.measure(k, args.seconds)
        ops = range(k, k_end)
        print(
            f"{args.workload} seed={args.seed}: {loop.attempted} ops measured "
            f"({loop.failed} failed), {k} warm-up ops ({warm_failed} failed); "
            f"set-up {setup_s:.1f} s = session {t_session:.1f} + inputs "
            f"{t_inputs:.1f} + warm-up {t_warm:.1f} ("
            + " ".join(f"{x:.2f}" for x in loop.warm_latencies)
            + "); latencies "
            + " ".join(f"{x:.2f}" for x in loop.latencies),
            file=sys.stderr,
        )
        if args.trace:
            layers = w.layer_metrics(ops)
            layers.update({
                "session.start_s": t_session,
                "fixtures.setup_s": t_inputs,
                "warmup.s": t_warm,
                "warmup.ops": k,
                "trace.op_p50_s": H.median(loop.latencies),
            })
            metrics = {
                name: {"value": float(layers[name]), "unit": unit}
                for name, unit in {**PER_LAYER, **RUN_UNITS}.items()
            }
            os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
            out = os.path.join(HERE, ".out", f"trace-{args.workload}-{args.seed}.json")
            with open(out, "w") as fh:
                json.dump({
                    "workload": args.workload, "seed": args.seed,
                    "measured_ops": list(ops), "latencies": loop.latencies,
                    "spans": tracer.spans, "op_counts": w.op_counts,
                    "probes": w.probes, "metrics": metrics,
                }, fh, indent=1, default=str)
        else:
            values = {
                "setup_s": setup_s,
                "items_per_s": loop.items / busy if busy > 0 else 0.0,
                "op_p50_s": H.median(loop.latencies),
            }
            metrics = {n: {"value": v, "unit": E2E_UNITS[n]} for n, v in values.items()}
        result = {
            "correct": loop.failed == 0 and warm_failed == 0 and loop.attempted > 0,
            "attempted": loop.attempted,
            "failed": loop.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            H.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

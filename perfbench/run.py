"""CDC engine benchmark: one command, two workloads.

    python3 perfbench/run.py --workload live_tail|wire_ddl \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Starts one local Spark session on every
CPU, generates the workload's inputs from ``--seed``, warms the engine
up with fixed work, measures a window of ``--seconds``, checks every
output against an independent DuckDB oracle, and prints a summary line
and then, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer
ones (and writes the spans to ``.perfbench_out/``). Metric names and
units live in BENCHMARK.json, the reasoning behind them in
perfbench/DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

T_START = time.monotonic()
# a run that has not finished by then is aborted (no result), leaving
# time to stop Spark inside the 180 s a run may take
DEADLINE_S = 160

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import CHECKOUT, OUT_ROOT, Session, Workdir, log  # noqa: E402


class Context:
    def __init__(self, work: Workdir, sess: Session, tracer):
        self.work, self.sess, self.spark, self.tracer = work, sess, sess.spark, tracer
        self.setup_s: float | None = None

    def setup_done(self) -> None:
        """Marks the end of set-up: session start, input generation and
        warm-up are behind us; the timed window starts now."""
        self.setup_s = time.monotonic() - T_START
        log(f"setup done after {self.setup_s:.2f}s")

    def work_rm(self, name: str) -> None:
        import shutil

        shutil.rmtree(self.work.path(name), ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS
    except (OSError, ImportError, ValueError) as e:
        log(f"cannot run: the engine or the benchmark spec is missing ({e!r})")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    def overdue(signum, frame):
        raise TimeoutError(f"run not finished after {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, overdue)
    signal.alarm(DEADLINE_S)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = Workdir(run_id)
    sess = None
    tracer = Tracer(run_id) if args.trace else None
    try:
        sess = Session(work)
        log(f"session up after {time.monotonic() - T_START:.2f}s")
        if tracer:
            tracer.install()
        ctx = Context(work, sess, tracer)
        run = WORKLOADS[args.workload](ctx, args.seed, args.seconds)
        if tracer:
            tracer.uninstall()
            os.makedirs(OUT_ROOT, exist_ok=True)
            tracer.dump(os.path.join(OUT_ROOT, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    except Exception:
        traceback.print_exc()
        log("run aborted: no result")
        return 1
    finally:
        signal.alarm(0)
        if sess is not None:
            sess.stop()
        work.remove()

    run.e2e["setup_s"] = ctx.setup_s
    if tracer:
        run.layers["harness.traced_events_per_s"] = run.e2e.get("events_per_s", 0.0)
        run.layers["harness.traced_freshness_s_p50"] = run.e2e.get("freshness_s_p50", 0.0)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = run.layers if args.trace else run.e2e
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            v = 0.0
            if not args.trace:  # every end-to-end metric must be measured
                run.ops.op(False, f"metric {m['name']} not measured")
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}

    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "samples": run.samples, "notes": run.notes,
                      "failures": run.ops.reasons}))
    print(json.dumps({"correct": run.ops.failed == 0, "attempted": run.ops.attempted,
                      "failed": run.ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload aqp_mixed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout: the library is imported from
``./verdictdb_spark`` and nothing else.  Inputs are generated from the
seed (and cached) under ``./.perfbench_work``, which also holds every
temporary file the run writes.  The last line of standard output is one
JSON object with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``); the lines before it are the report.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("aqp_mixed", "sketch_codefiles")
MIN_CYCLES = 2
END_TO_END = {
    "setup_s": "s",
    "first_answer_p50_s": "s",
    "answer_p50_s": "s",
    "rows_per_s": "rows/s",
    "driver_peak_rss_mb": "MB",
    "answer_rel_err_p90": "ratio",
}


def _layer_units() -> dict:
    from perfbench import micro

    units = {
        "session.start_s": "s", "session.worker_warm_s": "s",
        "scramble.create_s": "s", "scramble.bytes_per_input_byte": "ratio",
        "scramble.files": "count", "scramble.append_s": "s",
        "metastore.lookup_ms": "ms", "sqlparse.parse_ms": "ms",
        "api.driver_only_s": "s", "api.jobs_per_op": "count",
        "api.stages_per_op": "count", "scan.spark_busy_s": "s",
        "scan.rows_read_per_scramble_row": "ratio", "scan.executor_cpu_s": "s",
        "scan.shuffle_bytes": "bytes", "scan.gc_s": "s",
        "spark.failed_tasks": "count", "spark.tasks_first_cycle": "count",
        "progressive.steps_to_answer": "count",
        "progressive.spark_engine_share": "ratio",
        "sketch_op.build_s": "s", "sketch_op.merge_rounds": "count",
        "sketch_op.merge_shuffle_bytes": "bytes", "sketch_op.python_cpu_s": "s",
        "trace.setup_s": "s", "trace.answer_p50_s": "s",
    }
    for kind in ("hll", "kll", "tdigest", "topk", "bloom"):
        units[f"sketch_op.{kind}_s"] = "s"
    for k in micro.names():
        units[k] = "bytes" if k.endswith("state_bytes") else "ms"
    return units


def _isolate(tmp: str) -> None:
    """Point every temporary and scratch directory into ``tmp``."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _check_library() -> None:
    init = os.path.join(ROOT, "verdictdb_spark", "__init__.py")
    if not os.path.isfile(init):
        sys.exit(f"perfbench: no verdictdb_spark package at {ROOT}; run from a checkout root")
    sys.path.insert(0, ROOT)
    import verdictdb_spark

    if os.path.dirname(os.path.abspath(verdictdb_spark.__file__)) != os.path.dirname(init):
        sys.exit("perfbench: imported verdictdb_spark from outside the checkout")


def _start_spark(tracer, python_workers: bool):
    import verdictdb_spark as vs

    n = max(1, len(os.sched_getaffinity(0)) // 2)
    t0 = time.monotonic()
    with tracer.span("session.start"):
        spark = vs.get_spark("perfbench", master=f"local[{n}]")
        spark.sparkContext.setLogLevel("ERROR")
    start_s = time.monotonic() - t0
    t0 = time.monotonic()
    if python_workers:
        with tracer.span("session.worker_warm"):
            # start one Arrow Python worker per task slot
            spark.range(n * 1000, numPartitions=n).mapInPandas(lambda it: it, "id long").count()
    return spark, n, start_s, time.monotonic() - t0


def _stop_spark() -> None:
    """Stop the session, if one started, and wait for its JVM (and with
    it the Python workers) to exit: the JVM ends when its stdin closes."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _check_library()
    tmp = os.path.join(WORK, "tmp", f"{os.getpid()}")
    _isolate(tmp)
    try:
        return _run(args, tmp)
    finally:
        _stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, tmp: str) -> int:
    import numpy as np

    from perfbench.stats import drift, median, quantile, tail
    from perfbench.trace import Tracer, steal_seconds

    trace = bool(args.trace)
    tracer = Tracer(trace)
    # inputs first, outside every timed phase
    gen = subprocess.run(
        [sys.executable, "-m", "perfbench.inputs", os.path.join(WORK, "cache"),
         args.workload, str(args.seed)],
        cwd=ROOT, check=True, stdout=subprocess.PIPE,
    )
    paths = json.loads(gen.stdout)

    steal0, wall0 = steal_seconds(), time.monotonic()
    t_setup = time.monotonic()
    # only the sketch operators run Python workers; the AQP paths do not
    spark, slots, start_s, warm_s = _start_spark(tracer, args.workload == "sketch_codefiles")
    # substreams: warm-up, timed ops and trace probes never share params
    rng_warm = np.random.default_rng([args.seed, 1])
    rng_timed = np.random.default_rng([args.seed, 2])
    rng_probe = np.random.default_rng([args.seed, 3])
    root = os.path.join(tmp, "ctx")
    if args.workload == "aqp_mixed":
        from perfbench.aqp import AqpWorkload

        wl = AqpWorkload(spark, paths, root, tracer, trace)
    else:
        from perfbench.sketch import SketchWorkload

        wl = SketchWorkload(spark, paths, tracer, trace)

    errors: list[str] = []
    raised: set = set()
    op = 0

    def one_cycle(rng, timed: bool) -> None:
        nonlocal op
        try:
            with tracer.span("cycle", timed=timed):
                op += wl.cycle(rng, op, timed)
        except Exception:
            raised.add(op)
            errors.append(traceback.format_exc(limit=4))
            op += 1

    with tracer.span("setup"):
        wl.setup()
        t0 = time.monotonic()
        one_cycle(rng_warm, timed=False)
        warm_s_cycle = time.monotonic() - t0
    setup_s = time.monotonic() - t_setup

    # whole cycles, at least MIN_CYCLES, until the op time reaches --seconds:
    # a cycle near --seconds long would otherwise flip runs between one
    # cycle and two
    first_cycle = None
    t_timed = time.monotonic()
    cycles = 0
    while True:
        start_op = op
        one_cycle(rng_timed, timed=True)
        cycles += 1
        if first_cycle is None:
            first_cycle = set(range(start_op, op))
        spent = sum(o["wall"] for o in wl.ops if o.get("timed"))
        if raised or (cycles >= MIN_CYCLES and spent >= args.seconds):
            break
    timed_wall = time.monotonic() - t_timed
    # peak RSS of the workload itself, before the checks load the truth
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    if trace:
        from perfbench import micro

        wl.layer_metrics(first_cycle)
        if hasattr(wl, "layer_extras"):
            wl.layer_extras(rng_probe)
        wl.layer.update(micro.run(args.seed))
    n_checked, n_failed, reasons, cells = wl.check()
    steal = steal_seconds() - steal0

    timed_ops = [o for o in wl.ops if o.get("timed")]
    answers = [o["wall"] for o in timed_ops if o["kind"] == "answer"]
    firsts = [o["wall"] for o in timed_ops if o["kind"] == "first_answer"] or answers
    work = [o for o in timed_ops if o["kind"] != "first_answer"]
    attempted = n_checked + len(raised)
    failed = n_failed + len(raised)
    e2e = {
        "setup_s": setup_s,
        "first_answer_p50_s": median(firsts),
        "answer_p50_s": median(answers),
        "rows_per_s": sum(o["rows"] for o in work) / max(1e-9, sum(o["wall"] for o in work)),
        "driver_peak_rss_mb": rss_mb,
        "answer_rel_err_p90": quantile(cells, 0.9),
    }

    # ---------------------------------------------------------- report
    def line(*parts):
        print("#", *parts)

    line(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
         f"trace={args.trace} master=local[{slots}] nproc={len(os.sched_getaffinity(0))}")
    for k, unit in END_TO_END.items():
        line(f"{k} = {e2e[k]:.6g} {unit}")
    for label, xs in (("first_answer", firsts), ("answer", answers),
                      ("bulk", [o["wall"] for o in timed_ops if o["kind"] == "bulk"]),
                      ("append", [o["wall"] for o in timed_ops if o["kind"] == "append"])):
        if not xs:
            continue
        v, pct, n = tail(xs)
        tail_s = f"p{pct}={v:.4f}s" if n >= 11 else "tail=n/a (fewer than 11 samples)"
        line(f"{label}: n={n} p50={median(xs):.4f}s {tail_s} max={max(xs):.4f}s")
    warm_tpl: dict = {}
    for o in wl.ops:
        if not o.get("timed"):
            warm_tpl.setdefault(f"{o['kind']}:{o.get('template') or o.get('sketch', '')}", []).append(o["wall"])
    line("warm-up per-op: " + " ".join(f"{k}={median(v):.3f}" for k, v in sorted(warm_tpl.items())))
    per_tpl: dict = {}
    for o in timed_ops:
        per_tpl.setdefault(f"{o['kind']}:{o.get('template') or o.get('sketch', '')}", []).append(o["wall"])
    line("per-op p50: " + " ".join(f"{k}={median(v):.3f}" for k, v in sorted(per_tpl.items())))
    cpu_first = [o["cpu"] for o in timed_ops if o["kind"] == "first_answer"]
    cpu_ans = [o["cpu"] for o in timed_ops if o["kind"] == "answer"]
    line(f"cpu: first_answer p50={median(cpu_first):.4f}s answer p50={median(cpu_ans):.4f}s "
         f"rows/cpu_s={sum(o['rows'] for o in work) / max(1e-9, sum(o['cpu'] for o in work)):.1f}")
    line(f"failed_op_share = {failed / max(1, attempted):.4f} ({failed} of {attempted} ops)")
    line(f"session.start_s = {start_s:.3f}  session.worker_warm_s = {warm_s:.3f}")
    line(f"warm-up pass seconds: {warm_s_cycle:.2f}")
    h1, h2 = drift(answers)
    line(f"drift: answer p50 first half {h1:.4f}s, second half {h2:.4f}s")
    line(f"host: steal {steal:.2f}s over {time.monotonic() - wall0:.1f}s wall; "
         f"timed section {timed_wall:.1f}s wall; loadavg {os.getloadavg()[0]:.2f}")
    if args.workload == "sketch_codefiles":
        from perfbench.sketch import KNOWN_FAILURE

        line("known failure:", KNOWN_FAILURE)
    for r in reasons[:20]:
        line("FAILED", r)
    for e in errors:
        print(e, file=sys.stderr)

    if trace:
        os.makedirs(WORK, exist_ok=True)
        tracer.write(os.path.join(WORK, f"trace_{args.workload}_seed{args.seed}.json"))
        layer = {k: 0.0 for k in _layer_units()}
        layer.update(wl.layer)
        layer["session.start_s"], layer["session.worker_warm_s"] = start_s, warm_s
        layer["trace.setup_s"], layer["trace.answer_p50_s"] = setup_s, e2e["answer_p50_s"]
        units = _layer_units()
        for k in units:
            line(f"layer {k} = {layer[k]:.6g} {units[k]}")
        metrics = {k: {"value": float(layer[k]), "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        print(f"non-finite metrics: {bad}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())

"""Repository benchmark: one command per workload.

    python3 perfbench/run.py --workload backfill|refresh|corpus \
        --seed N --seconds S --trace 0|1

Run from the repository root. It starts the engine's own session
(``get_spark(cores=nproc)``, no extra configuration), makes the workload's
inputs from ``--seed``, then runs the workload's operation in a closed loop
(one client, the next op starts when the previous one ends) until the
timed operations add up to ``--seconds`` (at least one op). Every op's
outputs are checked after its timer stops.

``--trace 0`` prints the end-to-end metrics named in ``BENCHMARK.json``.
``--trace 1`` runs the same loop first, then the same number of ops with
layer spans, then that many untraced ops again, and prints the per-layer
metrics plus the tracing overhead (traced minus the second untraced
round); the spans are written to ``.perfbench/traces/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. All scratch data lives
under ``.perfbench/`` in the working directory and is removed at exit;
the Spark JVM and every process it started have ended and been reaped
before the result line is printed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the work directory, and make the package importable in the workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "tsdat_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from the repository root (tsdat_spark/ not found)",
              file=sys.stderr)
        return 2
    declared = _declared()
    if args.workload not in {w["name"] for w in declared["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    if importlib.util.find_spec("tsdat_spark") is None:
        print("perfbench: tsdat_spark is not importable", file=sys.stderr)
        return 2

    from perfbench.harness import adopt_orphans, stop_descendants

    adopt_orphans()
    spark = None
    try:
        from perfbench.harness import OpLedger, PeakRss, Stopwatch
        from perfbench.trace import NullTracer, Tracer
        from perfbench.workloads import WORKLOADS
        from tsdat_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        spark = get_spark(cores=cores)
        rss = PeakRss(spark._jvm.ProcessHandle.current().pid())
        wl = WORKLOADS[args.workload](spark, args.seed, work, cores)
        wl.setup()
        setup_s = time.perf_counter() - T_START
        rss.sample()

        ledger, watch = OpLedger(), Stopwatch()
        rows, written = loop(wl, NullTracer(), ledger, watch, rss, args.seconds,
                             first=wl.first_op)
        if args.trace:
            # traced ops, then as many untraced ops again: both run warm, so
            # their difference is the tracing overhead
            n, first = len(watch.samples), wl.first_op
            tracer = Tracer(spark, run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
            traced, warm = Stopwatch(), Stopwatch()
            loop(wl, tracer, ledger, traced, rss, 0.0, n_ops=n, first=first + n)
            loop(wl, NullTracer(), ledger, warm, rss, 0.0, n_ops=n, first=first + 2 * n)
            metrics = layer_metrics(declared, tracer, warm.total, traced.total, rss)
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{tracer.run_id}.json"))
        else:
            metrics = end_to_end(declared, wl, setup_s, rows, written, watch, rss)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            signalled = stop_descendants()
            if signalled:
                print(f"perfbench: signalled lingering processes {signalled}",
                      file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)

    summary = {k: round(v["value"], 4) for k, v in metrics.items()}
    print(f"perfbench {args.workload} seed={args.seed}: ops={len(watch.samples)} "
          f"checks={ledger.check_s:.1f}s peak_rss_mb={rss.peak_mb:.1f} "
          f"failed_op_share={ledger.failed_share:.4f} ({ledger.failed}/{ledger.attempted}) "
          f"{summary}")
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then end its JVM: the JVM exits when the pipe to
    its stdin closes, which otherwise happens only as this process exits,
    so the JVM would outlive the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()


def loop(wl, tr, ledger, watch, rss, seconds: float, n_ops: int | None = None,
         first: int = 0):
    """Closed loop: run ops until their timed total reaches ``seconds`` and
    a whole number (at least one) of the workload's op groups has run, or
    exactly ``n_ops`` ops. Returns (rows done, bytes landed)."""
    from perfbench.harness import file_states, landed_bytes

    def more(i: int) -> bool:
        if n_ops is not None:
            return i < first + n_ops
        return i == first or watch.total < seconds or (i - first) % wl.op_group != 0

    rows = written = 0
    i = first
    while more(i):
        prepare = getattr(wl, "prepare", None)
        if prepare:
            prepare(i)
        before = file_states(wl.out_root)
        try:
            res = watch.time(wl.op, i, tr)
        except Exception:
            ledger.fail(f"op{i}", traceback.format_exc())
            i += 1
            continue
        written += landed_bytes(before, file_states(wl.out_root))
        rss.sample()
        if all([ledger.record(f"op{i}.{name}", check) for name, check in res.checks]):
            rows += res.rows
        i += 1
    return rows, written


def end_to_end(declared, wl, setup_s, rows, written, watch, rss) -> dict:
    from perfbench.harness import median, tail_percentile

    pct, tail, supported = tail_percentile(watch.samples)
    print(f"perfbench: peak rss {rss.breakdown()}; op seconds "
          f"{[round(x, 3) for x in watch.samples]}", file=sys.stderr)
    print(f"perfbench: {len(watch.samples)} ops, op_tail_s is "
          f"{'p%.1f' % pct if supported else 'the maximum (fewer than 11 ops)'}; "
          f"{rows} {wl.rows_label}", file=sys.stderr)
    values = {
        "setup_s": setup_s,
        "rows_per_s": rows / watch.total,
        "op_p50_s": median(watch.samples),
        "op_tail_s": tail,
        "bytes_written_per_row": written / max(rows, 1),
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in declared["end_to_end"]}


def layer_metrics(declared, tracer, untraced_s: float, traced_s: float, rss) -> dict:
    table = tracer.layer_table()
    text = [v for k, v in table.items() if k.startswith("text.")]
    table.setdefault("text", {})["peak_hash_bytes"] = max(
        (row.get("peak_hash_bytes", 0) for row in text), default=0)
    table["trace"] = {"untraced_s": untraced_s, "traced_s": traced_s,
                      "overhead_s": traced_s - untraced_s}
    table["process"] = {"peak_rss_mb": rss.peak_mb}
    out = {}
    for m in declared["per_layer"]:
        layer, _, counter = m["name"].rpartition(".")
        out[m["name"]] = {"value": float(table.get(layer, {}).get(counter, 0.0)),
                          "unit": m["unit"]}
    return out


if __name__ == "__main__":
    sys.exit(main())

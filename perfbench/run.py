"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_dedup --seed 1 --seconds 20 --trace 0

Run from the repository root. Makes the workload's inputs from ``--seed``
(cached under ``.bench_build/perfbench``), starts a pinned Spark session,
prepares the workload, then runs whole rounds of timed operations until
``--seconds`` have passed, checking every operation's outputs. There is
no untimed warm-up operation (it would cost as much as the timed one, and
the run budget has no room for it), so every run times the same cold
first operation. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it (``perfbench-record``) is the run record: settings, input
make-up, recall and any problems found.
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import harness  # noqa: E402
from perfbench.layers import PER_LAYER, print_layer_table  # noqa: E402


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["crawl_dedup", "probe_stream", "payload_pairs"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process they started, and wait
    until each has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    sig = signal.SIGTERM
    while True:
        left = harness.descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)


class Runner:
    def __init__(self, tracer, status):
        self.tracer = tracer
        self.status = status
        self.peak_rss = 0.0
        self.problems: list[str] = []

    def run_op(self, op) -> dict:
        tr = self.tracer
        self.status.drain()  # jobs of earlier checks are charged to nothing
        c0 = harness.cpu_sample()
        sid = tr.open("op")
        t0 = time.monotonic()
        error = None
        try:
            op.body(sid)
        except Exception:
            error = traceback.format_exc()
        wall = time.monotonic() - t0
        tr.close(sid)
        c1 = harness.cpu_sample()
        jobs = self.status.drain()
        self.peak_rss = max(self.peak_rss, harness.rss_hwm_mb())
        problems = []
        if error is None:
            try:
                problems = op.check()
            except Exception:
                error = traceback.format_exc()
        rec = {
            "wall": wall,
            "items": op.items,
            "cpu": c1["total"] - c0["total"],
            "shuffle_mb": sum(j["shuffle_write_mb"] for j in jobs),
            "error": error,
            "problems": problems,
        }
        if error is not None:
            print(error, file=sys.stderr)
        elif tr.enabled:
            op.add_spans(sid)
            # per-layer self times are only a split of the wall if the
            # observed spans nest
            rec["problems"] += tr.check_nesting(sid)
            tr.attribute_jobs(sid, jobs)
            rec["layers"] = op.values(sid)
            rec["sid"] = sid
        return rec


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    root = Path.cwd()
    work = harness.work_dir(root)
    settings = harness.session_settings(work)
    harness.pin_environment(root, settings)
    sys.path.insert(0, str(root))
    try:
        from video_duplicate_finder_python_spark import get_spark
        from video_duplicate_finder_python_spark.session import warm_python_workers
    except ImportError as e:
        print(f"perfbench: the program is not importable from {root}: {e}", file=sys.stderr)
        return 2

    from perfbench.workloads import WORKLOADS

    tracer = harness.Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, work, tracer)
    t = time.monotonic()
    wl.make_inputs()
    gen_s = time.monotonic() - t

    with tracer.span("session.start") as s_start:
        spark = get_spark(
            app_name="perfbench",
            master=settings["master"],
            shuffle_partitions=settings["shuffle_partitions"],
            extra_conf=settings["conf"],
        )
    try:
        with tracer.span("session.warm") as s_warm:
            warm_python_workers(spark)
        status = harness.StatusStore(spark)
        runner = Runner(tracer, status)
        runner.problems += wl.prepare(spark)
        # input generation is the benchmark's own work, not set-up
        setup_s = time.monotonic() - T_START - gen_s

        ops = []
        t_meas = time.monotonic()
        steal0 = harness.host_steal_s()
        while True:
            for op in wl.round():
                ops.append(runner.run_op(op))
            if time.monotonic() - t_meas >= args.seconds:
                break
        measure_s = time.monotonic() - t_meas
        steal_s = harness.host_steal_s() - steal0
    finally:
        stop_spark(spark)

    failed = [r for r in ops if r["error"] or r["problems"]]
    for r in ops:
        runner.problems += r["problems"]
    # a wrong output or an operation that raised makes the run incorrect
    correct = not runner.problems and not failed
    walls = [r["wall"] for r in ops]
    done_items = sum(r["items"] for r in ops if not (r["error"] or r["problems"]))
    # wall-time figures go to the run record, not to the bounded metrics:
    # on a shared host they follow the CPU time the hypervisor steals
    # (see README, "Steadiness")
    wall = {
        "docs_per_s": done_items / sum(walls) if walls else 0.0,
        "batch_p50_s": statistics.median(walls),
        "host_steal_s": steal_s,
    }

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": settings,
        "nproc": len(os.sched_getaffinity(0)),
        "input_generation_s": gen_s,
        "ops": len(ops),
        "measure_s": measure_s,
        "op_walls": walls,
        "wall": wall,
        "inputs": wl.record(),
        "problems": runner.problems[:20],
    }
    print("perfbench-record " + json.dumps(record), flush=True)

    if args.trace:
        spans = tracer.spans
        values = {
            "session.start_s": spans[s_start]["end"] - spans[s_start]["start"],
            "session.warm_s": spans[s_warm]["end"] - spans[s_warm]["start"],
            "trace.batch_p50_s": wall["batch_p50_s"],
            "trace.docs_per_s": wall["docs_per_s"],
        }
        traced = [r for r in ops if "layers" in r]
        for name, _unit, _better in PER_LAYER:
            if name in values:
                continue
            xs = [r["layers"][name] for r in traced if name in r["layers"]]
            values[name] = harness.median(xs)
        print_layer_table(tracer, [r["sid"] for r in traced], args.workload)
        tracer.dump(work / "traces" / f"{args.workload}-seed{args.seed}.json")
        metrics = {
            name: {"value": float(values[name]), "unit": unit}
            for name, unit, _better in PER_LAYER
        }
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cpu_s": {"value": statistics.median(r["cpu"] for r in ops), "unit": "s"},
            "shuffle_mb": {"value": statistics.median(r["shuffle_mb"] for r in ops),
                           "unit": "MB"},
            "peak_rss_mb": {"value": runner.peak_rss, "unit": "MB"},
        }
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

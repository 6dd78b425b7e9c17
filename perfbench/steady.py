"""Steadiness command: two sets of runs of the same code, compared.

    python3 perfbench/steady.py --runs 10 [--workloads crawl_dedup,...]
                                [--first-seed 1] [--sets 2] [--traced 1]

Run from the repository root. For each set and workload it runs
``perfbench/run.py`` ``--runs`` times, each with its own seed (set ``s``
uses seeds ``first_seed + s*runs ...``), and prints per end-to-end metric
both sets' medians, each set's quartile spread ((q3 - q1) / median, from
``statistics.quantiles(values, n=4)``), and whether they agree: every
spread within the metric's bound and the last median within the bound of
the first, in either direction. It also prints each set's share of failed
operations. ``--traced N`` adds N traced runs per workload and set and
reports the tracing overhead (traced ``trace.batch_p50_s`` over the
untraced runs' ``batch_p50_s``). The wall-time figures of the run records
(``docs_per_s``, ``batch_p50_s``, ``host_steal_s``) are printed the same
way, without a bound. Every run's record is appended to
``.bench_build/perfbench/steady.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


WALL = ("docs_per_s", "batch_p50_s", "host_steal_s")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    elapsed = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    out = json.loads(lines[-1])
    rec = [ln for ln in lines if ln.startswith("perfbench-record ")]
    out["record"] = json.loads(rec[-1].split(" ", 1)[1]) if rec else {}
    out["elapsed_s"] = elapsed
    return out


def spread(xs: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="two-set steadiness check")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", default=None)
    p.add_argument("--traced", type=int, default=0)
    args = p.parse_args(argv)

    bench = json.loads(Path("BENCHMARK.json").read_text())
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    log = Path(".bench_build/perfbench/steady.jsonl")
    log.parent.mkdir(parents=True, exist_ok=True)

    results: dict[str, list[list[dict]]] = {w: [] for w in names}
    traced: dict[str, list[list[dict]]] = {w: [] for w in names}
    for s in range(args.sets):
        for w in names:
            runs, truns = [], []
            for r in range(args.runs):
                seed = args.first_seed + s * args.runs + r
                out = run_once(w, seed, seconds, 0)
                runs.append(out)
                with log.open("a") as f:
                    f.write(json.dumps({"set": s, "workload": w, "seed": seed, **out}) + "\n")
                m = {k: round(v["value"], 4) for k, v in out["metrics"].items()}
                m.update((k, round(out["record"]["wall"][k], 4)) for k in WALL)
                print(f"set {s} {w} seed {seed}: {m} failed {out['failed']}/{out['attempted']}"
                      f" ({out['elapsed_s']:.1f} s)", flush=True)
            for r in range(args.traced):
                seed = args.first_seed + s * args.runs + r
                out = run_once(w, seed, seconds, 1)
                truns.append(out)
                with log.open("a") as f:
                    f.write(json.dumps({"set": s, "workload": w, "seed": seed, "traced": True,
                                        **out}) + "\n")
            results[w].append(runs)
            traced[w].append(truns)

    ok = True
    for w in names:
        print(f"\n{w}")
        print(f"  {'metric':<14}" + "".join(
            f"{'median' + str(s + 1):>13}{'spread' + str(s + 1):>9}" for s in range(args.sets)
        ) + f"{'bound':>7}  agree")
        rows = [(m["name"], m["bound"], lambda r, n=m["name"]: r["metrics"][n]["value"])
                for m in bench["end_to_end"]]
        # wall-time figures of the run record: reported, not bounded
        rows += [(n, None, lambda r, n=n: r["record"]["wall"][n]) for n in WALL]
        for name, bound, get in rows:
            meds, spreads = [], []
            for runs in results[w]:
                xs = [get(r) for r in runs]
                meds.append(statistics.median(xs))
                spreads.append(spread(xs) if len(xs) >= 2 else 0.0)
            if bound is None:
                verdict = f"{'-':>7}  (record, no bound)"
            else:
                drift = abs(meds[-1] - meds[0]) / meds[0]
                agree = drift <= bound and all(sp <= bound for sp in spreads)
                ok &= agree
                verdict = f"{bound:>7}  {'yes' if agree else 'NO'}"
            print(f"  {name:<14}" + "".join(
                f"{md:>13.4f}{sp:>9.4f}" for md, sp in zip(meds, spreads)
            ) + verdict)
        shares = [
            f"{sum(r['failed'] for r in runs)}/{sum(r['attempted'] for r in runs)}"
            for runs in results[w]
        ]
        print(f"  failed operations per set: {', '.join(shares)}")
        walls = [r["elapsed_s"] for runs in results[w] for r in runs]
        print(f"  process wall per run: median {statistics.median(walls):.1f} s,"
              f" max {max(walls):.1f} s")
        for s, truns in enumerate(traced[w]):
            if truns:
                t = statistics.median(r["metrics"]["trace.batch_p50_s"]["value"] for r in truns)
                u = statistics.median(r["record"]["wall"]["batch_p50_s"] for r in results[w][s])
                print(f"  set {s + 1} tracing overhead: traced batch_p50 {t:.3f} s vs "
                      f"untraced {u:.3f} s ({(t / u - 1) * 100:+.1f}%)")
    print("\nall metrics agree within bounds" if ok else "\nSOME METRICS DISAGREE")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

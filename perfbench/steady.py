#!/usr/bin/env python3
"""Steadiness record and traced split: runs ``run.py`` many times and
writes the evidence the bounds in ``BENCHMARK.json`` were set from.

    python3 perfbench/steady.py --runs 10 --seed0 100          # untraced
    python3 perfbench/steady.py --runs 1 --seed0 900 --trace   # traced

Untraced, each workload runs ``--runs`` times with seeds ``seed0``,
``seed0+1``, ...; the report gives each end-to-end metric's median,
quartiles, min, max and spread (inter-quartile distance over median,
as ``statistics.quantiles(n=4)`` gives them) beside its bound. Traced,
each workload runs once with ``--trace 1`` and the report gives the
per-layer numbers, the served-request split and the tracing overhead
against the latest untraced record. Run from the repository root;
reports go to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat: time
    the hypervisor ran something else while this box's CPUs wanted to
    run — the outside load a run cannot see in its own load average."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    t0, (st0, tot0) = time.perf_counter(), cpu_steal()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(int(trace))],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n"
                           f"{p.stderr[-3000:]}")
    st1, tot1 = cpu_steal()
    out = {"wall_s": time.perf_counter() - t0, "result": json.loads(lines[-1]),
           "steal_pct": 100 * (st1 - st0) / max(tot1 - tot0, 1)}
    for line in lines:
        for tag in ("detail", "trace", "start", "end"):
            if line.startswith(f"# {tag} "):
                body = line[len(tag) + 3:]
                out[tag] = json.loads(body) if body[:1] == "{" else body
    return out


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values),
            "max": max(values), "spread": (q3 - q1) / med}


def steady_report(spec: dict, runs: dict[str, list[dict]]) -> str:
    lines = ["# Steadiness record", "",
             f"Each workload ran {len(next(iter(runs.values())))} times, one "
             "seed per run, `run_seconds` = "
             f"{spec['run_seconds']}. Spread = (q3 - q1) / median.", ""]
    for wl, rs in runs.items():
        walls = [r["wall_s"] for r in rs]
        ok = all(r["result"]["correct"] for r in rs)
        fails = sum(r["result"]["failed"] for r in rs)
        att = sum(r["result"]["attempted"] for r in rs)
        lines += [f"## {wl}", "",
                  f"seeds {rs[0]['seed']}..{rs[-1]['seed']}; all correct: "
                  f"{ok}; failed {fails} of {att} operations; wall per run "
                  f"{min(walls):.0f}-{max(walls):.0f} s "
                  f"(median {statistics.median(walls):.0f} s)", "",
                  "| metric | unit | median | q1 | q3 | min | max | spread "
                  "| bound | spread / bound |",
                  "|---|---|---|---|---|---|---|---|---|---|"]
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in rs]
            s = summarize(vals)
            lines.append(
                f"| {m['name']} | {m['unit']} | {s['median']:.4g} | "
                f"{s['q1']:.4g} | {s['q3']:.4g} | {s['min']:.4g} | "
                f"{s['max']:.4g} | {s['spread']:.3f} | {m['bound']} | "
                f"{s['spread'] / m['bound']:.2f} |")
        lines += ["", "Per run:", "",
                  "| seed | " + " | ".join(m["name"]
                                          for m in spec["end_to_end"])
                  + " | wall s | load1 start / end | steal % |",
                  "|---" * (len(spec["end_to_end"]) + 4) + "|"]
        for r in rs:
            vals = " | ".join(
                f"{r['result']['metrics'][m['name']]['value']:.4g}"
                for m in spec["end_to_end"])
            load = (r.get("start", "").split("load1=")[-1] + " / "
                    + r.get("end", "").split("load1=")[-1])
            steal = (f"{r['steal_pct']:.1f}" if "steal_pct" in r
                     else "not recorded")
            lines.append(f"| {r['seed']} | {vals} | {r['wall_s']:.0f} | "
                         f"{load} | {steal} |")
        lines.append("")
    return "\n".join(lines) + "\n"


def trace_report(spec: dict, traced: dict[str, dict],
                 untraced: dict[str, dict]) -> str:
    lines = ["# Traced run", "",
             "One `--trace 1` run per workload. Per-layer values are sums "
             "over the measured window per drain (`streaming.*`) or per "
             "query (every other layer); a layer a workload never enters "
             "reads 0. End-to-end numbers come from untraced runs; the "
             "traced run's own end-to-end numbers only measure the "
             "tracing overhead.", ""]
    for wl, r in traced.items():
        t = r["trace"]
        lines += [f"## {wl} (seed {r['seed']})", "",
                  "Tracing overhead (traced run vs untraced median):", "",
                  "| metric | untraced median | traced | overhead |",
                  "|---|---|---|---|"]
        for m, v in t["e2e_traced"].items():
            base = untraced.get(wl, {}).get(m)
            over = f"{(v / base - 1) * 100:+.1f}%" if base else "n/a"
            lines.append(f"| {m} | {base if base is None else f'{base:.4g}'}"
                         f" | {v:.4g} | {over} |")
        split = t.get("request_split_ms") or {}
        if split:
            client = split["client_ms"]
            lines += ["", f"Served request split ({split['requests']:.0f} "
                      f"requests, mean {client:.1f} ms client-observed):", "",
                      "| part | mean ms | share |", "|---|---|---|"]
            for k in ("server_ms", "construct_ms", "catalyst_ms",
                      "execute_ms", "stats_ms", "trace_ms"):
                lines.append(f"| {k[:-3]} | {split[k]:.1f} | "
                             f"{split[k] / client * 100:.1f}% |")
        lines += ["", "Per-layer metrics (all the traced run computed; "
                  "`BENCHMARK.json` lists the ones every workload "
                  "produces):", "", "| metric | value |", "|---|---|"]
        for k, v in sorted(t["per_layer"].items()):
            lines.append(f"| {k} | {v:.4g} |")
        lines += ["", "Workload extras:", "", "| name | value |", "|---|---|"]
        for k, v in sorted(t["extras"].items()):
            lines.append(f"| {k} | {v:.4g} |")
        lines += ["", "Class medians (ms, traced):", "",
                  "| class | median |", "|---|---|"]
        for k, v in sorted(t["class_medians_ms"].items()):
            lines.append(f"| {k} | {v:.1f} |")
        lines.append("")
    return "\n".join(lines) + "\n"


def compare_report(spec: dict, a: dict, b: dict) -> str:
    """Median drift between two steadiness records of the same code."""
    lines = ["# Two sets of runs", "",
             "Drift = median of set B over median of set A, minus 1; a "
             "drift worse than the bound would read as a regression.", "",
             "| workload | metric | median A | median B | drift | bound |",
             "|---|---|---|---|---|---|"]
    for wl in a:
        for m in spec["end_to_end"]:
            ma, mb = (statistics.median(r["result"]["metrics"][m["name"]]
                                        ["value"] for r in rs)
                      for rs in (a[wl], b[wl]))
            lines.append(f"| {wl} | {m['name']} | {ma:.4g} | {mb:.4g} | "
                         f"{(mb / ma - 1) * 100:+.1f}% | {m['bound']} |")
    return "\n".join(lines) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--tag", default="", help="suffix for the report names")
    ap.add_argument("--rewrite", action="store_true",
                    help="run nothing; rewrite steady<tag>.md from its "
                         "saved record (after a bound changed)")
    ap.add_argument("--compare", metavar="TAG",
                    help="run nothing; write compare.md, the saved record "
                         "against the one saved under TAG")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.rewrite or args.compare is not None:
        recs = []
        for tag in filter(lambda t: t is not None, (args.tag, args.compare)):
            with open(os.path.join(RESULTS, f"steady{tag}.json")) as f:
                recs.append(json.load(f))
        out, text = ((f"steady{args.tag}.md", steady_report(spec, recs[0]))
                     if args.rewrite else
                     ("compare.md", compare_report(spec, *recs)))
        with open(os.path.join(RESULTS, out), "w") as f:
            f.write(text)
        return 0
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in spec["workloads"]])
    os.makedirs(RESULTS, exist_ok=True)
    runs: dict[str, list[dict]] = {}
    for wl in names:
        for i in range(args.runs):
            r = run_once(wl, args.seed0 + i, spec["run_seconds"], args.trace)
            r["seed"] = args.seed0 + i
            runs.setdefault(wl, []).append(r)
            print(wl, r["seed"], f"{r['wall_s']:.0f}s",
                  json.dumps(r["result"]), flush=True)
    raw = os.path.join(RESULTS, f"{'trace' if args.trace else 'steady'}"
                       f"{args.tag}.json")
    with open(raw, "w") as f:
        json.dump(runs, f, indent=1, sort_keys=True)
    if args.trace:
        with open(os.path.join(RESULTS, f"steady{args.tag}.json")) as f:
            base = json.load(f)
        untraced = {wl: {m["name"]: statistics.median(
            r["result"]["metrics"][m["name"]]["value"] for r in rs)
            for m in spec["end_to_end"]} for wl, rs in base.items()}
        text = trace_report(spec, {wl: rs[0] for wl, rs in runs.items()},
                            untraced)
        out = os.path.join(RESULTS, f"trace{args.tag}.md")
    else:
        text = steady_report(spec, runs)
        out = os.path.join(RESULTS, f"steady{args.tag}.md")
    with open(out, "w") as f:
        f.write(text)
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

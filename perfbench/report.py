"""Traced-run report: per-layer rollup, tracing overhead, witness counts.

    python3 perfbench/report.py [--seed 1] [--seconds 12] [workload ...]

For each workload this runs ``run.py`` three times with one seed: once
untraced and twice traced. It writes ``perfbench/results/<workload>.json``
(per-layer rollup, per-kind tables of the first traced pass and of the
first no-op rerun, tracing overhead, and which witness counts repeat
exactly between the two traced runs) and keeps the first traced run's
spans as ``perfbench/results/<workload>-spans.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")
WITNESSES = ("exec.jobs", "exec.tasks", "operators.py4j_calls",
             "llm.py4j_calls", "store.files_written", "store.rows_written")
KINDS = ("stage", "hub", "link", "sat_v0", "pit", "bridge", "control_snap",
         "vault_checks", "llm")


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=ROOT, capture_output=True, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def pass_layers(spans_path):
    with open(os.path.join(ROOT, spans_path)) as f:
        return [r for r in map(json.loads, f) if "pass_layers" in r]


def report(workload, seed, seconds):
    rec0, res0 = run(workload, seed, seconds, 0)
    traced = []
    for i in range(2):
        rec, res = run(workload, seed, seconds, 1)
        spans = os.path.join(RESULTS, f"{workload}-spans{i}.jsonl")
        shutil.move(os.path.join(ROOT, rec["spans"]), spans)
        traced.append((rec, res, pass_layers(spans)))
    (rec1, res1, layers1), (_rec2, _res2, layers2) = traced
    os.replace(os.path.join(RESULTS, f"{workload}-spans0.jsonl"),
               os.path.join(RESULTS, f"{workload}-spans.jsonl"))
    os.remove(os.path.join(RESULTS, f"{workload}-spans1.jsonl"))

    witness = {}
    for name in WITNESSES:
        a = [p["layers"][name] for p in layers1]
        b = [p["layers"][name] for p in layers2]
        n = min(len(a), len(b))
        witness[name] = {"run1": a[:n], "run2": b[:n],
                         "repeats": a[:n] == b[:n]}
    def first_pass(noop):
        """Label, wall time and per-kind table of the first traced delta
        pass or rebuild (noop=False) or no-op rerun (noop=True)."""
        for p in layers1:
            if p["label"].endswith("-noop") == noop:
                lay = p["layers"]
                return {"label": p["label"], "pass_s": lay["trace.pass_s"],
                        "per_kind": {k: {
                            "store.write_s": lay[f"store.write_s.{k}"],
                            "exec.executor_cpu_s":
                                lay[f"exec.executor_cpu_s.{k}"]}
                            for k in KINDS}}
        return None

    untraced = rec0["pass_s"]
    traced_s = res1["metrics"]["trace.pass_s"]["value"]
    untraced_cpu = res0["metrics"]["pass_cpu_s"]["value"]
    traced_cpu = res1["metrics"]["trace.pass_cpu_s"]["value"]
    out = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "correct": [res0["correct"], res1["correct"], traced[1][1]["correct"]],
        "untraced_pass_s": untraced, "traced_pass_s": traced_s,
        "tracing_overhead_s": traced_s - untraced,
        "untraced_pass_cpu_s": untraced_cpu, "traced_pass_cpu_s": traced_cpu,
        "tracing_overhead_cpu_s": traced_cpu - untraced_cpu,
        "first_traced_pass": first_pass(noop=False),
        "first_traced_noop_pass": first_pass(noop=True),
        "per_layer": {k: v["value"] for k, v in res1["metrics"].items()},
        "witness": witness,
        "run_record": {k: rec1[k] for k in
                       ("nproc", "spark_cores", "loadavg_start",
                        "loadavg_end", "steal_share", "pyspark", "java",
                        "git_commit")},
    }
    with open(os.path.join(RESULTS, f"{workload}.json"), "w") as f:
        json.dump(out, f, indent=2)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("workloads", nargs="*",
                    default=["vault_daily_delta", "curation_rebuild"])
    args = ap.parse_args(argv)
    os.makedirs(RESULTS, exist_ok=True)
    for w in args.workloads:
        out = report(w, args.seed, args.seconds)
        for first in (out["first_traced_pass"],
                      out["first_traced_noop_pass"]):
            if first is None:
                continue
            print(f"## {w} (seed {args.seed}): first traced pass "
                  f"{first['label']}, {first['pass_s']:.2f} s")
            print("| kind | store.write_s | exec.executor_cpu_s |")
            print("|---|---|---|")
            for k, v in first["per_kind"].items():
                print(f"| {k} | {v['store.write_s']:.2f} | "
                      f"{v['exec.executor_cpu_s']:.2f} |")
        print(f"untraced pass_s {out['untraced_pass_s']:.2f}, traced "
              f"{out['traced_pass_s']:.2f}, overhead "
              f"{out['tracing_overhead_s']:+.2f} s; pass_cpu_s "
              f"{out['untraced_pass_cpu_s']:.2f} -> "
              f"{out['traced_pass_cpu_s']:.2f}, overhead "
              f"{out['tracing_overhead_cpu_s']:+.2f} s")
        for name, w_ in out["witness"].items():
            print(f"witness {name}: {'repeats' if w_['repeats'] else 'DIFFERS'}"
                  f" {w_['run1']} / {w_['run2']}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Self-test of the benchmark itself. Run from the repository root:

    python3 perfbench/selftest.py

For every workload, at the small self-test size:
  * an untraced run must be correct and print every end-to-end metric that
    BENCHMARK.json names (JSON line) plus the workload's own metrics (report
    lines), and a traced run every per-layer metric;
  * a run with a planted wrong expected count must report correct=false
    with at least one failed op.
Exits 0 when every check holds.
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The report lines each workload prints besides the gated metrics.
REPORTED = {
    "tables": ["commit_p50_s", "commit_tail_s", "dv_cold_p50_s",
               "dv_cold_tail_s", "dv_warm_p50_s", "scan_p50_s",
               "pruned_scan_p50_s", "time_travel_p50_s", "cdc_p50_s"],
    "dedup_ingest": ["ingest_docs_per_s", "ingest_batch_tail_s",
                     "dedup_recall"],
}


def run(workload, trace, fault):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", trace, "--size", "tiny",
         "--plant-fault", fault],
        cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        return None, lines
    return json.loads(lines[-1]), lines


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, want in (("0", e2e), ("1", layers)):
            res, lines = run(w, trace, "0")
            if res is None:
                problems.append(f"{w} trace={trace}: no result")
                continue
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: not correct: " +
                                "; ".join(l for l in lines
                                          if l.startswith("check failed")))
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(
                    f"{w} trace={trace}: metrics differ from BENCHMARK.json:"
                    f" missing {sorted(set(want) - set(got))},"
                    f" extra {sorted(set(got) - set(want))}")
            if trace == "0":
                printed = {l.split()[1] for l in lines
                           if l.startswith("e2e ")}
                missing = set(REPORTED[w] + ["failed_ratio"]) - printed
                if missing:
                    problems.append(f"{w}: report lacks {sorted(missing)}")
        res, _ = run(w, "0", "1")
        if res is None or res["correct"] or res["failed"] < 1:
            problems.append(f"{w}: a planted wrong count was not caught")
        print(f"{w}: done", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()

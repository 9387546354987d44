#!/usr/bin/env python3
"""Record which per-layer counters repeat exactly between traced runs.

    python3 perfbench/stability.py

Runs the traced benchmark three times per workload on one seed, at the run
length BENCHMARK.json gives (a traced run does a fixed amount of work: four
request cycles; one chain run and twelve batches), and writes
perfbench/counter_stability.json: for each workload, the counters that read
the same on every run and those that did not, with their values. Timings
(`*_s`, `*_ms`) and memory are not counters and are left out.
"""
import json
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
WORKLOADS = ("lifecycle", "curate")
SEED = 7
REPEATS = 3
SECONDS = json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]
TIMING_SUFFIXES = ("_s", "_ms", "_ms_p50", "_ms_per_batch", "_mb")


def is_counter(name):
    return not name.endswith(TIMING_SUFFIXES)


def traced(workload):
    res = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", "1"],
        cwd=HERE.parent, stdout=subprocess.PIPE, text=True, check=True)
    out = json.loads(res.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        sys.exit(f"{workload}: output checks failed")
    return {k: v["value"] for k, v in out["metrics"].items() if is_counter(k)}


def main():
    record = {"seed": SEED, "repeats": REPEATS, "seconds": SECONDS,
              "workloads": {}}
    for w in WORKLOADS:
        runs = [traced(w) for _ in range(REPEATS)]
        stable, unstable = {}, {}
        for name in runs[0]:
            values = [r[name] for r in runs]
            if all(v == values[0] for v in values):
                if values[0] != 0:
                    stable[name] = values[0]
            else:
                unstable[name] = values
        record["workloads"][w] = {"stable": stable, "unstable": unstable}
        print(f"{w}: {len(stable)} stable non-zero counters, "
              f"{len(unstable)} unstable: {sorted(unstable)}")
    (HERE / "counter_stability.json").write_text(
        json.dumps(record, indent=2, sort_keys=False) + "\n")


if __name__ == "__main__":
    main()

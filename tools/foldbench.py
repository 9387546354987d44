#!/usr/bin/env python3
"""Fold quiet bench runs into the committed per-query min map.

Protocol (SCALING.md "Benchmark protocol"): BENCH_QUERIES.json is the
quiet min-of-N floor map — it only ever moves DOWN, and only from runs
taken on a quiet box (never concurrently with sbt test or another
Spark JVM). This tool makes the fold reproducible:

  python3 tools/foldbench.py run1.log [run2.log ...]          # report
  python3 tools/foldbench.py --apply run1.log [run2.log ...]  # fold

Each argument is a `graft.Bench` stdout log (the sharded
`queries_part` lines are parsed; `BENCH_LAST_RUN.json` from the most
recent run works too if passed as a .json file). A cell listed under
"failed" in any run threw instead of finishing: it has no time and is
never folded, seeded or stamped. Per query the MIN
across all given runs is compared to the committed map: lower values
fold, queries absent from the map are SEEDED (new bench surface —
seed only from >= 2 quiet runs per protocol; the tool warns on 1).
The report prints each run's median per-entry ratio vs the committed
map first — a median far above ~1.3 means a loaded box; don't --apply
such runs.

Floor staleness (r18): BENCH_FLOOR_AGE.json records, per entry, the
last fold session whose min came within REPRO_RATIO (1.3x) of the
committed floor. A floor nothing has approached for several sessions
is HISTORICAL — quote it with that caveat, or re-measure on a quiet
box. An --apply or --stamp whose runs cover >= 90% of the committed
map increments the session counter and stamps the entries the given
runs reproduced; a PARTIAL apply (filtered/iteration logs) still folds
its mins but does NOT advance the session clock — staleness sessions
must be full-surface runs, or coverage gaps would read as historical
floors. The report always prints the stale-floor summary.
`--stamp` updates the age file WITHOUT folding (for loaded runs that
still reproduce most floors).

`--age` (r19, no run logs): print the committed floors that no stamped
session has reproduced in STALE_AFTER+ sessions — the standing
staleness report roundcheck emits every gate run. Output shape (spec-
pinned by FloorAgeSpec):
  floor-age: session N, M committed entries
  STALE floors (no reproduction in >= 3 stamped sessions): K
  stale: <name> (age S, floor F s)        # one line per stale entry
or, when none: "no stale floors (all reproduced within 3 sessions)".
"""
import json
import os
import statistics
import sys

def age_report():
    mp = json.load(open("BENCH_QUERIES.json"))
    committed = mp["queries"]
    age = (json.load(open(AGE_FILE)) if os.path.exists(AGE_FILE)
           else {"session": 0, "last_reproduced": {}})
    last = age["last_reproduced"]
    print(f"floor-age: session {age['session']}, "
          f"{len(committed)} committed entries")
    stale = sorted(
        ((age["session"] - last.get(k, 0), k) for k in committed
         if age["session"] - last.get(k, 0) >= STALE_AFTER), reverse=True)
    if not stale:
        print(f"no stale floors (all reproduced within "
              f"{STALE_AFTER} sessions)")
        return
    print(f"STALE floors (no reproduction in >= {STALE_AFTER} stamped "
          f"sessions): {len(stale)}")
    for n, k in stale:
        print(f"stale: {k} (age {n}, floor {committed[k]} s)")

REPRO_RATIO = 1.3
STALE_AFTER = 3  # sessions without a reproduction => listed as stale
AGE_FILE = "BENCH_FLOOR_AGE.json"


def parse(path):
    """Returns (per-query seconds, scale-factor dir or None, names of
    the cells that failed — they carry no time)."""
    if path.endswith(".json"):
        d = json.load(open(path))
        return d["queries"], d.get("sf"), set(d.get("failed", []))
    qs, sf, failed = {}, None, set()
    for line in open(path):
        line = line.strip()
        if line.startswith('{"metric":"queries_part"'):
            part = json.loads(line)
            qs.update(part["queries"])
            failed.update(part.get("failed", []))
        elif line.startswith('{"metric":"total"'):
            sf = json.loads(line).get("sf", sf)
    return qs, sf, failed


def main():
    if "--age" in sys.argv:
        return age_report()
    args = [a for a in sys.argv[1:] if a not in ("--apply", "--stamp")]
    apply = "--apply" in sys.argv
    stamp = apply or "--stamp" in sys.argv
    if not args:
        sys.exit(__doc__)
    parsed = [(a, *parse(a)) for a in args]
    mp = json.load(open("BENCH_QUERIES.json"))
    committed = mp["queries"]
    # the floors are PER SCALE FACTOR: folding or stamping a run taken
    # at a different SPARK_GRAFT_SF_DIR would mass-corrupt the map
    # (every sf0.01 time undercuts its sf0.1 floor), so a known
    # mismatch is a hard error, an unknown sf only a warning
    map_sf = mp.get("sf")
    for a, _, sf, _ in parsed:
        if sf and map_sf and sf != map_sf:
            sys.exit(f"ERROR: {a} was measured at sf '{sf}' but the "
                     f"committed map is for '{map_sf}' — refusing to "
                     f"compare, fold, or stamp across scale factors")
        if not sf:
            print(f"WARNING: {a} carries no sf stamp — "
                  f"verify it was taken at {map_sf} before --apply")
    runs = [(a, q) for a, q, _, _ in parsed]
    # a cell that failed in any run is never folded, seeded or stamped:
    # a failed cell has no time, and a later timed run does not vouch
    # for the one that threw
    failed = set().union(*(f for _, _, _, f in parsed))
    if failed:
        print(f"refused (failed in a run): {len(failed)} — "
              + ", ".join(sorted(failed)))
    age = (json.load(open(AGE_FILE)) if os.path.exists(AGE_FILE)
           else {"session": 0, "last_reproduced": {}})
    for name, run in runs:
        ratios = [run[k] / committed[k]
                  for k in run if k in committed and committed[k] > 0]
        med = statistics.median(ratios) if ratios else float("nan")
        print(f"{name}: {len(run)} entries, median ratio vs map {med:.3f}")
    merged = {}
    for _, run in runs:
        for k, v in run.items():
            if k not in failed:
                merged[k] = min(v, merged.get(k, v))
    seeds = {k: v for k, v in merged.items() if k not in committed}
    folds = {k: (committed[k], v) for k, v in merged.items()
             if k in committed and v < committed[k]}
    if seeds and len(runs) < 2:
        print("WARNING: seeding new floors from a single run — protocol "
              "wants min-of-2 quiet runs for new entries")
    print("seeds:", json.dumps(seeds, sort_keys=True))
    print("folds:", json.dumps(
        {k: [round(a, 3), round(b, 3)] for k, (a, b) in folds.items()},
        sort_keys=True))
    # floor staleness: which committed floors did these runs reproduce
    # (min within REPRO_RATIO), and which have gone unreproduced for
    # STALE_AFTER+ stamped sessions
    reproduced = sorted(
        k for k, v in merged.items()
        if k in committed and committed[k] > 0
        and v <= REPRO_RATIO * committed[k])
    last = age["last_reproduced"]
    stale = sorted(
        ((age["session"] - last.get(k, 0), k) for k in committed
         if age["session"] - last.get(k, 0) >= STALE_AFTER), reverse=True)
    print(f"floors reproduced by these runs (<= {REPRO_RATIO}x): "
          f"{len(reproduced)}/{len(committed)}")
    if stale:
        worst = ", ".join(f"{k} ({n} sessions)" for n, k in stale[:8])
        print(f"STALE floors (no reproduction in >= {STALE_AFTER} stamped "
              f"sessions): {len(stale)} — worst: {worst}")
    if apply:
        committed.update(seeds)
        for k, (_, v) in folds.items():
            committed[k] = v
        mp["value"] = round(sum(committed.values()), 3)
        json.dump(mp, open("BENCH_QUERIES.json", "w"),
                  indent=0, sort_keys=True)
        print(f"applied: map now {mp['value']} s over {len(committed)}")
    elif seeds or folds:
        print("(report only — rerun with --apply to fold)")
    # a stamp session must COVER the map: stamping from a partial or
    # filtered log would age every unmeasured floor toward STALE,
    # turning coverage gaps into a false "historical floor" signal
    covered = sum(1 for k in merged if k in committed)
    if stamp and covered < 0.9 * len(committed):
        print(f"NOT stamping: these runs cover only {covered}/"
              f"{len(committed)} committed entries (< 90%) — staleness "
              f"sessions must be full-surface runs")
    elif stamp:
        age["session"] += 1
        for k in reproduced:
            last[k] = age["session"]
        for k in list(seeds) + list(folds):  # a fold IS a reproduction
            last[k] = age["session"]
        json.dump(age, open(AGE_FILE, "w"), indent=0, sort_keys=True)
        print(f"stamped session {age['session']}: "
              f"{len(reproduced)} floors reproduced -> {AGE_FILE}")


if __name__ == "__main__":
    main()

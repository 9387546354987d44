#!/usr/bin/env bash
# One-command round gate — the full local correctness protocol:
#   1. unit specs (incl. PartitionInvarianceSpec's 12-family
#      bit-identical check at two awkward execution configs), then the
#      benchmark harness's own tests — its build compiles the engine
#      sources with the harness, so an engine signature change that
#      breaks perfbench fails here
#   2. sf0.01 oracle pack: Verify dump + DuckDB compare (the driver's
#      own gate; every oracle entry, 197 of them, is compared — one
#      without output fails)
#   3. the same pack at 7 cores / 7 shuffle partitions — the full-pack
#      partitioning-invariance proof (awkward prime vs the usual 32)
# Green = "N pass, 0 fail" twice (N = 197, the full pack) and a
# green sbt test. Timing is NOT
# checked here — bench runs need a quiet box and the min-of-N protocol
# (SCALING.md "Benchmark protocol").
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"

sbt -batch test
(cd perfbench && sbt -batch test)

# empty the dump dirs first: a query that now throws writes nothing,
# and an earlier run's parquet must not stand in for it
rm -rf /tmp/roundcheck_out /tmp/roundcheck_p7
sbt -batch "runMain graft.Verify $SF_DIR /tmp/roundcheck_out"
python3 tools/check.py "$SF_DIR" /tmp/roundcheck_out

SPARK_GRAFT_CPUS=7 sbt -batch "runMain graft.Verify $SF_DIR /tmp/roundcheck_p7"
python3 tools/check.py "$SF_DIR" /tmp/roundcheck_p7

# Floor-staleness surface (r19): print the committed bench floors no
# stamped session has reproduced in 3+ sessions, so a historical floor
# is seen at every gate run, not only when someone folds a bench log.
# Informational — staleness is a measurement-hygiene signal, not a
# correctness failure, so it never fails the gate.
python3 tools/foldbench.py --age || true

echo "roundcheck: all three gates green ($SF_DIR)"

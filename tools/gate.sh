#!/usr/bin/env bash
# Full local gate: compile, tests, benchmark unit tests, one short
# ingest and one short api benchmark run, t1-style raw-session smoke,
# t2 correctness (Verify at sf0.01 + DuckDB oracle replay), bench.
# Usage: tools/gate.sh [--bench] [--sf0.1] [--probe10x]
#   --bench    also run the sf0.1 bench and check BENCH_BUDGET drift
#   --sf0.1    also replay EVERY oracle at sf0.1 (the second-SF audit —
#              scale coverage enforced, not remembered)
#   --probe10x also run ScaleProbe's default 10x variant and fail on
#              super-linear growth of any documented-linear path
#              (PROBE_BUDGET.json — the probe curve enforced, not
#              remembered) or on any label that throws; the `100` and
#              `skew` variants (runMain graft.ScaleProbe 100|skew) record
#              without a gate
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== compile + test =="
sbt -batch test | grep -E "Tests: |error" | tail -2

echo "== benchmark unit tests =="
python3 -m unittest discover -s perfbench -p 'test_*.py' 2>&1 | tail -1

# one short run per workload below: the run's last line must say every
# operation was checked correct, none failed
smoke() {
  local last
  last=$(python3 perfbench/run.py --workload "$1" --seed 1 --seconds 3 --trace 0 | tail -1)
  python3 -c '
import json, sys
r = json.loads(sys.argv[2])
ok = r.get("correct") is True and r.get("failed") == 0
print("%s: correct=%s failed=%s attempted=%s -> %s"
      % (sys.argv[1], r.get("correct"), r.get("failed"), r.get("attempted"), "OK" if ok else "FAIL"))
sys.exit(0 if ok else 1)' "$1" "$last"
}

echo "== benchmark: one short ingest run =="
# read-after-write freshness and reject counts, end to end
smoke ingest

echo "== benchmark: one short api run =="
# every endpoint's rows checked against the generator's tallies
smoke api

echo "== benchmark: one short curation run =="
# q302, q73, q101 and q19, each query's output checked against its
# DuckDB oracle
smoke curation

echo "== tools unit tests =="
python3 -m unittest discover -s tools -p 'test_*.py' 2>&1 | tail -1

echo "== smoke (raw session, sf0.001) =="
sbt -batch "runMain graft.Smoke" 2>&1 | grep -E "\[smoke\] (entry|ALL|.*FAIL)" | tail -3

echo "== verify + oracle (sf0.01) =="
out=$(mktemp -d)
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out" > /dev/null 2>&1
python3 tools/check_oracle.py /root/testdata/sf0.01 "$out" | tail -2

for arg in "$@"; do
  if [[ "$arg" == "--sf0.1" ]]; then
    echo "== verify + oracle (sf0.1 second-SF audit) =="
    out1=$(mktemp -d)
    sbt -batch "runMain graft.Verify /root/testdata/sf0.1 $out1" > /dev/null 2>&1
    python3 tools/check_oracle.py /root/testdata/sf0.1 "$out1" | tail -2
  fi
  if [[ "$arg" == "--probe10x" ]]; then
    echo "== 10x scale probe vs PROBE_BUDGET =="
    probelog=$(mktemp)
    sbt -batch "runMain graft.ScaleProbe" 2>&1 | tee "$probelog" \
      | grep -c "scale-probe" >/dev/null
    python3 tools/check_probe.py PROBE_BUDGET.json "$probelog"
  fi
  if [[ "$arg" == "--bench" ]]; then
    echo "== bench (sf0.1) =="
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
      SPARK_GRAFT_BENCH_OUT=target/bench_last.json \
      sbt -batch "runMain graft.Bench" > /dev/null 2>&1
    cat target/bench_last.json
    if [[ -f BENCH_BUDGET.json ]]; then
      # the artifact file, not a stdout pipe — survives truncation
      python3 tools/check_budget.py BENCH_BUDGET.json target/bench_last.json
    fi
  fi
done
echo "== gate complete =="

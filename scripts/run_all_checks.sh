#!/usr/bin/env bash
# One-command round gate: every check the driver/judge runs, in the
# order that fails fastest. Usage: scripts/run_all_checks.sh [round_n]
# (round_n writes PARITY_r{N}.json). Each step's command is the same
# one documented in .claude/skills/verify/SKILL.md.
set -uo pipefail
cd "$(dirname "$0")/.."

round="${1:-}"
fail=0
step() {
  echo "==== $1"
  shift
  "$@" || { echo "^^^^ FAILED: $*"; fail=1; }
}

step "testdata schema drift (fails fast on harness regeneration)" \
  python scripts/check_schemas.py

step "full pytest" \
  python -m pytest tests/ -q

step "oracle parity, engine session, sf0.001" \
  python scripts/check_parity.py /root/testdata/sf0.001

step "oracle parity, DRIVER-DEFAULT ANSI session, odd TZ, sf0.01" \
  env TZ=America/Santiago SPARK_GRAFT_PARITY_DEFAULT_SESSION=1 \
  python scripts/check_parity.py /root/testdata/sf0.01

if [ -n "$round" ]; then
  step "full-registry parity artifact -> PARITY_r${round}.json" \
    env SPARK_GRAFT_PARITY_OUT="PARITY_r${round}.json" \
    python scripts/check_parity.py /root/testdata/sf0.01
fi

# the benchmark's own gate tests, then one run per workload whose ops
# all match the DuckDB oracle (the JSON result is the last line printed)
perfbench_run() {
  local out
  out="$(python perfbench/run.py --workload "$1" --seed 1 --seconds 10 --trace 0)" || return 1
  printf '%s\n' "$out"
  printf '%s\n' "$out" | tail -n 1 |
    python -c 'import json, sys; sys.exit(json.load(sys.stdin)["failed"] != 0)'
}
perfbench_gate() {
  python -m pytest perfbench/test_gate.py -q || return 1
  perfbench_run invoice_ingest || return 1
  perfbench_run event_stream
}
step "perfbench: gate tests + one invoice_ingest and one event_stream run (expect \"failed\": 0)" \
  perfbench_gate

step "codegen health (expect: codegen fallback lines: 0)" \
  python scripts/check_codegen.py

exit $fail

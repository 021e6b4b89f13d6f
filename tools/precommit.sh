#!/usr/bin/env bash
# Precommit guard: a commit touching src/ must never ship a tree that
# fails to compile (the round-12 failure mode: a one-line type error in
# the final snapshot emptied the entire driver gate). Run before ANY
# commit that touches src/; the end-of-round routine runs it too.
#
#   tools/precommit.sh            # compile main + test sources
#   tools/precommit.sh --test     # also run the full ScalaTest suite
#
# Fast path: `sbt Test/compile` (~30 s warm) catches every type error in
# both source trees; `python3 perfbench/build.py` then compiles the
# benchmark harness (perfbench/scala, which sbt never sees) against
# src/main, so a renamed public name it calls fails here, not in every
# benchmark run. `--test` adds the full suite when time allows; the
# targeted crosscheck of changed queries is tools/crosscheck.py.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "[precommit] sbt Test/compile ..."
if ! sbt -batch Test/compile >/tmp/graft_precommit.log 2>&1; then
  tail -30 /tmp/graft_precommit.log
  echo "[precommit] FAIL: tree does not compile — do NOT commit." >&2
  exit 1
fi
echo "[precommit] compile OK"

echo "[precommit] perfbench/build.py (benchmark harness compile) ..."
if ! python3 perfbench/build.py >/tmp/graft_precommit_bench.log 2>&1; then
  tail -30 /tmp/graft_precommit_bench.log
  echo "[precommit] FAIL: the benchmark harness does not compile — do NOT commit." >&2
  exit 1
fi
echo "[precommit] harness compile OK"

if [[ "${1:-}" == "--test" ]]; then
  echo "[precommit] sbt test ..."
  if ! sbt -batch test >/tmp/graft_precommit_test.log 2>&1; then
    tail -40 /tmp/graft_precommit_test.log
    echo "[precommit] FAIL: test suite red — do NOT commit." >&2
    exit 1
  fi
  echo "[precommit] tests OK"
fi
echo "[precommit] PASS"

#!/bin/bash
# Default developer test entry: the full suite in SIX concurrent
# pytest lanes, so the everyday `make test` pays the overlapped wall
# instead of the 20+ min single-process run.
#
#   make test            # or: bash tools/run_tests.sh
#   PYTEST_ARGS="-k wire" bash tools/run_tests.sh   # forwarded to ALL lanes
#
# Lane split: the parity sweep runs as TWO lanes via PARITY_SHARD=k/2
# (round-robin over sorted names — the expensive ANN rows scatter
# evenly; union of shards = full coverage, unsharded pytest
# unaffected); the relay stream tests, the pipeline operators and the
# store/tokenizer files get one lane each; every other file runs in
# the "rest" lane. Every lane selects at least one test: pytest exits
# 5 on an empty selection, which this runner reports as a failure.
# Each lane gets its OWN TMPDIR: the at-rest session stores
# (_ensure_bucketed_tables, _ensure_retention_store,
# _ensure_ann_index, _ensure_components_store) key their paths off
# tempfile.gettempdir(); the r16 build lock holds across processes
# (and r17's _COMPLETE gate makes the bucketed ensure register rather
# than rewrite), but separate TMPDIRs keep the lanes from serializing
# on a shared store build.
set -uo pipefail
cd "$(dirname "$0")/.."

# Full coverage here, always: the heavy_e2e-marked store/tokenizer
# e2e tests (skipped in a PLAIN `pytest tests/` run so a sequential
# wall-budgeted run finishes even on a 4x-slow host, see
# tests/conftest.py) are enabled for every lane of this runner.
export PG2KAFKA_HEAVY_E2E=1

STREAM_A="tests/test_streaming.py"
STREAM_B="tests/test_annindex.py tests/test_retention.py tests/test_graph.py \
tests/test_multimodal_real.py tests/test_bpe_production.py"
HEAVY_A="tests/test_pipeline_ops.py"
HEAVY_B="tests/test_oracle_parity.py"
PYTEST_ARGS="${PYTEST_ARGS:-}"

lanes="rest heavy_a heavy_b0 heavy_b1 stream_a stream_b"
for lane in $lanes; do
  # heavy_b1 deliberately has no directory of its own: the parity
  # twins SHARE heavy_b0's TMPDIR (see the comment at their launch),
  # and creating an unused rt_pytest_heavy_b1_tmp would contradict
  # the per-lane-TMPDIR convention on disk (r18 advice).
  [ "$lane" != heavy_b1 ] && mkdir -p "/tmp/rt_pytest_${lane}_tmp"
  eval "${lane}_log=\$(mktemp)"
done
t0=$SECONDS

# shellcheck disable=SC2086  # shard vars / PYTEST_ARGS are word lists
TMPDIR=/tmp/rt_pytest_stream_a_tmp python -m pytest $STREAM_A -q \
  --durations=10 $PYTEST_ARGS > "$stream_a_log" 2>&1 &
stream_a_pid=$!
# shellcheck disable=SC2086
TMPDIR=/tmp/rt_pytest_stream_b_tmp python -m pytest $STREAM_B -q \
  --durations=10 $PYTEST_ARGS > "$stream_b_log" 2>&1 &
stream_b_pid=$!
# shellcheck disable=SC2086
TMPDIR=/tmp/rt_pytest_heavy_a_tmp python -m pytest $HEAVY_A -q \
  --durations=10 $PYTEST_ARGS > "$heavy_a_log" 2>&1 &
heavy_a_pid=$!
# The parity twins SHARE one TMPDIR on purpose (unlike every other
# lane pair): both shards serve queries backed by the same at-rest
# session stores (_ensure_ann_index etc.), and separate TMPDIRs made
# each twin rebuild every store — the r16 cross-process file lock +
# r17 _COMPLETE gate mean the second twin blocks briefly and serves
# the first twin's build instead.
# shellcheck disable=SC2086
TMPDIR=/tmp/rt_pytest_heavy_b0_tmp PARITY_SHARD=0/2 python -m pytest \
  $HEAVY_B -q --durations=10 $PYTEST_ARGS > "$heavy_b0_log" 2>&1 &
heavy_b0_pid=$!
# shellcheck disable=SC2086
TMPDIR=/tmp/rt_pytest_heavy_b0_tmp PARITY_SHARD=1/2 python -m pytest \
  $HEAVY_B -q --durations=10 $PYTEST_ARGS > "$heavy_b1_log" 2>&1 &
heavy_b1_pid=$!
# shellcheck disable=SC2086
TMPDIR=/tmp/rt_pytest_rest_tmp python -m pytest tests/ -q --durations=10 \
  $(for f in $STREAM_A $STREAM_B $HEAVY_A $HEAVY_B; do printf -- "--ignore=%s " "$f"; done) \
  $PYTEST_ARGS > "$rest_log" 2>&1 &
rest_pid=$!

rc=0
for lane in $lanes; do
  pid_var="${lane}_pid"
  wait "${!pid_var}"; lane_rc=$?
  echo "$lane shard done at $((SECONDS - t0))s (rc=$lane_rc)"
  [ "$lane_rc" -ne 0 ] && rc=1
done

all_logs=""
for lane in $lanes; do
  log_var="${lane}_log"
  tail -n 18 "${!log_var}"
  all_logs="$all_logs ${!log_var}"
done
if [ "$rc" -ne 0 ]; then
  echo "FAILED (logs:$all_logs)"
  exit 1
fi
echo "OK: all six lanes green in $((SECONDS - t0))s"

# Developer entry points. `make test` is the default suite run — the
# full tests/ tree in eight concurrent pytest lanes (tools/run_tests.sh),
# ~12-13 min overlapped vs 20+ min single-process.
.PHONY: test test-serial test-relay bench verify perf perf-selftest

test:
	bash tools/run_tests.sh

# the old single-process spelling, for bisecting lane interference
test-serial:
	python -m pytest tests/ -x -q

# the quick lane for relay-core edits (event.py, operators/{snapshot,
# diff,wire,compaction}.py, streaming/relay.py, sources.py,
# __main__.py): the relay e2e, daemon and source/sink tests, the
# capture/diff/fold unit tests, and the CDC oracle cases, which run
# capture_changes, snapshot_events, topic_column and apply_change_feed
# against DuckDB
test-relay:
	python -m pytest tests/test_streaming.py tests/test_deploy_surface.py tests/test_cdc_semantics.py tests/test_diff_fuzz.py -q -p no:cacheprovider
	python -m pytest tests/test_oracle_parity.py -k "diff or replayed or wire or snapshot_part or topic_routing" -q -p no:cacheprovider

# the analytics timing of every registered query (not the relay
# benchmark; see perf): stdout is one JSON line, the full payload —
# total, per-query best and {best, median, runs, JIT/GC} stats, errors
bench:
	python bench.py

# full-surface DuckDB parity at sf0.01 (what the driver grades)
verify:
	PYTHONPATH=. python tools/check_parity.py /root/testdata/sf0.01

# the relay benchmark (BENCHMARK.json, perfbench/README.md): both
# workloads, untraced, one window each — the spelling before/after
# comparisons use
perf:
	python3 perfbench/run.py --workload update_storm --seed 1 --seconds 12 --trace 0
	python3 perfbench/run.py --workload live_tail --seed 1 --seconds 12 --trace 0

perf-selftest:
	python3 -m pytest perfbench/tests -q -p no:cacheprovider

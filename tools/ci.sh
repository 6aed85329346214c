#!/bin/sh
# The whole verification battery, one command, exit 0 == healthy.
set -e
cd "$(dirname "$0")/.."
# Record first-seen rounds for any queries registered since the last run —
# the window curation's FIFO-by-age bucket sorts by this map.
python tools/update_first_seen.py
python tools/check_oracle.py
# Window-curation invariant (VERDICT r6 task 4): the 50 names the driver
# will snapshot must ALL be green before a round ends. --require-oracle was
# dropped at r9 per the documented plan: the oracled never-checked backlog
# fell below 49 when the r8 ledger landed, so declared rows-only names
# (approx/ANN/iterative, each with an oracled twin or accuracy pin)
# legitimately rotate into the window as `no_oracle` rows.
python tools/check_oracle.py --first 50
python -m pytest tests/ -q
# ab.py run as a script: its import of the benchmark's tracer
# (perfbench/layers.py), which dump_plans.py also goes through, takes a
# path the pytest import of tools.ab does not.
python tools/ab.py flagship --n 1 --sf /root/testdata/sf0.001 --action noop
# The benchmark's own fault accounting: a planted raising op and a planted
# wrong answer must each be counted as a failed op.
python -m pytest perfbench/test_run.py -q
python tools/plan_lint.py
python tools/check_coverage.py
python tools/check_dtypes.py
# 10x duplicated-values replica sweep over this round's new queries + the
# bench top-5 (tools/sweep_list.txt), per-query budget 120 s — the cliff
# detector (r4: caught join_fuzzy_blocked's 313M-pair quadratic). Replica
# is rebuilt when missing OR older than the source fixture (the driver
# regenerates /root/testdata each round; a stale replica would sweep
# last round's data).
if [ ! -f /tmp/scale10/documents.parquet ] || \
   [ /root/testdata/sf0.1/documents.parquet -nt /tmp/scale10/documents.parquet ]; then
    python tools/make_replica.py
fi
python tools/scale_sweep.py --budget 120 --list tools/sweep_list.txt
# 100x replica stress over the dedup/cluster/KNN headliners (VERDICT r5
# task 2) — per-query budgets pinned in the list file from measured r5
# walls x1.5. First proved the distributed-CC path live; now standing.
if [ ! -f /tmp/scale100/documents.parquet ] || \
   [ /root/testdata/sf0.1/documents.parquet -nt /tmp/scale100/documents.parquet ]; then
    python tools/make_replica.py --dst /tmp/scale100 --n 100
fi
python tools/scale_sweep.py --dir /tmp/scale100 --list tools/sweep100_list.txt
# Zipf skew-replica gate (VERDICT r7 task 6): one hot key with ~30% of
# fact rows — the hot-shuffle-partition failure mode uniform replicas
# cannot see. Caught t_stream_stream_join's quadratic per-key state scan
# in r8 (fixed via gap-bucket join keys).
if [ ! -f /tmp/skew10/documents.parquet ] || \
   [ /root/testdata/sf0.1/documents.parquet -nt /tmp/skew10/documents.parquet ]; then
    python tools/make_replica.py --dst /tmp/skew10 --skew zipf
fi
python tools/scale_sweep.py --dir /tmp/skew10 --list tools/sweep_skew_list.txt
# Negative control: the comparator must be shown to CATCH planted wrong
# answers (value flip / dropped row / dtype drift / renamed column).
python tools/check_oracle.py --self-test

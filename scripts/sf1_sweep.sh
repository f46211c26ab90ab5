#!/usr/bin/env bash
# Full-surface sf1 sweep (VERDICT r4 next #6): synthesize sf1 from the
# driver's sf0.1 parquet, then time every gate query min-of-2 under the
# Bench session shape (graft.Sessions.bench at SPARK_GRAFT_CPUS cores). Run EXCLUSIVELY — results feed BASELINE.md.
#
#   scripts/sf1_sweep.sh [dstdir]
#
# Follow-up spot parity on the heavy subset (pick names from the sweep):
#   SPARK_GRAFT_ONLY=<csv> SPARK_GRAFT_CPUS=32 SPARK_GRAFT_QUERY_TIMEOUT_S=900 \
#     sbt -batch "runMain graft.Verify <dstdir> /tmp/sf1_verify_out"
#   python3 scripts/check_oracle.py <dstdir> /tmp/sf1_verify_out
set -uo pipefail
DST="${1:-/tmp/graft-testdata/sf1}"
cd /root/repo

if [ ! -f "$DST/lineitem.parquet" ]; then
  echo "== MakeSf -> $DST =="
  sbt -batch "runMain graft.tools.MakeSf /root/testdata/sf0.1 $DST 10" 2>&1 |
    grep -E '^[a-z]+: [0-9]+ rows' || exit 1
fi

echo "== Probe ALL at sf1 =="
SPARK_GRAFT_SF_DIR="$DST" sbt -batch "runMain graft.tools.Probe ALL" 2>&1 |
  grep -E '^\{"query"' | tee /tmp/sf1_sweep_times.jsonl
echo "== done =="

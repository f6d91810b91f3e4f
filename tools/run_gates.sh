#!/usr/bin/env bash
# Full local gate sequence (mirrors the driver's t1/t2/bench).
set -e
cd "$(dirname "$0")/.."
echo "== specs =="
sbt -batch test
echo "== correctness (t2 mirror) =="
# a fresh output dir per run: two gate runs on one machine never collide
vout="$(mktemp -d -t graft_vout.XXXXXX)"
trap 'rm -rf "$vout"' EXIT
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $vout"
python3 tools/check.py /root/testdata/sf0.01 "$vout"
echo "== bench =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench"

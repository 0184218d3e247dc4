#!/usr/bin/env bash
# 10x-tier scale gate (VERDICT r8 #5): the repeatable slice of the
# order-of-magnitude ScaleProbe, wrapped so calibrated-threshold
# regressions surface PER ROUND rather than per probe-effort. Generates
# the deterministic 10x-sf0.1 corpus (50k docs / 6M lineitem rows) and
# drives the three calibrated operators with their independent audits:
#
#  - q17 (public path, threshold 0.7): every reported pair's jaccard is
#    recomputed from text and planted-cluster recall is asserted inside
#    ScaleProbe.auditPairs (a failed audit throws -> non-zero exit);
#  - q19 (within-source 0.3): same audit, per-source;
#  - q39 (cluster resolution): every doc's label compared against a
#    driver union-find over the collected (q17-audited) pair set;
#  - q39hub (cluster resolution under hub skew): one 10^6-edge hub plus
#    64-node chains and mixed groups, every label checked against the
#    closed form (correctness only; the pinned-heap 10^7 run is manual);
#  - q32: range-partitioned prefix-sum percentiles, checked value-exact
#    against a DuckDB quantile_cont oracle (tools/scale_q32_oracle.py).
#
# The 100x/20M tiers (multi-GB shuffles, -Xmx24g direct-java launches)
# stay manual — see ROADMAP round 8 and the ScaleProbe scaladoc.
#
# Usage: tools/scale_gate.sh [workdir]    (~9 min at local[16] on a 4-core host)
set -euo pipefail
WORK="${1:-/tmp/graft_scale_gate}"
DIR="$WORK/corpus10x"
mkdir -p "$WORK"
cd "$(dirname "$0")/.."

rm -rf "$DIR"
echo "== gen 10x corpus (50k docs, 6M lineitem) =="
sbt -batch "Test/runMain graft.scale.ScaleProbe gen $DIR 50000 6000000" \
  > "$WORK/gen.log" 2>&1
grep "PROBE gen done" "$WORK/gen.log"

echo "== q17 at 10x (public path + pair audit) =="
sbt -batch "Test/runMain graft.scale.ScaleProbe q17 $DIR" \
  > "$WORK/q17.log" 2>&1
grep -E "PROBE (q17 pairs|audit|planted)" "$WORK/q17.log"

echo "== q19 at 10x (per-source + pair audit) =="
sbt -batch "Test/runMain graft.scale.ScaleProbe q19 $DIR" \
  > "$WORK/q19.log" 2>&1
grep -E "PROBE (q19 pairs|q19 approx|audit|planted)" "$WORK/q19.log"

echo "== q39 at 10x (cluster resolution vs driver union-find) =="
sbt -batch "Test/runMain graft.scale.ScaleProbe q39 $DIR" \
  > "$WORK/q39.log" 2>&1
grep -E "PROBE q39" "$WORK/q39.log"

echo "== q39hub (10^6-edge hub + chain mix vs closed-form labels) =="
sbt -batch "Test/runMain graft.scale.ScaleProbe q39hub $DIR 1000000" \
  > "$WORK/q39hub.log" 2>&1
grep -E "PROBE q39hub" "$WORK/q39hub.log"

echo "== q32 at 10x (range-partitioned prefix sum vs DuckDB quantile oracle) =="
sbt -batch "Test/runMain graft.scale.ScaleProbe q32 $DIR" \
  > "$WORK/q32.log" 2>&1
grep "PROBE q32 rows" "$WORK/q32.log"
python3 tools/scale_q32_oracle.py "$DIR"

echo "SCALE GATE PASS (10x tier)"

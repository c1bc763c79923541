#!/usr/bin/env bash
# Pre-snapshot gate (the r7 verdict's ask #6): one command that must
# exit 0 before any end-of-round commit. Runs, in order:
#   1. full `sbt test` — includes ExchangeLedgerSpec, which checks the
#      committed EXCHANGES.txt against the live sf0.001 plans AND the
#      sf0.001-vs-sf0.1 cross-SF identity, so ledger drift fails here.
#      It runs EXHAUSTIVELY: the `set` removes build.sbt's 25-case,
#      4-worker ScalaCheck default, so properties run ScalaCheck's own
#      100 cases (explicit per-property overrides keep their counts).
#      The stage also fails if the run changes `git status --porcelain`:
#      tests must not write tracked (or untracked, unignored) files;
#   2. the full oracle sweep at sf0.01 (graft.Verify +
#      tools/check_oracle.py) — every declared query must hash-match;
#   3. tools/drift_check.py — ledgers/COVERAGE/STATUS/bench-snapshot/
#      SparkEntry cross-referenced (the documentation-drift class);
#   4. the bench residual gate — tools/bench_compare.py --gate over the
#      two newest BENCH_local_r*.json snapshots (skipped with fewer);
#   5. the solo-anchor gate — tools/bench_compare.py --gate over the two
#      newest BENCH_anchor_r*.json tables (baseline-only with one).
# Prints PREFLIGHT: PASS/FAIL and the per-stage outcome; writes the
# run record to tools/preflight_last.txt (cited by STATUS.md).
set -u
cd "$(dirname "$0")/.."
out=/tmp/preflight_verify
rec=tools/preflight_last.txt
fail=0

echo "[preflight] 1/5 sbt test..."
exhaustive='set Test/testOptions -= Tests.Argument(TestFrameworks.ScalaCheck,
  "-minSuccessfulTests", "25", "-workers", "4")'
tree_before=$(git status --porcelain)
if sbt -batch "$exhaustive" test > /tmp/preflight_test.log 2>&1; then
  t_ok="PASS ($(grep -Eo 'Passed: Total [0-9]+' /tmp/preflight_test.log | tail -1))"
else
  t_ok="FAIL (see /tmp/preflight_test.log)"
  fail=1
fi
tree_after=$(git status --porcelain)
if [ "$tree_after" != "$tree_before" ]; then
  t_ok="FAIL (the test run changed git status: $(diff \
    <(echo "$tree_before") <(echo "$tree_after") | grep '^[<>]' \
    | tr '\n' ' '))"
  fail=1
fi
echo "[preflight] sbt test: $t_ok"

echo "[preflight] 2/5 oracle sweep at sf0.01..."
if sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out" \
    > /tmp/preflight_dump.log 2>&1; then
  n_ok=$(python3 tools/check_oracle.py /root/testdata/sf0.01 $out \
    | tee /tmp/preflight_oracle.log | grep -c '^OK')
  n_bad=$(grep -cv '^OK' /tmp/preflight_oracle.log || true)
  if [ "$n_bad" -eq 0 ]; then
    o_ok="PASS ($n_ok/$n_ok OK)"
  else
    o_ok="FAIL ($n_ok OK, $n_bad not OK — /tmp/preflight_oracle.log)"
    fail=1
  fi
else
  o_ok="FAIL (Verify dump crashed — /tmp/preflight_dump.log)"
  fail=1
fi
echo "[preflight] oracle sweep: $o_ok"

echo "[preflight] 3/5 documentation-drift check..."
if python3 tools/drift_check.py > /tmp/preflight_drift.log 2>&1; then
  d_ok="PASS ($(tail -1 /tmp/preflight_drift.log))"
else
  d_ok="FAIL (see /tmp/preflight_drift.log)"
  fail=1
fi
echo "[preflight] drift check: $d_ok"

# stage 4: host-normalized engine-drift gate over the two newest
# committed bench snapshots (r9 verdict ask #7: the residual must be
# GATED and RECORDED, not just printed). Both snapshots carry the
# cpu_md5/spark_range calibration pair, so a quiet-vs-noisy host
# cannot masquerade as an engine regression (or hide one). Skipped
# (recorded as such) when fewer than two snapshots exist.
echo "[preflight] 4/5 bench residual gate..."
snaps=$(ls BENCH_local_r*.json 2>/dev/null | sort -V | tail -2)
if [ "$(echo "$snaps" | wc -w)" -lt 2 ]; then
  b_ok="SKIP (fewer than two bench snapshots)"
else
  if python3 tools/bench_compare.py $snaps --gate \
      > /tmp/preflight_bench.log 2>&1; then
    b_ok="PASS ($(grep '^GATE' /tmp/preflight_bench.log | tail -1), $(echo $snaps | tr '\n' ' '))"
  else
    b_ok="FAIL ($(grep '^GATE' /tmp/preflight_bench.log | tail -1) — /tmp/preflight_bench.log)"
    fail=1
  fi
fi
echo "[preflight] bench gate: $b_ok"

# stage 5: SOLO-ANCHOR gate (r11 verdict ask #1) — the full-sweep
# snapshots of r9b–r11b were all host-noise-bound; the committed
# BENCH_anchor_r*.json tables time the top queries ONE AT A TIME
# (`graft.Bench <names>` via tools/make_anchor.py), so two anchors from
# different rounds gate engine drift on the expensive queries without
# in-sweep contention. Skipped (recorded) while only one anchor
# exists — that one is the baseline the next round compares against.
echo "[preflight] 5/5 solo-anchor gate..."
anchors=$(ls BENCH_anchor_r*.json 2>/dev/null | sort -V | tail -2)
n_anchors=$(echo "$anchors" | wc -w)
if [ "$n_anchors" -eq 0 ]; then
  a_ok="SKIP (no solo anchor yet — run tools/make_anchor.py)"
elif [ "$n_anchors" -lt 2 ]; then
  a_ok="BASELINE ($anchors recorded; gate activates next round)"
else
  if python3 tools/bench_compare.py $anchors --gate \
      > /tmp/preflight_anchor.log 2>&1; then
    a_ok="PASS ($(grep '^GATE' /tmp/preflight_anchor.log | tail -1), $(echo $anchors | tr '\n' ' '))"
  else
    a_ok="FAIL ($(grep '^GATE' /tmp/preflight_anchor.log | tail -1) — /tmp/preflight_anchor.log)"
    fail=1
  fi
fi
echo "[preflight] solo-anchor gate: $a_ok"

verdict=$([ $fail -eq 0 ] && echo PASS || echo FAIL)
{
  echo "preflight: $verdict"
  echo "date: $(date -u +%Y-%m-%dT%H:%M:%SZ)"
  echo "head: $(git rev-parse --short HEAD) (+$(git status --porcelain | wc -l) dirty)"
  echo "sbt test: $t_ok"
  echo "oracle sweep (sf0.01): $o_ok"
  echo "drift check: $d_ok"
  echo "bench residual gate: $b_ok"
  echo "solo-anchor gate: $a_ok"
} > $rec
cat $rec
exit $fail

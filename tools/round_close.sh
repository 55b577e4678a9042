#!/bin/bash
# Round-close/round-open hygiene (VERDICT r14+r15: two consecutive rounds
# ended with the driver's refreshed artifacts dangling). Run at round OPEN
# (the driver writes VERDICT/ADVICE/BENCH_rN/CORRECTNESS_rN after our last
# commit of the previous round) and/or before the final commit of a round:
# stages every driver-written artifact the repo tracks by convention and
# commits if anything changed.
set -e
cd /root/repo
shopt -s nullglob
git add -A -- BENCH_r*.json CORRECTNESS_r*.json BENCH_LOCAL.json \
  LEAKCHECK.json VERDICT.md ADVICE.md BASELINE.json \
  BENCH_SF*.json 2>/dev/null || true
if git diff --cached --quiet; then
  echo "round_close: nothing to commit (tree clean for driver artifacts)"
else
  git commit -m "Track driver round artifacts"
  git log --oneline -1
fi

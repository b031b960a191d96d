#!/usr/bin/env bash
# Snapshot discipline guard (VERDICT r6 #7): the ONLY sanctioned way to cut
# an end-of-round snapshot commit. Runs, in order:
#
#   1. spec-hash refresh      (python -m doc2vec_spark.spec_hashes)
#   2. full pytest            (must be green — any red aborts, nothing commits)
#   3. bench                  (stall-resistant bench.py; JSON recorded)
#   4. git commit             (everything staged, message from $1)
#
# and refuses to commit on any red. Rounds 4 and 6 both shipped snapshots
# whose own freshness gate was red because a code edit landed after the
# refresh/pytest and before the commit; running this script AS the final
# act makes that ordering violation structurally impossible — any edit
# after it means re-running it.
#
# Usage: scripts/snapshot.sh "commit message"
set -euo pipefail

REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
cd "$REPO"

MSG="${1:?usage: scripts/snapshot.sh \"commit message\"}"

echo "== [1/4] spec-hash refresh =="
python -m doc2vec_spark.spec_hashes

echo "== [2/4] full pytest (red aborts the snapshot) =="
python -m pytest tests/ -q

echo "== [3/4] bench =="
# SPARK_GRAFT_SNAPSHOT_SKIP_BENCH=1: sanctioned ONLY when a full-registry
# bench already ran at this exact HEAD earlier in the session (a second
# 30-minute run adds no information: its per-query jobs/stages repeat, and
# its wall times only re-roll the host weather, while it advances the
# rotation ledger again). The caller asserts that precondition by setting
# the flag.
if [ "${SPARK_GRAFT_SNAPSHOT_SKIP_BENCH:-0}" = "1" ]; then
    echo "skipped: full-registry bench already recorded at this HEAD"
else
    python bench.py
fi

echo "== [4/4] commit =="
git add -A
if git diff --cached --quiet; then
    echo "nothing to commit — tree already clean"
else
    git commit -m "$MSG"
fi
echo "snapshot complete: $(git rev-parse --short HEAD)"

#!/usr/bin/env bash
# END-OF-ROUND GATE (SURVEY §5, round-11 lesson): both round-11 defects
# landed in the one commit made AFTER the session's last gate run, so the
# rule is now a script instead of a habit — run the full sanctioned
# correctness gate AND the test suite back to back, and only snapshot a
# tree this has blessed. If the round runs out of time mid-change, ship
# the previous blessed tree. README count drift (query, oracle and test
# counts) fails the gate first, since it costs no build.
#
# Usage: tools/preship.sh [sf_dir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
python3 tools/check_readme_counts.py
tools/verify_local.sh "$SF_DIR"
sbt -batch test
echo "== preship: correctness gate + full test suite GREEN at sha $(git rev-parse --short HEAD)"
echo "== preship: commit THIS tree (no further source edits before the snapshot)"

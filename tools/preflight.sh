#!/bin/sh
# End-of-session preflight (round-6 verdict order #3): the LAST action
# before any snapshot commit. Round 6 ended red because the guards
# existed but were not re-run after a mid-edit stop — this script makes
# "re-run them" one command.
#
# Usage:
#   tools/preflight.sh                 # full pytest suite only
#   tools/preflight.sh q1 d77 ...      # + driver_sim the named queries
#   tools/preflight.sh --adversarial [names...]
#       regenerate the hostile fixture (tools/gen_adversarial.py:
#       skew, exact-ts ties, boundary constants, degenerate docs and
#       vectors) and sweep the registry against it, refreshing
#       ADVERSARIAL.json (CORRECTNESS-format). Names restrict the
#       sweep (quick re-check of a touched family); no names = full
#       registry (~20 min) — run the full form once per round.
#
# Exit nonzero on ANY failure; do not commit a snapshot over a red run.
set -e
cd "$(dirname "$0")/.."
REPO="$(pwd)"

ADV=0
if [ "$1" = "--adversarial" ]; then
    ADV=1
    shift
fi

echo "== preflight: pytest =="
python -m pytest tests/ -q

if [ "$ADV" = 1 ]; then
    echo "== preflight: adversarial sweep ($* ) =="
    python "$REPO/tools/gen_adversarial.py" /tmp/advfix
    if [ "$#" -gt 0 ]; then
        # partial sweep: don't clobber the committed full-registry
        # artifact with a subset
        (cd /tmp && SIM_SF_DIR=/tmp/advfix \
            python "$REPO/tools/driver_sim.py" "$@")
    else
        (cd /tmp && SIM_SF_DIR=/tmp/advfix \
            python "$REPO/tools/driver_sim.py" \
            --json "$REPO/ADVERSARIAL.json")
    fi
elif [ "$#" -gt 0 ]; then
    echo "== preflight: driver_sim $* =="
    (cd /tmp && python "$REPO/tools/driver_sim.py" "$@")
fi

echo "== preflight: evidence-age histogram + rolling freshness bound =="
python "$REPO/tools/evidence_age.py" --limit 0 --check

echo "== preflight: GREEN =="

#!/bin/bash
# Detached launcher for the planted K-grid experiment: the run outlives the
# launching shell, so this wraps run_main.sh in setsid+nohup itself —
# invoke directly, no caller-side wrapping needed:
#   tools/launch_selectk_planted.sh 10000 100 0.3 5000 25 400 4 120 > /dev/null
# Log goes to /tmp/selectk_planted.log.
cd "$(dirname "${BASH_SOURCE[0]}")/.."
setsid nohup bash tools/run_main.sh graft.RunSelectKPlanted "$@" \
  > /tmp/selectk_planted.log 2>&1 < /dev/null &
echo "launched RunSelectKPlanted pid $! -> /tmp/selectk_planted.log"

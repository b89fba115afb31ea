#!/bin/bash
# Detached launcher for the planted K-grid walk: the run outlives the
# launching shell, so this wraps run_main.sh in setsid+nohup itself —
# invoke directly with `graft.Run selectk` keys, no caller-side wrapping:
#   tools/launch_selectk_planted.sh source=planted:10000:100:0.3:5000 \
#     minK=25 maxK=400 steps=4 iters=1500 cap=16 llhTol=1e-4 kTol=0 init=egosplit
# Log goes to /tmp/selectk_planted.log.
cd "$(dirname "${BASH_SOURCE[0]}")/.."
setsid nohup bash tools/run_main.sh graft.Run selectk "$@" \
  > /tmp/selectk_planted.log 2>&1 < /dev/null &
echo "launched graft.Run selectk pid $! -> /tmp/selectk_planted.log"

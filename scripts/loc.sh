#!/usr/bin/env bash
# Code lines (not blank, not comment-only) of the engine, for tracking
# src/main size. A code line is any line left by
#   grep -cvE '^\s*(//|\*|/\*\*?|$)'
# Usage: scripts/loc.sh   (from any directory)
set -euo pipefail
cd "$(dirname "$0")/.."

count() { # total code lines of the .scala files under $1 (a dir or a file)
  find "$1" -name '*.scala' -print0 | sort -z |
    xargs -0 grep -cvE '^\s*(//|\*|/\*\*?|$)' /dev/null |
    awk -F: '{ n += $NF } END { print n + 0 }'
}

printf '%-40s %6s\n' "src/main"                          "$(count src/main)"
printf '%-40s %6s\n' "src/main/scala/graft/tools"        "$(count src/main/scala/graft/tools)"
printf '%-40s %6s\n' "src/main/scala/graft/lake/LakeTable.scala" "$(count src/main/scala/graft/lake/LakeTable.scala)"
printf '%-40s %6s\n' "src/main/scala/graft/stream"       "$(count src/main/scala/graft/stream)"

#!/usr/bin/env bash
# Lines of Scala source: every line of every *.scala file under src/main,
# src/test and the manifest connector (src/main/scala/graft/sources), at
# a git revision or, with no argument, in the working tree.
#
#   tools/loc.sh            # working tree
#   tools/loc.sh 42be4a8    # a revision
set -euo pipefail
cd "$(dirname "$0")/.."
rev="${1:-}"

count() {
  if [ -z "$rev" ]; then
    find "$1" -type f -name '*.scala' -print0 | xargs -0 -r cat | wc -l
  else
    git archive "$rev" -- "$1" | tar -xO --wildcards '*.scala' | wc -l
  fi
}

for d in src/main src/test src/main/scala/graft/sources; do
  printf '%-32s %7d\n' "$d" "$(count "$d")"
done

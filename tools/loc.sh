#!/usr/bin/env bash
# Count code, comment and blank lines of the Scala files under each path.
#
#   tools/loc.sh src/main/scala/graft/sources src/main
#
# A blank line holds only whitespace. A comment line starts with `//`, `/*`
# or `*` after leading whitespace (so scaladoc bodies count as comments).
# Every other line is code. Each path may be a directory (all *.scala files
# below it) or a single file. Prints one row per path.
set -euo pipefail

if [[ $# -eq 0 ]]; then
  echo "usage: tools/loc.sh <path>..." >&2
  exit 2
fi
for p in "$@"; do
  [[ -e "$p" ]] || { echo "tools/loc.sh: no such path: $p" >&2; exit 2; }
done

printf '%8s %8s %8s  %s\n' code comment blank path
for p in "$@"; do
  if [[ -d "$p" ]]; then
    find "$p" -type f -name '*.scala' -print0 | sort -z | xargs -0r cat
  else
    cat "$p"
  fi | awk -v path="$p" '
    /^[ \t]*$/               { blank++; next }
    /^[ \t]*(\/\/|\/\*|\*)/  { comment++; next }
                             { code++ }
    END { printf "%8d %8d %8d  %s\n", code, comment, blank, path }'
done

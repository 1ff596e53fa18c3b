#!/usr/bin/env bash
# Code lines per file and in total under each directory given: every
# line of a .scala or .java file, minus blank lines and lines whose
# first non-blank characters are `//`, `/*` or `*`.
# Usage: tools/code_lines.sh <dir>...
set -euo pipefail
if [ "$#" -eq 0 ]; then
  echo "usage: $0 <dir>..." >&2
  exit 2
fi
find "$@" -type f \( -name '*.scala' -o -name '*.java' \) | sort |
  while IFS= read -r f; do
    n=$(grep -cvE '^[[:space:]]*($|//|/\*|\*)' "$f" || true)
    printf '%6d %s\n' "$n" "$f"
  done | awk '{ print; total += $1 } END { printf "%6d total\n", total }'

#!/bin/bash
# Code and comment line counts of Scala source files, one line per file
# and a total. Blank lines count as neither; a line is a comment line when,
# trimmed, it starts with //, /*, * or */, or lies inside a /* ... */ block.
#
# Usage: tools/loc.sh [-r REV] FILE...
#   without -r: the files as they are in the checkout;
#   with -r REV: the files at git revision REV (a file missing there counts 0).
# Example: tools/loc.sh -r HEAD~1 src/main/scala/graft/Versions.scala
set -euo pipefail
rev=""
if [ "${1:-}" = "-r" ]; then rev="$2"; shift 2; fi
[ $# -gt 0 ] || { echo "usage: $0 [-r REV] FILE..." >&2; exit 2; }
cd "$(git rev-parse --show-toplevel)"
for f in "$@"; do
  if [ -n "$rev" ]; then git show "$rev:$f" 2>/dev/null || true; else cat "$f"; fi |
    awk -v f="$f" '
      { t = $0; gsub(/^[ \t]+|[ \t]+$/, "", t) }
      t == "" { next }
      inblock { comment++; if (t ~ /\*\//) inblock = 0; next }
      t ~ /^\/\*/ { comment++; if (t !~ /\*\//) inblock = 1; next }
      t ~ /^(\/\/|\*)/ { comment++; next }
      { code++ }
      END { printf "%6d code %6d comment  %s\n", code, comment, f }'
done | awk '{ print; code += $1; comment += $3 }
  END { printf "%6d code %6d comment  total\n", code, comment }'

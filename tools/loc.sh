#!/usr/bin/env bash
# Count blank, comment and code lines per path, so every change can
# report its net code lines the same way.
#
# Usage: tools/loc.sh PATH...
#   A directory counts every *.scala, *.java, *.py and *.sh file under
#   it; a file counts itself. One line per PATH:
#     <blank> <comment> <code> <path>
#
# A line is blank when it holds only whitespace, and comment when it
# lies inside a /* ... */ block or starts with // (Scala, Java) or #
# (Python, shell). Every other line is code, including a code line
# that ends in a comment. Compare two trees (say, a parent checkout
# and the change) by running the script in each.
set -euo pipefail

[ $# -gt 0 ] || { echo "usage: $0 PATH..." >&2; exit 2; }

count() {
  awk '
    FNR == 1 {
      block = 0
      hash = FILENAME ~ /\.(py|sh)$/
    }
    {
      line = $0
      sub(/^[ \t]+/, "", line)
      if (line == "") { blank++; next }
      if (hash) {
        if (line ~ /^#/) comment++; else code++
        next
      }
      if (block) {
        comment++
        if (index(line, "*/")) block = 0
        next
      }
      if (line ~ /^\/\//) { comment++; next }
      if (line ~ /^\/\*/) {
        comment++
        rest = substr(line, 3)
        if (!index(rest, "*/")) block = 1
        next
      }
      code++
    }
    END { printf "%d %d %d", blank, comment, code }
  ' "$@"
}

for path in "$@"; do
  if [ -d "$path" ]; then
    mapfile -t files < <(find "$path" -type f \
      \( -name '*.scala' -o -name '*.java' -o -name '*.py' -o -name '*.sh' \) |
      sort)
  else
    files=("$path")
  fi
  if [ ${#files[@]} -eq 0 ]; then
    echo "0 0 0 $path"
  else
    echo "$(count "${files[@]}") $path"
  fi
done

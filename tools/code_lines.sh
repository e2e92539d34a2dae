#!/usr/bin/env bash
# Counts the code lines a change adds to and removes from src/main:
# non-blank lines that are not comments, read from `git diff -U0`. A line
# is a comment when its trimmed text starts with //, /* or *.
#
#   tools/code_lines.sh <base> [<head>]
#
# Without <head> it compares <base> with the working tree (tracked files).
# Prints one line: added <n> removed <n> net <added - removed>.
set -euo pipefail
[ $# -ge 1 ] && [ $# -le 2 ] || { echo "usage: $0 <base> [<head>]" >&2; exit 2; }
cd "$(dirname "$0")/.."
git diff -U0 --no-color "$@" -- src/main | awk '
  /^(\+\+\+|---) (a\/|b\/|\/dev\/null)/ { next }
  /^[+-]/ {
    line = substr($0, 2)
    gsub(/^[ \t]+|[ \t]+$/, "", line)
    if (line == "" || line ~ /^(\/\/|\/\*|\*)/) next
    if (substr($0, 1, 1) == "+") added++; else removed++
  }
  END { printf "added %d removed %d net %d\n", added, removed, added - removed }'

#!/usr/bin/env bash
# Non-blank, non-comment line count of the Scala sources under the given
# paths (files or directories; default src/main), the code-size figure
# CHANGES.md entries quote. A line counts unless it is blank or starts,
# after indentation, with //, /* or * (a line comment or a doc/block
# comment line). Code followed by a trailing comment counts.
#   scripts/code_lines.sh [path...]
set -euo pipefail
[ "$#" -gt 0 ] || set -- src/main
find "$@" -name '*.scala' -print0 | xargs -0 cat |
  grep -v '^\s*$' | grep -v '^\s*\(//\|/\*\|\*\)' | wc -l

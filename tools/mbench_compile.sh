#!/usr/bin/env bash
# Compiles the benchmark (mbench/: the program's src/main plus mbench/src)
# against the working tree, offline, with the sbt options mbench/run.py
# builds with. Runs no workload. Exits non-zero on a compile error.
#
#   tools/mbench_compile.sh
#
# mbench compiles ../src/main by itself, so a deletion in src/main that
# mbench still calls breaks only this build, not the root build or tier-1.
set -euo pipefail
root=$(cd "$(dirname "$0")/.." && pwd)
opts="-Dsbt.offline=true -Xmx2g"
repos=$HOME/.sbt/repositories
if [ -e "$repos" ]; then
  opts="$opts -Dsbt.override.build.repos=true -Dsbt.repository.config=$repos"
fi
cd "$root/mbench"
COURSIER_MODE=offline SBT_OPTS="$opts" sbt -batch -Dsbt.log.noformat=true compile </dev/null

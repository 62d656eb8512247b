#!/usr/bin/env bash
# Plan neutrality in one command: is every plan each registry query
# executes (eager jobs and final write) the same at <rev> as in the
# working tree?
#
#   scripts/plan_neutrality.sh <rev> [sfDir]     # from a checkout of graft
#
# <rev> is checked out in a git worktree under $TMPDIR (default /tmp).
# Both trees are compiled offline with the Scala compiler in
# $SPARK_HOME/jars, and `graft.Probe plans` dumps every query of each with
# AQE off (an adaptive final plan also records which stage finished first),
# at the default broadcast threshold and at 1 KB. Both sides print
# through the working tree's PlanText and Probe (copied over <rev>'s), so
# one canonicaliser reads both. Fixtures: sfDir, else the usual
# SPARK_GRAFT_SF_DIR contract; cores: SPARK_GRAFT_CPUS.
#
# Prints the diff of each dump pair and exits 1 on any difference, 0 when
# all dumps are equal.
set -euo pipefail

rev=${1:?usage: scripts/plan_neutrality.sh <rev> [sfDir]}
if [ $# -ge 2 ]; then export SPARK_GRAFT_SF_DIR=$2; fi
root=$(git rev-parse --show-toplevel)
jars=${SPARK_HOME:?set SPARK_HOME}/jars
work=$(mktemp -d "${TMPDIR:-/tmp}/plan_neutrality.XXXXXX")
cleanup() {
  git -C "$root" worktree remove --force "$work/rev" 2>/dev/null || true
  git -C "$root" worktree prune
  rm -rf "$work"
}
trap cleanup EXIT

git -C "$root" worktree add --quiet --detach "$work/rev" "$rev"
cp "$root/src/main/scala/graft/PlanText.scala" "$root/src/main/scala/graft/Probe.scala" \
  "$work/rev/src/main/scala/graft/"

scalac=$(ls "$jars"/scala-compiler-2.13*.jar "$jars"/scala-library-2.13*.jar \
  "$jars"/scala-reflect-2.13*.jar | paste -sd:)
compile() { # <tree> <classes dir>
  mkdir -p "$2"
  find "$1/src/main/scala" -name '*.scala' > "$2.sources"
  echo "compiling $(wc -l < "$2.sources") files of $1" >&2
  java -Xss8m -Xmx2g -cp "$scalac" scala.tools.nsc.Main -nowarn -d "$2" \
    -classpath "$jars/*" "@$2.sources" >&2
  if [ -d "$1/src/main/resources" ]; then cp -r "$1/src/main/resources/." "$2/"; fi
}

opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
    sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
dump() { # <classes dir> <out file> [-Dspark.* ...]
  echo "dumping $2" >&2
  # java.io.tmpdir in $work: an old revision's artifact roots, which it
  # never deletes itself, go with $work
  (cd "$work" && java -Xmx2g "${opens[@]}" -Djava.io.tmpdir="$work" -Dspark.ui.enabled=false \
    -Dspark.sql.adaptive.enabled=false "${@:3}" -cp "$1:$jars/*" \
    graft.Probe plans > "$2" 2> "$2.log")
}

compile "$work/rev" "$work/rev.classes"
compile "$root" "$work/head.classes"
status=0
for t in default 1024; do
  flags=()
  if [ "$t" != default ]; then flags=(-Dspark.sql.autoBroadcastJoinThreshold=$t); fi
  for side in rev head; do dump "$work/$side.classes" "$work/$side.$t.txt" "${flags[@]}"; done
  queries=$(grep -c '^===== ' "$work/head.$t.txt" || true)
  errors=$(grep -c '^ERROR ' "$work/head.$t.txt" || true)
  if cmp -s "$work/rev.$t.txt" "$work/head.$t.txt"; then
    echo "threshold $t: $queries queries, $errors failed on both sides, no plan differs"
  else
    status=1
    differing=$(awk '/^===== /{q=$2; qs[q]} {b[FILENAME, q] = b[FILENAME, q] $0 "\n"}
      END {for (q in qs) if (b[ARGV[1], q] != b[ARGV[2], q]) print q}' \
      "$work/rev.$t.txt" "$work/head.$t.txt" | sort)
    echo "threshold $t: plans differ in $(echo "$differing" | wc -l) queries:" $differing
    diff -u "$work/rev.$t.txt" "$work/head.$t.txt" || true
  fi
done
exit $status

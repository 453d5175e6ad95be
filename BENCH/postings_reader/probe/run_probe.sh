#!/bin/sh
# Usage: run_probe.sh <copy of a graft checkout> <work dir> [term sets]
#
# Puts BlockReadProbe.scala into the copy's perfbench sources, builds them
# the way perfbench/run.py does, and runs the probe over [term sets] (default
# 600) term sets. Give it a copy, not the checkout itself: the probe file
# changes perfbench/src, which would make the next perfbench run rebuild.
set -e
here=$(cd "$(dirname "$0")" && pwd)
copy=$(cd "$1" && pwd)
rm -rf "$2"
mkdir -p "$2/tmp"
work=$(cd "$2" && pwd)
n=${3:-600}
cp "$here/BlockReadProbe.scala" "$copy/perfbench/src/main/scala/perfbench/"
cp=$(cd "$copy" && python3 -c "import sys; sys.path.insert(0, 'perfbench'); import run; print(run.build())")
opens=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util \
    java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
    sun.security.action sun.util.calendar; do
  opens="$opens --add-opens java.base/$p=ALL-UNNAMED"
done
java -Xms2g -Xmx2g -XX:+UseParallelGC $opens -Djava.io.tmpdir="$work/tmp" -cp "$cp" \
  graft.probe.BlockReadProbe "$work" "$n" 2>"$work/stderr.log" | tail -1 | tee "$work/probe.json"

#!/bin/sh
# Build the wall-clock sampler agent into <dir> and print the
# JAVA_TOOL_OPTIONS value that loads it:
#
#   export JAVA_TOOL_OPTIONS="$(scripts/wallprof/wallprof.sh /tmp/wp)"
#   python3 perfbench/run.py --workload lakehouse_cdc --seed 7 --seconds 10 --trace 0
#   unset JAVA_TOOL_OPTIONS
#   python3 scripts/wallprof/summarize.py /tmp/wp/samples.*.txt
#
# Every JVM started under that variable is sampled, sbt included: run the
# benchmark once without it first, so its classpath is cached and the run
# starts only the benchmark's JVM.
set -e
dir="${1:?usage: wallprof.sh <output dir>}"
here="$(cd "$(dirname "$0")" && pwd)"
mkdir -p "$dir/classes"
javac -d "$dir/classes" "$here/WallProf.java"
printf 'Premain-Class: WallProf\n' > "$dir/manifest.txt"
jar cfm "$dir/wallprof.jar" "$dir/manifest.txt" -C "$dir/classes" .
printf '%s\n' "-javaagent:$dir/wallprof.jar=$dir/samples"

#!/usr/bin/env python3
"""Summarize the main-thread samples WallProf.java wrote.

    python3 scripts/wallprof/summarize.py <samples.PID.txt>... [--rounds N] [--top K]

Each sample is attributed twice: to the outermost `graft.*` frame on its
stack (the library call the driver was inside), and to a leaf category, the
innermost frame that matches one of CATEGORIES (waiting for a Spark job,
parsing the Hadoop config, forking a process, analysis, ...). Times are
samples x the sampling period; --rounds divides them into per-round figures.
"""
import argparse
import collections

# (category, frame prefixes); the innermost matching frame decides
CATEGORIES = [
    ("fork", ("java.lang.ProcessImpl", "java.lang.ProcessBuilder", "org.apache.hadoop.util.Shell")),
    ("hadoop conf", ("org.apache.hadoop.conf.Configuration.loadResource",
                     "org.apache.hadoop.conf.Configuration.getProps",
                     "org.apache.hadoop.conf.Configuration.<init>")),
    ("parquet footer", ("org.apache.parquet.hadoop.ParquetFileReader",)),
    ("avro", ("org.apache.avro.",)),
    ("json", ("com.fasterxml.jackson.",)),
    ("codegen", ("org.apache.spark.sql.catalyst.expressions.codegen.", "org.codehaus.janino.")),
    ("job wait", ("org.apache.spark.scheduler.JobWaiter", "org.apache.spark.scheduler.DAGScheduler.runJob",
                  "org.apache.spark.util.ThreadUtils.awaitReady",
                  "org.apache.spark.util.ThreadUtils.awaitResult")),
    ("analysis", ("org.apache.spark.sql.catalyst.analysis.",)),
    ("optimizer", ("org.apache.spark.sql.catalyst.optimizer.",)),
    ("planning", ("org.apache.spark.sql.execution.SparkStrategies", "org.apache.spark.sql.catalyst.planning.",
                  "org.apache.spark.sql.execution.adaptive.")),
    ("file io", ("java.io.", "java.nio.", "sun.nio.", "org.apache.hadoop.fs.")),
    ("sleep", ("java.lang.Thread.sleep",)),
]


def category(state, frames):
    # adaptive execution waits for its query stages on a queue, not a JobWaiter
    if state in ("WAITING", "TIMED_WAITING") and not frames[-1:] == ["java.lang.Thread.sleep"] and any(
            f.startswith(("org.apache.spark.sql.execution.adaptive.", "org.apache.spark.scheduler."))
            for f in frames):
        return "job wait"
    for frame in reversed(frames):
        for name, prefixes in CATEGORIES:
            if frame.startswith(prefixes):
                return name
    return "other"


def outermost_graft(frames):
    """The outermost graft frame, else the benchmark's own innermost frame."""
    return next((f for f in frames if f.startswith("graft.")),
                next((f"(no graft frame) {f}" for f in reversed(frames) if f.startswith("graftbench.")),
                     "(no graft frame)"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("files", nargs="+")
    ap.add_argument("--rounds", type=int, default=1, help="divide times by this many rounds")
    ap.add_argument("--top", type=int, default=15)
    a = ap.parse_args()
    period, total = 5.0, 0
    by_cat, by_graft, by_both = collections.Counter(), collections.Counter(), collections.Counter()
    for path in a.files:
        for line in open(path):
            if line.startswith("# period_ms"):
                period = float(line.split()[-1])
                continue
            n, _, stack = line.rstrip("\n").partition(" ")
            state, *frames = stack.split(";")
            n = int(n)
            cat, top = category(state, frames), outermost_graft(frames)
            total += n
            by_cat[cat] += n
            by_graft[top] += n
            by_both[(top, cat)] += n

    def ms(n):
        return n * period / a.rounds

    print(f"{total} samples, {ms(total):.0f} ms per round ({period:g} ms period, {a.rounds} round(s))")
    for title, counter in (("leaf category", by_cat), ("outermost graft frame", by_graft),
                           ("graft frame x category", by_both)):
        print(f"\n== by {title}")
        for key, n in counter.most_common(a.top):
            label = " / ".join(key) if isinstance(key, tuple) else key
            print(f"  {ms(n):9.1f} ms  {100.0 * n / total:5.1f}%  {label}")


if __name__ == "__main__":
    main()

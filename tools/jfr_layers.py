#!/usr/bin/env python3
"""Share of executor CPU samples per layer of the wire path, from a JFR file.

Usage:
    tools/jfr_layers.py <recording.jfr> [--top N]
    jfr print --events jdk.ExecutionSample --stack-depth 256 <recording.jfr> \\
        | tools/jfr_layers.py - [--top N]

Reads the `jdk.ExecutionSample` events of `Executor task launch worker`
threads (Spark's task threads) and attributes each sample to one layer:
decode, enrich, aggregate, scan, state or other. The layer is that of the
innermost stack frame that matches one of the patterns below, so a
`HashMap.get` called from `UTF8String.translate` counts as enrich and a
Jackson frame under `DecodeJsonPayload` as decode. It prints the share of
samples per layer and the top self frames (the innermost frame of each
sample), each with its layer.

To record a perfbench run without touching perfbench (its runner passes
the environment to the JVM it starts):

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile" \\
        python3 perfbench/run.py --workload stream_backlog --seed 7 --seconds 8 --trace 0

`jfr print` keeps only the 5 innermost frames by default, too few to find
the layer of a deep Jackson or codegen stack; with a .jfr argument this
script asks for 256.
"""
import argparse
import collections
import re
import subprocess
import sys

# (layer, pattern), tried in order on each frame, innermost frame first.
# The sink's `to_json` is listed first so that its Jackson generator does
# not count as decode.
LAYERS = [
    ("other", re.compile(r"JacksonGenerator|StructsToJson")),
    ("decode", re.compile(r"DecodeJsonPayload|catalyst\.json\.|com\.fasterxml\.jackson\.")),
    ("enrich", re.compile(r"UTF8String\.(translate|replace)|stringToDate|DateTimeUtils|"
                          r"StayCategory|DateFormatter")),
    ("aggregate", re.compile(r"aggregate\.(Collect|TypedImperative|HyperLogLog)|"
                             r"ObjectAggregation|HashAggregate|AggregationIterator|"
                             r"UnsafeFixedWidthAggregationMap|SortBasedAggregat")),
    ("state", re.compile(r"[Ss]tateStore|RocksDB|HDFSBackedStateStore|StateStoreRDD")),
    ("scan", re.compile(r"LineRecordReader|util\.LineReader|HadoopFileLinesReader|"
                        r"TextFileFormat|FileScanRDD|CompressionCodec")),
]
ORDER = ["decode", "enrich", "aggregate", "scan", "state", "other"]
EXECUTOR = "Executor task launch worker"
FRAME = re.compile(r"^\s+(\S+?\(.*?\))(?:\s+line:.*)?$")


def samples(lines):
    """Yields the frames (innermost first) of each executor thread sample."""
    thread, frames, in_stack = None, [], False
    for line in lines:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread"):
            thread = s
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack:
            m = FRAME.match(line)
            if m:
                frames.append(m.group(1))
        elif s == "}" and thread is not None:
            if EXECUTOR in thread and frames:
                yield frames
            thread = None


def layer_of(frames):
    for f in frames:
        for layer, pattern in LAYERS:
            if pattern.search(f):
                return layer
    return "other"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("input", help="a .jfr file, or - for `jfr print` text on stdin")
    ap.add_argument("--top", type=int, default=15, help="self frames to list")
    args = ap.parse_args()
    if args.input == "-":
        lines = sys.stdin
    else:
        out = subprocess.run(["jfr", "print", "--events", "jdk.ExecutionSample",
                              "--stack-depth", "256", args.input],
                             check=True, capture_output=True, text=True).stdout
        lines = out.splitlines()
    per_layer, self_frames = collections.Counter(), collections.Counter()
    for frames in samples(lines):
        layer = layer_of(frames)
        per_layer[layer] += 1
        self_frames[(frames[0], layer)] += 1
    total = sum(per_layer.values())
    if total == 0:
        sys.exit(f"no {EXECUTOR} samples in {args.input}")
    print(f"{total} executor samples")
    for layer in ORDER:
        print(f"  {layer:<10} {100.0 * per_layer[layer] / total:5.1f}%")
    print(f"top {args.top} self frames:")
    for (frame, layer), n in self_frames.most_common(args.top):
        print(f"  {100.0 * n / total:5.1f}%  {layer:<10} {frame}")


if __name__ == "__main__":
    main()

"""Count the OS processes a JVM started, from a JFR recording.

    python3 tools/forks.py REC.jfr

Prints the recording's `jdk.ProcessStart` events counted by command
(its first word, e.g. `chmod`, `readlink`, `ls`) and by the first
`graft.` or `perfbench.` frame on the starting thread's stack, so a
fork shows up under the program code that caused it. Events whose
stack holds neither are counted under `(other)`.

To record a benchmark run without editing perfbench/ (run.py passes
its environment through to the JVM):

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/med.jfr \
        python3 perfbench/run.py --workload medallion --seed 1 --seconds 15 --trace 1
    python3 tools/forks.py /tmp/med.jfr

The events are read with `jfr print --json --stack-depth 64`: the
default depth of 5 frames ends inside Hadoop's Shell and hides the
caller.
"""
import collections
import json
import subprocess
import sys

PREFIXES = ("graft.", "perfbench.")


def events(recording):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "64", "--events", "jdk.ProcessStart",
         recording],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def caller(event):
    """The first graft./perfbench. frame as `class.method`, or None."""
    trace = event["values"].get("stackTrace") or {}
    for frame in trace.get("frames", []):
        method = frame["method"]
        cls = method["type"]["name"].replace("/", ".")
        if cls.startswith(PREFIXES):
            return f"{cls}.{method['name']}"
    return None


def table(title, counts):
    print(f"{title}:")
    for key, n in counts.most_common():
        print(f"  {n:6d}  {key}")


def main(argv):
    if len(argv) != 2:
        raise SystemExit(__doc__)
    evs = events(argv[1])
    print(f"process starts: {len(evs)}")
    table("by command", collections.Counter(
        (e["values"].get("command") or "").split(" ")[0] or "(none)" for e in evs))
    table("by caller", collections.Counter(caller(e) or "(other)" for e in evs))


if __name__ == "__main__":
    main(sys.argv)

#!/usr/bin/env python3
"""Counts the child processes a JVM started, from a JFR recording.

    python3 tools/fork_census.py recording.jfr [--batches N]

Reads `jfr print --json --events jdk.ProcessStart` and prints the total,
then counts by command (`chmod`, `readlink`, `ls`, ...) and by the class
of the path the command was given: the streaming checkpoint logs
(`offsets`, `commits`, `sources`, `state`, `metadata`), the sink commit
(`_temporary`, `_SUCCESS`, `parquet`), `other` for any other path and
`no path` for commands without one. It also prints how many distinct
checkpoint commit-log entries (`commits/<n>`) the commands touched, a
lower bound on the micro-batches recorded when every batch forks there.
With `--batches N` every count is also divided by N.

A recording of a whole run comes from the JVM option
`-XX:StartFlightRecording=filename=<file>.jfr,dumponexit=true`, e.g. via
`JAVA_TOOL_OPTIONS`; the default settings record `jdk.ProcessStart`.
"""
import argparse
import collections
import json
import os
import re
import subprocess

# first match wins: a commit's temporary output is `_temporary` whatever
# its file name, and a checkpoint log's `.crc` belongs to its log
PATH_CLASSES = (
    ("_temporary", lambda parts, name: "_temporary" in parts),
    ("_SUCCESS", lambda parts, name: name in ("_SUCCESS", "._SUCCESS.crc")),
    ("offsets", lambda parts, name: "offsets" in parts),
    ("commits", lambda parts, name: "commits" in parts),
    ("sources", lambda parts, name: "sources" in parts),
    ("state", lambda parts, name: "state" in parts),
    ("metadata", lambda parts, name: name in ("metadata", ".metadata.crc")),
    ("parquet", lambda parts, name: ".parquet" in name),
)


def events(recording: str) -> list:
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart", recording],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


COMMIT_ENTRY = re.compile(r"(/commits/\d+)(?:$|\s)")


def path_of(command: str) -> str:
    paths = [a for a in command.split()[1:] if a.startswith("/") or a.startswith("file:")]
    return paths[-1] if paths else ""


def path_class(command: str) -> str:
    path = path_of(command)
    if not path:
        return "no path"
    parts = path.split("/")
    name = parts[-1]
    for label, match in PATH_CLASSES:
        if match(parts, name):
            return label
    return "other"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--batches", type=int, default=0,
                    help="micro-batches in the recording; adds a per-batch column")
    a = ap.parse_args()

    commands = [e["values"]["command"] for e in events(a.recording)]
    by_command = collections.Counter(os.path.basename(c.split()[0]) if c else "?" for c in commands)
    by_path = collections.Counter(path_class(c) for c in commands)

    def show(title, counts):
        print(title)
        for key, n in counts.most_common():
            per = f"  {n / a.batches:8.1f}/batch" if a.batches else ""
            print(f"  {key:<14}{n:8d}{per}")

    per = f" ({len(commands) / a.batches:.1f} per batch over {a.batches})" if a.batches else ""
    print(f"jdk.ProcessStart events: {len(commands)}{per}")
    commits = {path_of(c).replace("file:", "") for c in commands if COMMIT_ENTRY.search(c)}
    print(f"checkpoint commit entries touched: {len(commits)}")
    show("by command:", by_command)
    show("by path class:", by_path)


if __name__ == "__main__":
    main()

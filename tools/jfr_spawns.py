"""Summarize the processes a JVM started, from a JFR recording.

Every ``jdk.ProcessStart`` event is counted by program (the command's first
word), by thread (ids and numbers folded, so task and query threads group)
and by the first Spark frame of its stack, the Spark call that led to the
launch.  Without the native Hadoop library, local-filesystem permission and
link calls each start a ``chmod``/``readlink``/``stat`` process; this shows
which Spark layer pays for them.

Record the events with stacks, e.g. for a whole run:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=run.jfr,settings=profile" \\
        python3 perfbench/run.py --workload stream_zipf_keys --seed 1

Usage: python tools/jfr_spawns.py <recording.jfr> [--top N]
       jfr print --events jdk.ProcessStart --stack-depth 40 run.jfr | \\
           python tools/jfr_spawns.py -
"""

from __future__ import annotations

import argparse
import re
import subprocess
import sys
from collections import Counter
from dataclasses import dataclass

STACK_DEPTH = 40


@dataclass
class Spawn:
    command: str
    thread: str
    frames: list[str]

    @property
    def program(self) -> str:
        return self.command.split(" ", 1)[0]

    @property
    def spark_frame(self) -> str:
        """The innermost ``org.apache.spark`` method on the stack, without
        arguments and line, or ``-`` when no Spark frame is in the printed depth."""
        for frame in self.frames:
            if frame.startswith("org.apache.spark."):
                return frame.split("(", 1)[0]
        return "-"


def parse(text: str) -> list[Spawn]:
    """Parse ``jfr print --events jdk.ProcessStart`` output.

    A stack ends at a line holding only ``]``; frames may contain ``]``
    themselves (``ProcessBuilder.start(ProcessBuilder$Redirect[])``)."""
    spawns: list[Spawn] = []
    cur: Spawn | None = None
    in_stack = False
    for line in text.splitlines():
        s = line.strip()
        if s == "jdk.ProcessStart {":
            cur = Spawn(command="", thread="", frames=[])
        elif cur is None:
            continue
        elif in_stack:
            if s == "]":
                in_stack = False
            elif s and s != "...":
                cur.frames.append(s)
        elif s.startswith("command = "):
            cur.command = s[len("command = "):].strip('"')
        elif s.startswith("eventThread = "):
            m = re.match(r'eventThread = "(.*)" \(javaThreadId', s)
            cur.thread = m.group(1) if m else s[len("eventThread = "):]
        elif s.startswith("stackTrace = ["):
            in_stack = not s.endswith("[]") and s != "stackTrace = [ ]"
        elif line == "}":
            spawns.append(cur)
            cur = None
    return spawns


def _table(title: str, counts: Counter, top: int) -> list[str]:
    lines = [f"{title}:"]
    for name, n in counts.most_common(top):
        lines.append(f"  {n:7d}  {name}")
    return lines


_UUID = re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")


def thread_group(name: str) -> str:
    """``name`` with ids and numbers folded, so per-query and per-task threads
    of one kind count together."""
    return re.sub(r"\d+", "N", _UUID.sub("*", name))


def summarize(spawns: list[Spawn], top: int = 15) -> str:
    out = [f"{len(spawns)} processes started"]
    out += _table("by program", Counter(s.program for s in spawns), top)
    out += _table("by thread", Counter(thread_group(s.thread) for s in spawns), top)
    out += _table("by first Spark frame", Counter(s.spark_frame for s in spawns), top)
    out += _table(
        "by program and first Spark frame",
        Counter(f"{s.program:10s} {s.spark_frame}" for s in spawns),
        top,
    )
    return "\n".join(out)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording", help="a .jfr file, or - for `jfr print` output on stdin")
    ap.add_argument("--top", type=int, default=15, help="rows per table")
    args = ap.parse_args(argv)
    if args.recording == "-":
        text = sys.stdin.read()
    else:
        text = subprocess.run(
            ["jfr", "print", "--events", "jdk.ProcessStart", "--stack-depth",
             str(STACK_DEPTH), args.recording],
            check=True, capture_output=True, text=True,
        ).stdout
    print(summarize(parse(text), args.top))


if __name__ == "__main__":
    main()

"""``tools/jfr_spawns.py`` parses ``jfr print`` output of process-start events."""

from __future__ import annotations

import importlib.util
import os
import sys

_spec = importlib.util.spec_from_file_location(
    "jfr_spawns",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "jfr_spawns.py"),
)
jfr_spawns = importlib.util.module_from_spec(_spec)
sys.modules["jfr_spawns"] = jfr_spawns  # dataclasses resolve the module by name
_spec.loader.exec_module(jfr_spawns)

PRINTED = """\
jdk.ProcessStart {
  startTime = 22:09:20.588
  pid = 27428
  directory = N/A
  command = "readlink file:/chk/offsets/.0.tmp"
  eventThread = "stream execution thread for [id = 1c2e3f4a-0b1c-4d2e-8f90-a1b2c3d4e5f6, runId = 0a1b2c3d-4e5f-4a6b-8c7d-9e0f1a2b3c4d]" (javaThreadId = 61)
  stackTrace = [
    java.lang.ProcessBuilder.start(ProcessBuilder$Redirect[]) line: 1124
    java.lang.ProcessBuilder.start() line: 1073
    org.apache.hadoop.fs.FileUtil.readLink(File) line: 223
    org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager.renameTempFile(Path, Path, boolean) line: 400
    org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager$RenameBasedFSDataOutputStream.close() line: 160
    ...
  ]
}

jdk.ProcessStart {
  startTime = 22:09:20.593
  pid = 27430
  directory = N/A
  command = "chmod 0644 /chk/state/0/3/.1.delta.tmp"
  eventThread = "Executor task launch worker for task 3.0 in stage 1.0 (TID 7)" (javaThreadId = 90)
  stackTrace = [
    java.lang.ProcessBuilder.start(ProcessBuilder$Redirect[]) line: 1124
    org.apache.hadoop.util.Shell.runCommand() line: 998
  ]
}

jdk.ProcessStart {
  startTime = 22:09:20.601
  pid = 27431
  directory = N/A
  command = "chmod 0644 /chk/state/0/4/.1.delta.tmp"
  eventThread = "Executor task launch worker for task 4.0 in stage 1.0 (TID 8)" (javaThreadId = 91)
  stackTrace = [
  ]
}
"""


def test_parse_keeps_frames_with_brackets_and_ends_at_the_stack():
    spawns = jfr_spawns.parse(PRINTED)
    assert [s.program for s in spawns] == ["readlink", "chmod", "chmod"]
    assert spawns[0].frames[0] == "java.lang.ProcessBuilder.start(ProcessBuilder$Redirect[]) line: 1124"
    assert len(spawns[0].frames) == 5
    assert spawns[0].spark_frame == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager.renameTempFile"
    )
    assert len(spawns[1].frames) == 2 and spawns[1].spark_frame == "-"
    assert spawns[2].frames == []


def test_summary_groups_threads_of_one_kind():
    summary = jfr_spawns.summarize(jfr_spawns.parse(PRINTED))
    assert summary.splitlines()[0] == "3 processes started"
    assert "        2  chmod" in summary
    assert "        2  Executor task launch worker for task N.N in stage N.N (TID N)" in summary
    assert "        1  stream execution thread for [id = *, runId = *]" in summary

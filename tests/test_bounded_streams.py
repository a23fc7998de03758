"""Bounded stream runs fail loudly and own their temp dirs.

A run that overruns its timeout must raise and leave no query running
(``streaming.bounded.run_available_now``); every engine temp dir lives
under the per-process root that goes at interpreter exit (``scratch``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.path.join(REPO, "perfbench", "data", "sf0.01")


def test_overrun_stream_raises_and_stops(spark):
    """A timeout the run cannot meet raises instead of returning a
    partial result, and the query is stopped: both for a memory-sink
    stream and for a foreachBatch stream that never stopped its query."""
    from health_data_transformation_spark.streaming.ingest import stream_static_enrich
    from health_data_transformation_spark.streaming.windows import stream_window_counts

    with pytest.raises(TimeoutError):
        stream_window_counts(spark, SF, timeout_sec=0.01)
    assert spark.streams.active == []

    with pytest.raises(TimeoutError):
        stream_static_enrich(spark, SF, timeout_sec=0.01)
    assert spark.streams.active == []


_OWNER_SCRIPT = """
import json, sys, tempfile
sys.path.insert(0, sys.argv[1])
from health_data_transformation_spark.session import get_spark
spark = get_spark(app_name="hdt-temp-owner", cpus=2, shuffle_partitions=4,
                  extra_confs={"spark.ui.showConsoleProgress": "false",
                               "spark.driver.memory": "1g"})
spark.sparkContext.setLogLevel("ERROR")
from health_data_transformation_spark.plans.analytics import REGISTRY
from health_data_transformation_spark.streaming.windows import (
    stream_late_data_drop, stream_window_counts)
sf = sys.argv[2]
rows = [
    len(stream_window_counts(spark, sf).collect()),   # memory sink
    len(stream_late_data_drop(spark, sf).collect()),  # parquet sink
    len(REGISTRY["q169_ingest_lifecycle"].fn(spark, sf).collect()),  # named root
]
print(json.dumps({"tmp": tempfile.gettempdir(), "rows": rows}))
"""


def test_engine_temp_dirs_are_gone_after_exit(tmp_path):
    """Two streams (memory and parquet sink) and one named-root query
    run in a process whose temp dir is ``tmp_path``; their results are
    collected, the process exits, and no ``hdt_*`` entry is left."""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", _OWNER_SCRIPT, REPO, SF],
        capture_output=True, text=True, env=env, cwd=str(tmp_path), timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["tmp"] == str(tmp_path)
    assert all(n > 0 for n in out["rows"]), out
    left = sorted(p for p in os.listdir(tmp_path) if p.startswith("hdt_"))
    assert left == []


_ROOT_SCRIPT = """
import sys, time
sys.path.insert(0, sys.argv[1])
from health_data_transformation_spark import scratch
print(scratch.root(), flush=True)
if sys.argv[2] == "hang":
    time.sleep(600)
"""


def test_roots_of_dead_processes_are_removed(tmp_path):
    """A process killed by SIGKILL runs no atexit hook and leaves its
    root; the next process to make its own root removes it, and keeps
    the root of a process that is still alive."""
    import signal

    env = dict(os.environ, TMPDIR=str(tmp_path))
    killed = subprocess.Popen(
        [sys.executable, "-c", _ROOT_SCRIPT, REPO, "hang"],
        stdout=subprocess.PIPE, text=True, env=env,
    )
    orphan = killed.stdout.readline().strip()
    killed.send_signal(signal.SIGKILL)
    killed.wait(timeout=60)
    killed.stdout.close()
    assert os.path.isdir(orphan)
    live = tmp_path / f"hdt_{os.getpid()}_live"
    live.mkdir()

    proc = subprocess.run(
        [sys.executable, "-c", _ROOT_SCRIPT, REPO, "exit"],
        capture_output=True, text=True, env=env, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert sorted(os.listdir(tmp_path)) == [live.name]

"""Tests of the benchmark itself (not of the program it measures).

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import ticks  # noqa: E402
from perfbench.trace import parse_event_log  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


# -- fingerprints -------------------------------------------------------------


def test_one_cell_changes_the_spark_fingerprint(spark):
    from perfbench.run import result_check

    rows = [(i, f"s{i}", i * 0.5, {"k": i}) for i in range(50)]
    schema = "id long, s string, x double, m map<string,int>"
    base = result_check(spark.createDataFrame(rows, schema))
    shuffled = result_check(spark.createDataFrame(list(reversed(rows)), schema))
    rows[17] = (17, "s17", 8.25, {"k": 17})  # one cell: 8.5 -> 8.25
    changed = result_check(spark.createDataFrame(rows, schema))
    assert base == shuffled  # order-free
    assert changed["rows"] == base["rows"]
    assert changed["fp"] != base["fp"]


def test_inv_ok_is_reported(spark):
    from perfbench.run import check_against, result_check

    df = spark.createDataFrame([(1, True), (2, False)], "id long, inv_ok boolean")
    got = result_check(df)
    assert got["inv_ok"] == 0
    assert check_against({"rows": 2, "inv_ok": 1}, got) is not None


def test_one_cell_changes_the_pandas_fingerprint():
    t = ticks.make_ticks(3, n_reads=1)
    df = t.base.head(500).copy()
    base = ticks.fingerprint(df)
    assert ticks.fingerprint(df.sample(frac=1.0, random_state=0)) == base
    df.loc[df.index[123], "size"] += 1
    assert ticks.fingerprint(df) != base
    dup = pd.concat([t.base.head(500), t.base.head(500).tail(1)])
    assert ticks.fingerprint(dup)[0] == 501  # a duplicated row counts


# -- event-log parser ---------------------------------------------------------


def _job(jid, group, stages, t0, t1, reader=False):
    frame = "org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)"
    details = frame if reader else "x"
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": jid,
            "Submission Time": t0,
            "Stage IDs": stages,
            "Stage Infos": [{"Stage ID": s, "Details": details} for s in stages],
            "Properties": props,
        },
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
    ]


def _task(stage, run_ms, cpu_ns, gc_ms, sread, swrite, spill, py_bytes=None):
    acc = [{"Name": "internal.metrics.executorRunTime", "Update": run_ms}]
    if py_bytes is not None:
        acc.append({"Name": "data sent to Python workers", "Update": str(py_bytes)})
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sread},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": swrite},
            "Disk Bytes Spilled": spill,
        },
    }


def test_event_log_parser_known_totals(tmp_path):
    mb = 1024 * 1024
    events = [{"Event": "SparkListenerApplicationStart"}]
    events += _job(0, "s1", [0], 1_000, 1_250, reader=True)  # schema job, 0.25s
    events += _job(1, "s1", [1, 2], 2_000, 3_500)  # 1.5s
    events += _job(2, "s2", [3], 4_000, 4_100)
    events += _job(3, None, [4], 5_000, 9_000)  # no group: ignored
    events += [
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": s}} for s in range(5)
    ]
    events += [
        _task(0, 100, 50_000_000, 5, 0, 0, 0),
        _task(1, 400, 300_000_000, 20, 0, 2 * mb, 0),
        _task(2, 600, 500_000_000, 30, 2 * mb, 0, mb),
        _task(2, 600, 500_000_000, 30, 2 * mb, 0, mb),
        _task(3, 50, 10_000_000, 0, 0, 0, 0, py_bytes=3 * mb),
        _task(4, 9_999, 9_999, 9_999, 9_999, 9_999, 9_999, py_bytes=9_999),
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    with open(log) as fh:
        got = parse_event_log(fh)
    assert set(got) == {"s1", "s2"}
    s1, s2 = got["s1"], got["s2"]
    assert (s1.jobs, s1.schema_jobs, s1.stages, s1.tasks) == (2, 1, 3, 4)
    assert s1.job_s == pytest.approx(1.75)
    assert s1.schema_s == pytest.approx(0.25)
    assert s1.executor_run_s == pytest.approx(1.7)
    assert s1.executor_cpu_s == pytest.approx(1.35)
    assert s1.jvm_gc_s == pytest.approx(0.085)
    assert s1.shuffle_read_mb == pytest.approx(4.0)
    assert s1.shuffle_write_mb == pytest.approx(2.0)
    assert s1.spill_mb == pytest.approx(2.0)
    assert s1.python_bytes_mb == 0.0
    assert (s2.jobs, s2.schema_jobs, s2.tasks) == (1, 0, 1)
    assert s2.python_bytes_mb == pytest.approx(3.0)


# -- seeded inputs ------------------------------------------------------------


def test_same_seed_same_ticks_and_schedule():
    a, b = ticks.make_ticks(11, n_reads=30), ticks.make_ticks(11, n_reads=30)
    pd.testing.assert_frame_equal(a.base, b.base)
    pd.testing.assert_frame_equal(a.append, b.append)
    assert a.reads == b.reads


def test_other_seed_other_ticks_and_schedule_same_size():
    a, b = ticks.make_ticks(11, n_reads=30), ticks.make_ticks(12, n_reads=30)
    assert not a.base.equals(b.base)
    assert not a.append.equals(b.append)
    assert a.reads != b.reads
    # the work is the same size whatever the seed
    assert len(a.base) == len(b.base) and len(a.append) == len(b.append)
    assert sorted(a.base.groupby("uid").size()) == sorted(b.base.groupby("uid").size())


# -- the command --------------------------------------------------------------


def test_forced_wrong_result_exits_nonzero():
    """A program whose list_uids drops one uid must fail the run."""
    code = (
        "import sys, runpy\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "import pyspark.sql.functions as F\n"
        "from corintick_spark.storage import TickStore\n"
        "orig = TickStore.list_uids\n"
        "TickStore.list_uids = lambda self: orig(self).filter(F.col('uid') != 'u00000')\n"
        "sys.argv = ['run.py', '--workload', 'tickstore', '--seed', '1',"
        " '--seconds', '1', '--trace', '0']\n"
        f"runpy.run_path({os.path.join(BENCH, 'run.py')!r}, run_name='__main__')\n"
    )
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    assert p.returncode != 0
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] >= 1
    assert "FAILED tickstore.list_uids" in p.stderr


def test_without_the_program_fails_without_a_result(tmp_path):
    skip = shutil.ignore_patterns(".work", "out", "__pycache__")
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=skip)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "queries"]
        + ["--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=170,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""

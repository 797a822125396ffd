"""Tests of the benchmark's own pieces.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import common  # noqa: E402
import expect  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

ENTRIES = {"LogFile": "HTTPAccessLog", "Host": "web01"}


# -- generator ---------------------------------------------------------------

def test_access_log_lines_repeat_for_a_seed():
    a = gen.access_log_lines(5, 500)
    assert a == gen.access_log_lines(5, 500)
    assert a != gen.access_log_lines(6, 500)
    lines = a.decode().split("\n")
    assert any(line.endswith("\r") for line in lines)  # some CRLF endings


def test_trickle_values_repeat_for_a_seed():
    one = [gen.trickle_bytes(gen.trickle_value(3, i, 1_700_000_000.25)) for i in range(1, 60)]
    two = [gen.trickle_bytes(gen.trickle_value(3, i, 1_700_000_000.25)) for i in range(1, 60)]
    assert one == two
    values = [json.loads(b) for b in one]
    assert any(v is None for v in values)
    assert any(isinstance(v, str) for v in values)
    assert any(isinstance(v, list) for v in values)


def test_tables_repeat_for_a_seed(tmp_path):
    import pyarrow.parquet as pq

    gen.write_tables(str(tmp_path / "a"), 9, scale=0.001)
    gen.write_tables(str(tmp_path / "b"), 9, scale=0.001)
    for name in os.listdir(tmp_path / "a"):
        assert pq.read_table(tmp_path / "a" / name).equals(
            pq.read_table(tmp_path / "b" / name)), name


# -- expected output against the program's pipelines ---------------------------

@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from kinesis_log_streamer_spark.session import get_spark

    return get_spark("perfbench-tests")


def _records(df) -> list[str]:
    return [r["data"] for r in df.collect()]


def test_expected_line_records_match_pipeline(spark):
    from kinesis_log_streamer_spark.streaming.pipeline import build_line_pipeline

    raw = b'a "GET /r/1?q=x" 200\r\n\nb \xc3\xa9\n \nc "Host" web01\n'
    # the spool splits on LF and keeps each line's CR for the pipeline
    lines = raw.decode().split("\n")[:-1]
    df = spark.createDataFrame([(v,) for v in lines], "value string")
    got = _records(build_line_pipeline(df, "json", "LogEntry", ENTRIES, "key"))
    want = expect.expected_line_records(raw, "LogEntry", ENTRIES)
    assert len(want) == 4  # CRLF stripped, the empty line dropped
    assert expect.compare(want, got) == {
        "expected": 4, "delivered": 4, "missing": 0, "duplicates": 0,
        "unexpected": 0}


def test_expected_json_records_match_pipeline(spark):
    from kinesis_log_streamer_spark.streaming.pipeline import build_json_pipeline

    values = [
        {"event_id": 1, "Host": "origin-3", "Status": 200, "nested": {"a": [1, 2]}},
        None,
        "note-1",
        [1, "tag", 2],
        7,
        {"event_id": 2, "created": 1700000000.123456},
    ]
    # the spool lands each value as one line of compact JSON
    landed = [json.dumps(v, separators=(",", ":")) for v in values]
    df = spark.createDataFrame([(v,) for v in landed], "value string")
    got = _records(build_json_pipeline(df, ENTRIES, "key"))
    want = expect.expected_json_records(values, ENTRIES)
    assert len(want) == 5  # the null skipped
    assert json.loads(want[0])["Host"] == "web01"  # the entry wins
    assert expect.compare(want, got)["missing"] == 0
    assert expect.compare(want, got)["unexpected"] == 0


def test_compare_counts_missing_duplicate_and_unexpected():
    want = ['{"a":1}', '{"a":2}', '{"a":3}']
    got = ['{"a": 1}', '{"a":1}', '{"a":3}', '{"b":9}']
    assert expect.compare(want, got) == {
        "expected": 3, "delivered": 4, "missing": 1, "duplicates": 1,
        "unexpected": 1}


def test_throttle_rule_matches_objects_only():
    assert expect.throttled('{"event_id": 20}', 10)
    assert not expect.throttled('{"event_id": 21}', 10)
    assert not expect.throttled('[20]', 10)
    assert not expect.throttled('"20"', 10)


# -- statistics --------------------------------------------------------------

def test_percentile_needs_ten_samples_beyond():
    assert expect.percentile(list(range(100)), 90) == 89
    with pytest.raises(ValueError):
        expect.percentile(list(range(99)), 90)
    assert expect.percentile(list(range(20)), 50) == 9
    with pytest.raises(ValueError):
        expect.percentile(list(range(19)), 50)


def test_median_and_geomean():
    assert expect.median([3, 1, 2]) == 2
    assert expect.median([4, 1, 2, 3]) == 2.5
    assert expect.geomean([1.0, 100.0]) == pytest.approx(10.0)


def test_cpu_at_reads_between_samples():
    series = [(10.0, 0.0), (10.2, 0.5), (10.4, 0.5), (10.6, 1.5)]
    assert common.cpu_at(series, 10.1) == pytest.approx(0.25)
    assert common.cpu_at(series, 10.3) == pytest.approx(0.5)
    assert common.cpu_at(series, 10.55) == pytest.approx(1.25)
    assert common.cpu_at(series, 9.0) == 0.0  # before the first sample
    assert common.cpu_at(series, 11.0) == 1.5  # after the last


def test_tree_cpu_counts_a_busy_child():
    import subprocess

    spin = ("import sys, time\n"
            "t = time.process_time()\n"
            "while time.process_time() - t < 0.5:\n"
            "    pass\n"
            "print('spun', flush=True)\n"
            "sys.stdin.read()\n")
    child = subprocess.Popen([sys.executable, "-c", spin], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline() == "spun\n"
        assert common.tree_cpu_s(child.pid) >= 0.45
        assert common.tree_cpu_s(os.getpid()) >= common.tree_cpu_s(child.pid)
    finally:
        child.stdin.close()
        child.wait()
        child.stdout.close()


def test_ladder_and_stop_rule_on_a_synthetic_trace():
    assert expect.ladder(2, 1024) == [2, 4, 8, 16, 32, 64, 128, 256, 512, 1024]
    # drains ~9 rec/s; backlog at each step's end for offered rates
    capacity, step_s, limit_s = 9.0, 8.0, 2.0
    steps = []
    for rate in expect.ladder(2, 1024):
        backlog = max(rate - capacity, 0) * step_s + rate * 0.8
        grew = expect.backlog_grew(rate, backlog, limit_s)
        steps.append({"rate": rate, "grew": grew})
        if grew:
            break
    assert [s["rate"] for s in steps] == [2, 4, 8, 16]
    assert expect.sustained_rate(steps) == 8
    assert expect.sustained_rate([{"rate": 2, "grew": True}]) == 0.0


def test_self_time_subtracts_children():
    t = spans.Tracer("r")
    t.spans = [
        {"id": 0, "name": "run", "start": 0.0, "end": 10.0, "parent": None, "run": "r"},
        {"id": 1, "name": "read", "start": 1.0, "end": 4.0, "parent": 0, "run": "r"},
        {"id": 2, "name": "read", "start": 3.0, "end": 5.0, "parent": 0, "run": "r"},
    ]
    selfs = spans.self_times(t.spans)
    assert selfs["run"] == pytest.approx(6.0)
    assert selfs["read"] == pytest.approx(5.0)
    assert spans.total_time(t.spans, "read") == pytest.approx(5.0)

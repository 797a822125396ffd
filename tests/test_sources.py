"""Source-parity tests: line splitter edge cases (FIXTURES.md A3) and
the concatenated-JSON decoder (A4; jsonstreamer.go:40-62)."""

from __future__ import annotations

import json

import pytest

from kinesis_log_streamer_spark.sources.json_source import (
    ConcatenatedJsonError,
    read_concatenated_json,
    split_concatenated_json,
)
from kinesis_log_streamer_spark.sources.lines import read_lines


class TestSplitConcatenatedJson:
    def test_values_any_separation(self):
        # jsonstreamer.go:40-46: objects/arrays/scalars, any separation
        out = split_concatenated_json('{"a":1}  [1,2]42 "s"\n{"b":2}')
        assert out == ['{"a":1}', "[1,2]", "42", '"s"', '{"b":2}']

    def test_null_skipped(self):
        # F2: jsonstreamer.go:48
        assert split_concatenated_json('null {"a":1} null') == ['{"a":1}']

    def test_strict_aborts_on_malformed(self):
        # jsonstreamer.go:44-45: abort at first malformed value
        with pytest.raises(ConcatenatedJsonError):
            split_concatenated_json('{"a":1} {bad} {"b":2}')

    def test_permissive_keeps_prefix(self):
        out = split_concatenated_json('{"a":1} {bad}', strict=False)
        assert out == ['{"a":1}']

    def test_large_int_precision(self):
        # A4 caveat: Go decodes to float64 and loses precision above
        # 2^53; Python's json keeps ints exact — documented improvement.
        out = split_concatenated_json("9007199254740993")
        assert out == ["9007199254740993"]

    def test_empty_input(self):
        assert split_concatenated_json("  \n ") == []


class TestFileSources:
    def test_read_lines_edge_cases(self, spark, tmp_path):
        # A3 corpus: \n and \r\n terminators, empty lines dropped,
        # final line without terminator kept.
        p = tmp_path / "log.txt"
        p.write_bytes(b"one\r\ntwo\n\nthree")
        df = read_lines(spark, str(p))
        assert sorted(r.value for r in df.collect()) == ["one", "three", "two"]

    def test_read_concatenated_json_file(self, spark, tmp_path):
        p = tmp_path / "values.json"
        p.write_text('{"a": 1}{"b": [1,2]} 7 null "x"')
        df = read_concatenated_json(spark, str(p))
        vals = sorted(r.value for r in df.collect())
        assert vals == sorted(['{"a":1}', '{"b":[1,2]}', "7", '"x"'])


class TestApacheAccessLogPath:
    """Entry point 2 end-to-end shape: JSON access records parse to the
    A1 schema via from_json (README.md:13-20)."""

    def test_access_record_typed_parse(self, spark):
        from pyspark.sql import functions as F

        rec = {
            "ClientAddress": "203.0.113.7",
            "RequestLine": "GET /index.html HTTP/1.1",
            "RequestTimeMicroseconds": 1523,
            "ResponseBodySize": 4096,
            "Status": 200,
            "StartTime": "2026-08-13T10:15:30.123456Z",
        }
        df = spark.createDataFrame([(json.dumps(rec),)], "value string")
        schema = (
            "ClientAddress string, RequestLine string, "
            "RequestTimeMicroseconds long, ResponseBodySize long, "
            "Status int, StartTime string"
        )
        parsed = df.select(F.from_json("value", schema).alias("r")).select("r.*")
        row = parsed.first()
        assert row.Status == 200
        assert row.RequestTimeMicroseconds == 1523
        method = parsed.select(
            F.regexp_extract("RequestLine", r"^(\S+)", 1).alias("m")
        ).first()
        assert method.m == "GET"

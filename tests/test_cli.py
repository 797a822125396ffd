"""CLI-parity tests (C1-C3: flags, validation, exit codes, dispatch)."""

from __future__ import annotations

import io
import tempfile
import types

import pytest

from kinesis_log_streamer_spark import cli


class TestParsing:
    def test_defaults(self):
        args = cli.build_parser().parse_args(["Stream"])
        assert args.format == "line"
        assert args.output_format == "auto"
        assert args.output_key == "LogEntry"
        assert args.delivery == "at_least_once"

    def test_delivery_flag(self):
        args = cli.build_parser().parse_args(
            ["--delivery", "at_most_once", "Stream"]
        )
        assert args.delivery == "at_most_once"
        with pytest.raises(SystemExit):
            cli.build_parser().parse_args(["--delivery", "exactly_once", "s"])

    def test_auto_resolution(self):
        # C2: main.go:93-99
        assert cli.resolve_output_format("json", "auto") == "json"
        assert cli.resolve_output_format("line", "auto") == "string"
        assert cli.resolve_output_format("line", "json") == "json"

    def test_invalid_format_exits_2(self, capsys):
        with pytest.raises(SystemExit) as e:
            cli.build_parser().parse_args(["-f", "xml", "s"])
        assert e.value.code == 2

    def test_missing_stream_name_exits_2(self):
        assert cli.main([]) == 2

    def test_multiple_stream_names_exit_2(self):
        assert cli.main(["a", "b"]) == 2

    def test_add_entry_requires_equals(self):
        parser = cli.build_parser()
        with pytest.raises(SystemExit) as e:
            cli.parse_entries(["nokey"], parser)
        assert e.value.code == 2

    def test_add_entry_duplicate_key_rejected(self):
        # main.go:115-118
        parser = cli.build_parser()
        with pytest.raises(SystemExit) as e:
            cli.parse_entries(["k=1", "k=2"], parser)
        assert e.value.code == 2

    def test_add_entry_value_may_contain_equals(self):
        parser = cli.build_parser()
        assert cli.parse_entries(["k=a=b"], parser) == {"k": "a=b"}


def _stdin(data: bytes) -> io.TextIOWrapper:
    """A bytes-backed sys.stdin stand-in (the CLI reads ``.buffer``)."""
    return io.TextIOWrapper(io.BytesIO(data))


class _ChunkedStdin:
    """sys.stdin stand-in whose text ``read()`` refuses (the input must
    never be slurped) and whose ``.buffer.read1`` yields byte chunks."""

    def __init__(self, chunks: list[bytes]) -> None:
        self.buffer = types.SimpleNamespace(
            read1=lambda n: chunks.pop(0) if chunks else b""
        )

    def read(self, *args):
        raise AssertionError("sys.stdin.read() slurped the whole input")


def _records(out: str) -> list[str]:
    return [line.split("\t", 1)[1] for line in out.strip().splitlines()]


class TestDryRunEndToEnd:
    def test_line_json_pipeline(self, spark, monkeypatch, capsys):
        # entry point 3: error-log shape (httpd.conf:182); S2 CRLF
        # strip, F1 empty-line drop, unterminated last line kept
        monkeypatch.setattr("sys.stdin", _stdin(b"warn: x\r\n\nerror: y"))
        rc = cli.main(
            ["-F", "json", "-I", "LogFile=HTTPErrorLog", "--dry-run", "Test"]
        )
        assert rc == 0
        out = capsys.readouterr().out.strip().splitlines()
        assert len(out) == 2
        assert all("\t" in line for line in out)
        assert '"LogFile":"HTTPErrorLog"' in out[0]
        assert sorted(line.split("\t", 1)[1] for line in out) == [
            '{"LogEntry":"error: y","LogFile":"HTTPErrorLog"}',
            '{"LogEntry":"warn: x","LogFile":"HTTPErrorLog"}',
        ]

    def test_json_pipeline(self, spark, monkeypatch, capsys):
        monkeypatch.setattr("sys.stdin", _stdin(b'{"a":"1"} null 42'))
        rc = cli.main(["-f", "json", "-I", "Tag=T", "--dry-run", "Test"])
        assert rc == 0
        out = capsys.readouterr().out.strip().splitlines()
        # null skipped; object enriched; scalar passed through
        assert len(out) == 2
        assert any('"Tag":"T"' in line for line in out)
        assert any(line.endswith("\t42") for line in out)


class TestOneIngestPath:
    def test_stdin_streams_in_chunks_with_or_without_flag(
        self, spark, monkeypatch, capsys
    ):
        # one record split across two chunks, one CRLF, one empty line
        for flags in ([], ["--streaming"]):
            monkeypatch.setattr(
                "sys.stdin", _ChunkedStdin([b"alp", b"ha\r\n\nbe", b"ta\n"])
            )
            assert cli.main([*flags, "--dry-run", "S"]) == 0
            got = sorted(_records(capsys.readouterr().out))
            assert got == ["alpha", "beta"], flags

    def test_work_dir_removed_after_run(self, spark, monkeypatch, tmp_path):
        # the spool holds a copy of the input: it must not outlive the
        # run, whether the run succeeds or fails
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        monkeypatch.setattr("sys.stdin", _stdin(b"ok\nfine\n"))
        assert cli.main(["--dry-run", "-F", "json", "S"]) == 0
        assert list(tmp_path.glob("klss-spool-*")) == []
        monkeypatch.setattr("sys.stdin", _stdin(b'{"ok": 1} {"unterminated'))
        assert cli.main(["--dry-run", "-f", "json", "S"]) == 1
        assert list(tmp_path.glob("klss-spool-*")) == []


class TestHostId:
    def test_uuid_fallback_format(self):
        from kinesis_log_streamer_spark import hostid

        uid = hostid._random_uuid()
        assert uid.startswith("uuid:") and len(uid) == 5 + 32

    def test_memoized(self):
        from kinesis_log_streamer_spark.hostid import get_host_id

        assert get_host_id() == get_host_id()

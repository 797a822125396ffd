"""Traced launcher for the ingest workloads: the real CLI, with spans
around the public functions of each layer.

Usage: ``python3 perfbench/traced_cli.py OUT.json -- <cli arguments>``

It wraps ``session.get_spark``, the CLI's ``get_host_id``,
``StdinSpooler.run``/``_land`` and the spooler's reads,
``drain_and_stop`` and ``KinesisSink.write_batch``, registers a
``StreamingQueryListener`` for the per-batch progress breakdown, then
calls ``cli.main``.  Spans, progress events and spooler counts are kept
in memory and written to ``OUT.json`` when the CLI returns.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer  # noqa: E402


class _TimedReader:
    """Wraps the spooler's byte stream; each read is a ``spool.read`` span."""

    def __init__(self, stream, tracer: Tracer) -> None:
        self._stream = stream
        self._tracer = tracer

    def read1(self, n: int) -> bytes:
        sid = self._tracer.begin("spool.read")
        try:
            return self._stream.read1(n)
        finally:
            self._tracer.end(sid)


def main() -> int:
    out_path = sys.argv[1]
    cli_args = sys.argv[sys.argv.index("--") + 1:]
    tracer = Tracer(os.environ.get("PERFBENCH_RUN_ID", "run"))
    progress: list[dict] = []
    spoolers: list = []

    from pyspark.sql.streaming import StreamingQueryListener

    from kinesis_log_streamer_spark import cli, session
    from kinesis_log_streamer_spark.streaming import kinesis_sink, stdin_spool

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            progress.append({
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    get_spark = session.get_spark

    def traced_get_spark(*args, **kwargs):
        sid = tracer.begin("session.start")
        try:
            spark = get_spark(*args, **kwargs)
        finally:
            tracer.end(sid)
        spark.streams.addListener(Progress())
        return spark

    session.get_spark = traced_get_spark
    cli.get_host_id = tracer.wrap("hostid", cli.get_host_id)

    spooler_cls = stdin_spool.StdinSpooler
    init = spooler_cls.__init__

    def traced_init(self, stream, *args, **kwargs):
        init(self, _TimedReader(stream, tracer), *args, **kwargs)
        spoolers.append(self)

    spooler_cls.__init__ = traced_init
    spooler_cls.run = tracer.wrap("spool.run", spooler_cls.run)
    spooler_cls._land = tracer.wrap("spool.land", spooler_cls._land)
    stdin_spool.drain_and_stop = tracer.wrap(
        "spool.drain", stdin_spool.drain_and_stop)
    kinesis_sink.KinesisSink.write_batch = tracer.wrap(
        "sink.write_batch", kinesis_sink.KinesisSink.write_batch)

    try:
        rc = cli.main(cli_args)
    finally:
        with open(out_path, "w") as fh:
            json.dump({
                "spans": tracer.spans,
                "progress": progress,
                "spool": [{"records": s.n_records, "files": s.n_files}
                          for s in spoolers],
            }, fh)
    return rc


if __name__ == "__main__":
    sys.exit(main())

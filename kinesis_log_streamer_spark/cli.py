"""CLI mirroring the reference's option surface (C1-C3, main.go:62-171).

Same flags, same validation, same exit codes:

* ``-f/--format {line,json}``       input format (default line)
* ``-F/--output-format {auto,json,string}`` (default auto; auto→json
  for json input, →string for line input — C2, main.go:93-99)
* ``-k/--output-key KEY``           wrap key (default LogEntry)
* ``-I/--add-entry K=V``            repeatable static entries; ``=``
  required, duplicate keys rejected (main.go:103-122)
* ``-r/--region`` / ``-p/--profile`` AWS session config (C3)
* exactly one positional stream name (main.go:124-136)
* usage errors → exit 2 with usage on stderr (main.go:22-55)

Data path (one, always streaming — :func:`run_streaming`): stdin's
bytes in 64 KiB chunks → landing-dir spool of complete records →
``readStream`` micro-batches → transform/enrich → partition-key stamp
(the driver's host identity, linestreamer.go:102) → Kinesis sink (or
``--dry-run`` → records to stdout).  ``--streaming`` is accepted and
ignored.
"""

from __future__ import annotations

import argparse
import sys
from collections.abc import Sequence

from kinesis_log_streamer_spark.hostid import get_host_id

# The micro-batch trigger is the flush-on-idle cadence
# (basestreamer.go:42-46); the per-trigger file cap is the reference's
# bounded cap-5 channel (linestreamer.go:37).
TRIGGER_MS = 500
MAX_FILES_PER_TRIGGER = 5


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="kinesis-log-streamer-spark",
        description="Stream log entries from stdin to Kinesis via Spark.",
    )
    p.add_argument("-f", "--format", choices=["line", "json"], default="line")
    p.add_argument(
        "-F",
        "--output-format",
        choices=["auto", "json", "string"],
        default="auto",
    )
    p.add_argument("-k", "--output-key", default="LogEntry")
    p.add_argument(
        "-I",
        "--add-entry",
        action="append",
        default=[],
        metavar="KEY=VALUE",
    )
    p.add_argument("-r", "--region", default=None)
    p.add_argument("-p", "--profile", default=None)
    p.add_argument("--dry-run", action="store_true", help="print records instead of Kinesis")
    p.add_argument(
        "--delivery",
        choices=["at_least_once", "at_most_once"],
        default="at_least_once",
        help=(
            "delivery guarantee: at_least_once retries failed records "
            "(engine default); at_most_once is strict reference parity "
            "— one PutRecords call, no retry, log-and-drop "
            "(basestreamer.go:64-87)"
        ),
    )
    # Accepted for compatibility: stdin always streams through the spool.
    p.add_argument("--streaming", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("stream_name", nargs="*")
    return p


def parse_entries(pairs: list[str], parser: argparse.ArgumentParser) -> dict[str, str]:
    """--add-entry validation: '=' required, duplicate keys rejected
    (main.go:103-122)."""
    entries: dict[str, str] = {}
    for pair in pairs:
        if "=" not in pair:
            parser.exit(2, f"invalid --add-entry (missing '='): {pair}\n")
        k, v = pair.split("=", 1)
        if k in entries:
            parser.exit(2, f"duplicate --add-entry key: {k}\n")
        entries[k] = v
    return entries


def resolve_output_format(fmt: str, output_format: str) -> str:
    """C2: auto → json for json input, string for line input
    (main.go:93-99)."""
    if output_format != "auto":
        return output_format
    return "json" if fmt == "json" else "string"


def run_streaming(args, entries, output_format, stream) -> int:
    """The CLI's data path: chunked ``stream`` (stdin's bytes) →
    landing-dir spool → ``readStream`` → line/JSON pipeline → sink,
    with bounded per-trigger intake and idle-stop on EOF (C1 parity
    with the reference's never-EOF pipe deployment).

    The full input is NEVER held in one string: the spooler carries at
    most one 64 KiB chunk plus one partial record
    (`streaming/stdin_spool.py`), and the query pulls at most
    ``MAX_FILES_PER_TRIGGER`` landed files per micro-batch.  The work
    directory (spool and checkpoint) is removed once the query has
    stopped, success or not."""
    import os
    import shutil
    import tempfile

    from kinesis_log_streamer_spark.session import get_spark
    from kinesis_log_streamer_spark.streaming.pipeline import (
        build_json_pipeline,
        build_line_pipeline,
        run_stream,
    )
    from kinesis_log_streamer_spark.streaming.stdin_spool import (
        StdinSpooler,
        drain_and_stop,
    )

    spark = get_spark("kinesis-log-streamer-cli")
    work = tempfile.mkdtemp(prefix="klss-spool-")
    try:
        landing = os.path.join(work, "landing")
        os.makedirs(landing)
        host_id = get_host_id(probe_network=not args.dry_run)
        # cleanSource=delete: processed spool files are removed on later
        # triggers, so a never-EOF pipe (the Apache CustomLog deployment)
        # keeps both the landing dir and the source's file listing
        # bounded instead of growing for the life of the process.
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
            .option("cleanSource", "delete")
            .load(landing)
        )
        if args.format == "json":
            # landing files are JSONL: one complete JSON value per line
            records = build_json_pipeline(raw, entries, host_id)
        else:
            records = build_line_pipeline(
                raw, output_format, args.output_key, entries, host_id
            )

        if args.dry_run:

            class _StdoutSink:
                def write_batch(self, df, epoch_id):
                    for row in df.collect():
                        print(f"{row['partitionKey']}\t{row['data']}")

            sink = _StdoutSink()
        else:
            from kinesis_log_streamer_spark.streaming.kinesis_sink import (
                KinesisSink,
            )

            sink = KinesisSink(
                args.stream_name[0],
                region=args.region,
                profile=args.profile,
                delivery=args.delivery,
            )

        spooler = StdinSpooler(stream, landing, fmt=args.format)
        query = run_stream(
            records,
            sink,
            os.path.join(work, "ckpt"),
            available_now=False,
            processing_time=f"{TRIGGER_MS} milliseconds",
        )
        try:
            spooler.start_thread()
            drain_and_stop(
                query, spooler, trigger_interval_s=TRIGGER_MS / 1000
            )
        finally:
            if query.isActive:
                query.stop()
    finally:
        # The path is random per run, so nothing can resume from this
        # checkpoint; and cleanSource deletes a landed file only on a
        # LATER trigger, so the last batch's records would otherwise
        # outlive the run on disk.
        shutil.rmtree(work, ignore_errors=True)
    if spooler.error is not None:
        print(f"stdin spool failed: {spooler.error}", file=sys.stderr)
        return 1
    return 0


def main(argv: Sequence[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if len(args.stream_name) != 1:
        parser.print_usage(sys.stderr)
        return 2
    entries = parse_entries(args.add_entry, parser)
    output_format = resolve_output_format(args.format, args.output_format)
    return run_streaming(args, entries, output_format, sys.stdin.buffer)


if __name__ == "__main__":
    sys.exit(main())

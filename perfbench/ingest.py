"""The two ingest workloads: the real CLI as a subprocess, stdin fed by
this process, writing to the local endpoint (``endpoint.py``).

``ingest-line-bulk``   a seeded backlog of access-log lines, written as
                       fast as the pipe takes them (``cat log | cli``).
``ingest-json-trickle`` open-loop concatenated JSON, one ``write()`` per
                       record, on a doubling rate ladder.
"""

from __future__ import annotations

import bisect
import json
import os
import re
import subprocess
import sys
import threading
import time

import common
import expect
import gen
import spans as spans_mod

ENTRIES = {"LogFile": "HTTPAccessLog", "Host": "web01"}
OUTPUT_KEY = "LogEntry"
REJECT_MOD = 10
# Trickle latency limit: a ladder step whose backlog exceeds
# rate * LATENCY_LIMIT_S records (a wait above the limit) has grown.
LATENCY_LIMIT_S = 2.0
# The first step's records (4 rec/s, well below the ~8 rec/s one-record
# writes reach) give the latency figure.
LADDER_START, LADDER_CAP = 4, 1024
SETTLE_S = 4.0  # at the ladder's first rate, before the ladder starts
# Two micro-batches' intake at the CLI's default --max-files-per-trigger
# (5) with one record per file: a backlog this deep keeps batches full.
SATURATED = 10
BULK_LINES_PER_SECOND = 2400  # bulk volume = this many lines per --seconds
WRITE_CHUNK = 65536
CLI_TIMEOUT_S = 150
_LINE_ID = re.compile(r"/r/(\d+)\?")


class Endpoint:
    """The endpoint process and the stream of events it reports."""

    def __init__(self, run_dir: str, env: dict, task_arn: str) -> None:
        self._err = open(os.path.join(run_dir, "endpoint.err"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(common.BENCH, "endpoint.py"),
             "--reject-mod", str(REJECT_MOD), "--task-arn", task_arn],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._err,
            env=env, text=True, cwd=run_dir)
        self.urls = json.loads(self.proc.stdout.readline())
        self.accepted: list[tuple[float, str]] = []  # (arrival, payload)
        self.calls: list[dict] = []  # one per accepted PutRecords forward
        self.puts: list[dict] = []  # one per PutRecords request
        self.rejected = 0
        self.first = threading.Event()
        self._lock = threading.Lock()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            ev = json.loads(line)
            with self._lock:
                if "data" in ev:
                    self.accepted.extend((ev["t"], d) for d in ev["data"])
                    self.calls.append({"t": ev["t"], "ms": ev["ms"],
                                       "n": len(ev["data"]),
                                       "bytes": sum(len(d) for d in ev["data"])})
                    self.first.set()
                else:
                    self.puts.append(ev)
                    self.rejected = max(self.rejected, ev["rejected_total"])

    def processed(self) -> int:
        """Records the endpoint has answered: accepted plus throttled."""
        with self._lock:
            return len(self.accepted) + self.rejected

    def client(self):
        import boto3

        return boto3.client("kinesis", endpoint_url=self.urls["moto"],
                            region_name="us-east-1",
                            aws_access_key_id="testing",
                            aws_secret_access_key="testing")

    def stop(self) -> float:
        """Close the endpoint; returns its CPU seconds."""
        cpu = common.cpu_seconds(self.proc.pid)
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self._reader.join(timeout=5)
        self._err.close()
        return cpu


def _read_back(client, stream: str) -> list[tuple[str, str]]:
    """Every record in the stream as (payload, partition key), read
    straight from moto, past the proxy."""
    out = []
    for shard in client.list_shards(StreamName=stream)["Shards"]:
        it = client.get_shard_iterator(
            StreamName=stream, ShardId=shard["ShardId"],
            ShardIteratorType="TRIM_HORIZON")["ShardIterator"]
        while it:
            resp = client.get_records(ShardIterator=it, Limit=10000)
            out.extend((r["Data"].decode(), r["PartitionKey"])
                       for r in resp["Records"])
            if not resp["Records"] and resp.get("MillisBehindLatest", 0) == 0:
                break
            it = resp.get("NextShardIterator")
    return out


def _cli_cmd(fmt_args: list[str], stream: str, trace_out: str | None) -> list[str]:
    args = ["--streaming", *fmt_args]
    for k, v in ENTRIES.items():
        args += ["-I", f"{k}={v}"]
    args.append(stream)
    if trace_out:
        return [sys.executable, os.path.join(common.BENCH, "traced_cli.py"),
                trace_out, "--", *args]
    return [sys.executable, "-m", "kinesis_log_streamer_spark.cli", *args]


class _Run:
    """One CLI run against a fresh stream on a fresh endpoint."""

    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.dir = common.make_run_dir(workload, seed)
        self.env = common.run_env(self.dir)
        self.task_arn = f"arn:aws:ecs:us-east-1:000000000000:task/perfbench/{seed:08x}"
        self.trace_out = os.path.join(self.dir, "trace.json") if trace else None
        self.sampler = common.TreeSampler()
        self.sampler.start()
        self.cli: subprocess.Popen | None = None
        try:
            self.endpoint = Endpoint(self.dir, self.env, self.task_arn)
            self.client = self.endpoint.client()
            self.stream = f"perfbench-{seed}"
            self.client.create_stream(StreamName=self.stream, ShardCount=1)
            self.client.get_waiter("stream_exists").wait(
                StreamName=self.stream, WaiterConfig={"Delay": 0.1})
        except BaseException:
            if hasattr(self, "endpoint"):
                self.endpoint.stop()
            raise

    def launch(self, fmt_args: list[str]) -> float:
        env = dict(self.env,
                   AWS_ENDPOINT_URL=self.endpoint.urls["kinesis"],
                   ECS_CONTAINER_METADATA_URI_V4=self.endpoint.urls["metadata"],
                   PERFBENCH_RUN_ID=os.path.basename(self.dir))
        self._cli_err = open(os.path.join(self.dir, "cli.err"), "w")
        t0 = time.time()
        self.cli = subprocess.Popen(
            _cli_cmd(fmt_args, self.stream, self.trace_out),
            stdin=subprocess.PIPE, stdout=subprocess.DEVNULL,
            stderr=self._cli_err, env=env, cwd=self.dir, bufsize=0)
        self.sampler.target = self.cli.pid
        return t0

    def wait_cli(self) -> float:
        try:
            self.cli.wait(timeout=CLI_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            self.cli.kill()
            self.cli.wait()
        t_exit = time.time()
        common.reap_tree(self.sampler.target_tree - {self.cli.pid})
        self._cli_err.close()
        return t_exit

    def finish(self) -> dict:
        """Read the stream back, delete it, stop the endpoint."""
        delivered = _read_back(self.client, self.stream)
        self.client.delete_stream(StreamName=self.stream)
        endpoint_cpu = self.endpoint.stop()
        host = self.sampler.stop()
        return {"delivered": delivered, "endpoint_cpu_s": endpoint_cpu, **host}

    def close(self) -> None:
        import shutil

        if self.cli is not None and self.cli.poll() is None:
            self.cli.kill()
            self.cli.wait()
        if self.endpoint.proc.poll() is None:
            self.endpoint.stop()
        shutil.rmtree(self.dir, ignore_errors=True)


def _check(expected: list[str], delivered: list[tuple[str, str]],
           task_arn: str) -> dict:
    cmp = expect.compare(expected, [d for d, _ in delivered])
    cmp["wrong_key"] = sum(1 for _, k in delivered if k != task_arn)
    return cmp


def _ingest_layers(trace_path: str | None, endpoint: Endpoint) -> dict:
    """Per-layer figures of one traced ingest run."""
    calls, puts = endpoint.calls, endpoint.puts
    out = {
        "sink.put_calls": len(puts),
        "sink.records_per_call": (sum(p["put"] for p in puts) / len(puts)) if puts else 0.0,
        "sink.put_ms_p50": expect.median([c["ms"] for c in calls]) if calls else 0.0,
        "sink.bytes": sum(c["bytes"] for c in calls),
        "sink.throttled": endpoint.rejected,
        "sink.retried": sum(p["retried"] for p in puts),
    }
    if not trace_path or not os.path.exists(trace_path):
        return out
    with open(trace_path) as fh:
        t = json.load(fh)
    sp = t["spans"]
    selfs = spans_mod.self_times(sp)
    run_end = max((s["end"] for s in sp if s["name"] == "spool.run" and s["end"]), default=None)
    drain_end = max((s["end"] for s in sp if s["name"] == "spool.drain" and s["end"]), default=None)
    spool = t["spool"][0] if t["spool"] else {"records": 0, "files": 0}
    data = [p for p in t["progress"] if p["rows"] > 0]

    def p50(key: str) -> float:
        vals = [p["duration_ms"].get(key, 0) for p in data]
        return expect.median(vals) if vals else 0.0

    out.update({
        "session.start_s": spans_mod.total_time(sp, "session.start"),
        "hostid.s": spans_mod.total_time(sp, "hostid"),
        "spool.records": spool["records"],
        "spool.files": spool["files"],
        "spool.records_per_file": spool["records"] / spool["files"] if spool["files"] else 0.0,
        "spool.read_wait_s": spans_mod.total_time(sp, "spool.read"),
        "spool.busy_s": selfs.get("spool.run", 0.0),
        "spool.drain_s": (drain_end - run_end) if run_end and drain_end else 0.0,
        "stream.batches": len(data),
        "stream.rows_per_batch_p50": expect.median([p["rows"] for p in data]) if data else 0.0,
        "stream.trigger_ms_p50": p50("triggerExecution"),
        "stream.latest_offset_ms_p50": p50("latestOffset"),
        "stream.planning_ms_p50": p50("queryPlanning"),
        "stream.wal_commit_ms_p50": p50("walCommit"),
        "stream.add_batch_ms_p50": p50("addBatch"),
        "sink.epochs": sum(1 for s in sp if s["name"] == "sink.write_batch"),
        "sink.write_batch_s": spans_mod.total_time(sp, "sink.write_batch"),
    })
    return out


def call_rate(calls: list[dict]) -> float:
    """Records per second between the first and last PutRecords call.

    The first call's records arrived before the span starts, so they are
    not counted; what is left is the rate the calls after it sustained."""
    calls = sorted(calls, key=lambda c: c["t"])
    span = calls[-1]["t"] - calls[0]["t"]
    return sum(c["n"] for c in calls[1:]) / span


def drain_rate(puts: list[dict], written: list[float], since: float) -> float:
    """Records per second the CLI hands to the endpoint while a backlog
    waits: :func:`call_rate` over the PutRecords requests (accepted and
    throttled records alike) made after ``since`` with at least
    ``SATURATED`` written records not yet answered.  ``written`` holds
    the write times of the records that reach the endpoint."""
    done, saturated = 0, []
    for p in sorted(puts, key=lambda p: p["t"]):
        waiting = bisect.bisect_right(written, p["t"]) - done
        if p["t"] >= since and waiting >= SATURATED:
            saturated.append({"t": p["t"], "n": p["put"]})
        done += p["put"]
    if len(saturated) < 2:  # never saturated: the span is the step's
        saturated = [{"t": p["t"], "n": p["put"]} for p in puts if p["t"] >= since]
    return call_rate(saturated)


def run_bulk(seed: int, seconds: int, trace: bool) -> dict:
    n_lines = BULK_LINES_PER_SECOND * seconds
    raw = gen.access_log_lines(seed, n_lines)
    expected = expect.expected_line_records(raw, OUTPUT_KEY, ENTRIES)
    # byte offset just past each line, by line id, for write stamps
    ends, pos = {}, 0
    for line in raw.split(b"\n")[:-1]:
        pos += len(line) + 1
        m = _LINE_ID.search(line.decode("utf-8", "replace"))
        if m:
            ends[int(m.group(1))] = pos
    run = _Run("ingest-line-bulk", seed, trace)
    try:
        t0 = run.launch(["-f", "line", "-F", "json"])
        chunk_done: list[tuple[int, float]] = []  # (end offset, time)
        fd = run.cli.stdin.fileno()
        for off in range(0, len(raw), WRITE_CHUNK):
            view = memoryview(raw)[off:off + WRITE_CHUNK]
            while view:
                view = view[os.write(fd, view):]
            chunk_done.append((off + WRITE_CHUNK, time.time()))
        run.cli.stdin.close()
        t_exit = run.wait_cli()
        res = run.finish()
        acc = run.endpoint.accepted
        layers = _ingest_layers(run.trace_out, run.endpoint)
    finally:
        run.close()

    check = _check(expected, res["delivered"], run.task_arn)
    arrivals = sorted(t for t, _ in acc)
    calls = sorted(run.endpoint.calls, key=lambda c: c["t"])
    cpu = [(t0, 0.0)] + run.sampler.series
    span_cpu = common.cpu_at(cpu, calls[-1]["t"]) - common.cpu_at(cpu, calls[0]["t"])
    lat = []
    for t, data in acc:
        m = _LINE_ID.search(json.loads(data)[OUTPUT_KEY])
        end = ends[int(m.group(1))]
        stamp = next(ts for e, ts in chunk_done if e >= end)
        lat.append((t - stamp) * 1000.0)
    return {
        "attempted": len(expected),
        "failed": check["missing"] + check["unexpected"] + check["duplicates"] + check["wrong_key"],
        "e2e": {
            "setup_s": common.cpu_at(cpu, arrivals[0]),
            # the call_rate records per CPU-second of the CLI tree
            "throughput_per_cpu_s": sum(c["n"] for c in calls[1:]) / span_cpu,
            "wall_s": t_exit - t0,
            "setup_wall_s": arrivals[0] - t0,
            "throughput_per_s": call_rate(calls),
            "latency_ms": expect.median(lat),
        },
        "layers": {**layers, "endpoint.cpu_s": res["endpoint_cpu_s"],
                   "gen.late_ms_max": 0.0,
                   "host.external_cpu_s": res["external_cpu_s"],
                   "mem.peak_pss_mb": res["peak_pss_mb"]},
        "details": {"check": check, "lines": n_lines, "bytes": len(raw),
                    "latency_p90_ms": expect.percentile(lat, 90),
                    "latency_samples": len(lat)},
    }


def run_trickle(seed: int, seconds: int, trace: bool) -> dict:
    step_s = float(seconds)
    run = _Run("ingest-json-trickle", seed, trace)
    values: list[object] = []
    steps: list[dict] = []
    late_max = 0.0
    try:
        t0 = run.launch(["-f", "json", "--delivery", "at_most_once"])
        fd = run.cli.stdin.fileno()
        written: list[float] = []  # write times of non-null records

        def send(due: float) -> None:
            nonlocal late_max
            now = time.time()
            if now < due:
                time.sleep(due - now)
            v = gen.trickle_value(seed, len(values) + 1, due)
            os.write(fd, gen.trickle_bytes(v))
            late_max = max(late_max, time.time() - due)
            values.append(v)
            if v is not None:
                written.append(time.time())

        send(time.time())  # warm-up record; the ladder starts once it lands
        if not run.endpoint.first.wait(CLI_TIMEOUT_S):
            raise RuntimeError("no record accepted before the timeout")
        first_t = min(t for t, _ in run.endpoint.accepted)
        # unmeasured: the first micro-batches after set-up still run
        # slower while the JVM warms up
        settle = time.time()
        for k in range(int(SETTLE_S * LADDER_START)):
            send(settle + k / LADDER_START)
        for rate in expect.ladder(LADDER_START, LADDER_CAP):
            start = time.time()
            first_id = len(values) + 1
            grew = False
            for k in range(int(rate * step_s)):
                send(start + k / rate)
                if k < rate * LATENCY_LIMIT_S:
                    continue  # the previous step's records may still be in flight
                backlog = len(written) - run.endpoint.processed()
                if expect.backlog_grew(rate, backlog, LATENCY_LIMIT_S):
                    grew = True
                    break
            steps.append({"rate": rate, "start": start, "first_id": first_id,
                          "last_id": len(values), "grew": grew})
            if grew:
                break
        run.cli.stdin.close()
        t_exit = run.wait_cli()
        res = run.finish()
        acc = run.endpoint.accepted
        puts = run.endpoint.puts
        layers = _ingest_layers(run.trace_out, run.endpoint)
    finally:
        run.close()

    expected_all = expect.expected_json_records(values, ENTRIES)
    survivors = [r for r in expected_all if not expect.throttled(r, REJECT_MOD)]
    check = _check(survivors, res["delivered"], run.task_arn)
    check["throttled"] = layers["sink.throttled"]
    check["throttled_expected"] = len(expected_all) - len(survivors)

    by_id = {}
    for t, data in acc:
        event_id, created = gen.trickle_stamp(json.loads(data))
        by_id[event_id] = (t, created)

    def step_records(step):
        return [by_id[i] for i in range(step["first_id"], step["last_id"] + 1) if i in by_id]

    cpu = [(t0, 0.0)] + run.sampler.series
    ladder_puts = sorted((p for p in puts if p["t"] >= steps[0]["start"]), key=lambda p: p["t"])
    ladder_cpu = (common.cpu_at(cpu, ladder_puts[-1]["t"])
                  - common.cpu_at(cpu, steps[0]["start"]))
    lat = [(t - c) * 1000.0 for t, c in step_records(steps[0])]
    for s in steps:
        recs = step_records(s)
        s["accepted"] = len(recs)
        s["latency_p50_ms"] = expect.median([(t - c) * 1000.0 for t, c in recs]) if recs else None
    return {
        "attempted": len(expected_all),
        "failed": (check["missing"] + check["unexpected"] + check["duplicates"]
                   + check["wrong_key"]
                   + abs(check["throttled"] - check["throttled_expected"])),
        "e2e": {
            "setup_s": common.cpu_at(cpu, first_t),
            # records the endpoint answered (accepted or throttled) per
            # CPU-second of the CLI tree, from the ladder's start to its
            # last PutRecords request
            "throughput_per_cpu_s": sum(p["put"] for p in ladder_puts) / ladder_cpu,
            "wall_s": t_exit - t0,
            "setup_wall_s": first_t - t0,
            "throughput_per_s": drain_rate(puts, written, steps[-1]["start"]),
            "latency_ms": expect.median(lat),
        },
        "layers": {**layers, "endpoint.cpu_s": res["endpoint_cpu_s"],
                   "gen.late_ms_max": late_max * 1000.0,
                   "host.external_cpu_s": res["external_cpu_s"],
                   "mem.peak_pss_mb": res["peak_pss_mb"]},
        "details": {"check": check, "records": len(values),
                    "sustained_rps": expect.sustained_rate(steps),
                    "latency_samples": len(lat),
                    "steps": [{k: s[k] for k in ("rate", "grew", "accepted", "latency_p50_ms")}
                              for s in steps]},
    }

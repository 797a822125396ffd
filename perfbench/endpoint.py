"""Local Kinesis-compatible endpoint for the ingest workloads.

Runs in its own process so its CPU time can be measured apart from the
program under test and the load generator:

* a moto server (the Kinesis API),
* ``ThrottlingKinesisProxy`` in front of it, which throttles every object
  record whose ``event_id % reject_mod == 0``, and
* a container-metadata stub serving ``/task``, so the CLI's host-identity
  cascade resolves at its first level without leaving the host.

The proxy is subclassed only to observe: each PutRecords request is
reported on stdout as one JSON line (records offered, records seen
before, throttled so far), and so is each forward that moto accepts (the
arrival time, the call's duration and the accepted payloads).  The
parent reads these lines as they come.

Run: ``python3 perfbench/endpoint.py --reject-mod 10 --task-arn ARN``.
The first stdout line is ``{"kinesis": URL, "moto": URL, "metadata": URL}``;
the process exits when its stdin closes.
"""

from __future__ import annotations

import argparse
import base64
import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from moto.server import ThreadedMotoServer

from kinesis_log_streamer_spark.sources.throttle_proxy import (
    ThrottlingKinesisProxy,
)

_OUT_LOCK = threading.Lock()


def _emit(obj: dict) -> None:
    line = json.dumps(obj, separators=(",", ":"))
    with _OUT_LOCK:
        sys.stdout.write(line + "\n")
        sys.stdout.flush()


class ObservedProxy(ThrottlingKinesisProxy):
    def __init__(self, upstream_url: str, reject_mod: int) -> None:
        super().__init__(upstream_url, reject_mod=reject_mod)
        self._lock = threading.Lock()
        self._call = threading.local()  # per-request counts
        self._seen: set[str] = set()

    def _forward(self, path, headers, body):
        t0 = time.time()
        status, out, ctype = super()._forward(path, headers, body)
        if status == 200 and headers.get("X-Amz-Target", "").endswith(".PutRecords"):
            t1 = time.time()
            _emit({
                "t": t1,
                "ms": (t1 - t0) * 1000.0,
                "data": [base64.b64decode(r["Data"]).decode()
                         for r in json.loads(body)["Records"]],
            })
        return status, out, ctype

    def _reject(self, record: dict) -> bool:
        with self._lock:
            self._call.offered += 1
            self._call.retried += record["Data"] in self._seen
            self._seen.add(record["Data"])
        # The base rule calls ``payload.get``, which raises on a top-level
        # scalar or array; those are never throttled.
        try:
            payload = json.loads(base64.b64decode(record["Data"]))
        except ValueError:
            return False
        return isinstance(payload, dict) and super()._reject(record)

    def _handle(self, h) -> None:
        self._call.offered = self._call.retried = 0
        super()._handle(h)
        if self._call.offered:
            _emit({
                "t": time.time(),
                "put": self._call.offered,
                "retried": self._call.retried,
                "rejected_total": self.records_rejected,
            })


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reject-mod", type=int, default=10)
    ap.add_argument("--task-arn", required=True)
    args = ap.parse_args()

    moto = ThreadedMotoServer(ip_address="127.0.0.1", port=0, verbose=False)
    moto.start()
    host, port = moto.get_host_and_port()
    proxy = ObservedProxy(f"http://{host}:{port}", args.reject_mod)
    kinesis_url = proxy.start()

    task = json.dumps({"TaskARN": args.task_arn}).encode()

    class Metadata(BaseHTTPRequestHandler):
        def log_message(self, *a) -> None:
            pass

        def do_GET(self) -> None:  # noqa: N802 - http.server API
            body = task if self.path.rstrip("/").endswith("/task") else b"{}"
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    meta = ThreadingHTTPServer(("127.0.0.1", 0), Metadata)
    threading.Thread(target=meta.serve_forever, daemon=True).start()
    mhost, mport = meta.server_address[:2]
    _emit({
        "kinesis": kinesis_url,
        "moto": f"http://{host}:{port}",
        "metadata": f"http://{mhost}:{mport}",
    })
    try:
        sys.stdin.read()  # the parent closes stdin to stop us
    finally:
        meta.shutdown()
        meta.server_close()
        proxy.stop()
        moto.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

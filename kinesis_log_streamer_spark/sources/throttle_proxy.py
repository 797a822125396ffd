"""Wire-level PutRecords partial-failure injection: a loopback HTTP
proxy between a real boto3 client and a Kinesis-compatible endpoint
(the in-process moto server in tests/k09).

moto never produces per-record errors — its ``put_records`` either
accepts everything or raises a whole-call ValidationException — so the
reference's partial-failure branch (``FailedRecordCount > 0`` with
per-record ``ErrorCode``/``ErrorMessage``, basestreamer.go:76-83)
cannot be exercised against moto alone.  This proxy closes that gap AT
THE WIRE: it intercepts ``Kinesis_20131202.PutRecords`` requests,
withholds the records a deterministic rule rejects (JSON payloads with
``event_id % reject_mod == 0`` — :func:`throttled`, the one rule
that :class:`~.kinesis_source.ThrottlingDirKinesisClient` also calls,
so the k04/k09 oracles state the identical survivor set), forwards the
remainder upstream, and splices ``ProvisionedThroughputExceededException``
entries into the response at the withheld positions.  The producer
therefore sees a REAL throttled PutRecords response — serialized,
HTTP-transported, and parsed by botocore — while the withheld records
genuinely never reach the stream.

Every other request (CreateStream, ListShards, GetShardIterator,
GetRecords, ...) forwards verbatim.  Signature staleness from the body
rewrite is fine against moto, which does not validate SigV4.
"""

from __future__ import annotations

import base64
import json
import threading
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_HOP_HEADERS = {
    "host",
    "content-length",
    "connection",
    "accept-encoding",
    "expect",
    "transfer-encoding",
}

_THROTTLE_ENTRY = {
    "ErrorCode": "ProvisionedThroughputExceededException",
    "ErrorMessage": (
        "Rate exceeded for shard (simulated wire-level throttle)"
    ),
}


def throttled(data: bytes | str, reject_mod: int) -> bool:
    """The deterministic throttle rule shared by this proxy and
    :class:`~.kinesis_source.ThrottlingDirKinesisClient`: a record is
    rejected iff its payload is a JSON object whose ``event_id`` is an
    integer (not a JSON boolean) with ``event_id % reject_mod == 0``.
    Line-mode scalars, arrays, undecodable bytes and other ids pass."""
    try:
        payload = json.loads(data)
    except (TypeError, ValueError):
        return False
    eid = payload.get("event_id") if isinstance(payload, dict) else None
    return (
        isinstance(eid, int)
        and not isinstance(eid, bool)
        and eid % reject_mod == 0
    )


class ThrottlingKinesisProxy:
    """``start()`` returns the proxy's endpoint URL; point boto3's
    ``endpoint_url`` at it.  Runs a ThreadingHTTPServer so concurrent
    executor-side producers are each served."""

    def __init__(self, upstream_url: str, reject_mod: int = 10) -> None:
        self._upstream = upstream_url.rstrip("/")
        self._reject_mod = reject_mod
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self.put_records_calls = 0
        self.records_rejected = 0

    # -- lifecycle --------------------------------------------------------
    def start(self) -> str:
        proxy = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args) -> None:  # quiet
                pass

            def do_POST(self) -> None:  # noqa: N802 - http.server API
                proxy._handle(self)

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

    # -- plumbing ---------------------------------------------------------
    def _forward(self, path: str, headers, body: bytes) -> tuple[int, bytes, str]:
        fwd = {
            k: v
            for k, v in headers.items()
            if k.lower() not in _HOP_HEADERS
        }
        req = urllib.request.Request(
            self._upstream + path, data=body, headers=fwd, method="POST"
        )
        try:
            with urllib.request.urlopen(req) as resp:
                return (
                    resp.status,
                    resp.read(),
                    resp.headers.get(
                        "Content-Type", "application/x-amz-json-1.1"
                    ),
                )
        except urllib.error.HTTPError as err:  # upstream 4xx/5xx: relay
            return (
                err.code,
                err.read(),
                err.headers.get(
                    "Content-Type", "application/x-amz-json-1.1"
                ),
            )

    def _reject(self, record: dict) -> bool:
        try:
            data = base64.b64decode(record["Data"])
        except (ValueError, KeyError):
            return False
        return throttled(data, self._reject_mod)

    def _handle(self, h: BaseHTTPRequestHandler) -> None:
        length = int(h.headers.get("Content-Length", "0"))
        body = h.rfile.read(length)
        target = h.headers.get("X-Amz-Target", "")

        if not target.endswith(".PutRecords"):
            status, out, ctype = self._forward(h.path, h.headers, body)
            self._respond(h, status, out, ctype)
            return

        self.put_records_calls += 1
        req = json.loads(body)
        records = req.get("Records", [])
        keep_mask = [not self._reject(r) for r in records]
        kept = [r for r, keep in zip(records, keep_mask) if keep]
        self.records_rejected += len(records) - len(kept)

        if kept:
            fwd_body = json.dumps({**req, "Records": kept}).encode()
            status, out, ctype = self._forward(h.path, h.headers, fwd_body)
            if status != 200:  # upstream refused outright: relay as-is
                self._respond(h, status, out, ctype)
                return
            upstream = json.loads(out)
            accepted = iter(upstream.get("Records", []))
            merged = [
                next(accepted) if keep else dict(_THROTTLE_ENTRY)
                for keep in keep_mask
            ]
            resp = {
                "FailedRecordCount": upstream.get("FailedRecordCount", 0)
                + keep_mask.count(False),
                "Records": merged,
            }
        else:  # every record throttled: nothing reaches upstream
            resp = {
                "FailedRecordCount": len(records),
                "Records": [dict(_THROTTLE_ENTRY) for _ in records],
            }
        self._respond(
            h, 200, json.dumps(resp).encode(), "application/x-amz-json-1.1"
        )

    @staticmethod
    def _respond(
        h: BaseHTTPRequestHandler, status: int, body: bytes, ctype: str
    ) -> None:
        h.send_response(status)
        h.send_header("Content-Type", ctype)
        h.send_header("Content-Length", str(len(body)))
        h.end_headers()
        h.wfile.write(body)

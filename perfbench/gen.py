"""Seeded input generators.  The same seed gives the same bytes.

* :func:`access_log_lines` -- Apache combined-log lines for the bulk
  replay, with a long tail of line lengths, a few CRLF endings, a few
  empty lines and some non-ASCII text.
* :func:`trickle_value` -- one concatenated-JSON access record (the
  README LogFormat fields plus ``event_id`` and the generator's creation
  stamp), or, for a small fixed share of ids, a top-level null, scalar
  or array.
* :func:`write_tables` -- the analytics catalog (the ten parquet tables
  the query registry reads), with the column types and value ranges of
  the registry's fixtures.
"""

from __future__ import annotations

import json
import os

import numpy as np

_METHODS = ("GET", "GET", "GET", "GET", "POST", "PUT", "HEAD", "DELETE")
_PATHS = ("index.html", "api/v1/items", "static/app.js", "img/logo.png",
          "search", "login", "cart", "docs/guide")
_AGENTS = (
    "curl/8.5.0",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko)",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_4) Gecko/20100101 Firefox/125.0",
    "python-requests/2.31",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "Navigateur-Spécial/1.0 (données; ünïcode)",
)
_STATUS = (200, 200, 200, 200, 200, 301, 304, 404, 500, 503)
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")


def _clf_time(epoch: int) -> str:
    import time

    t = time.gmtime(epoch)
    return (f"{t.tm_mday:02d}/{_MONTHS[t.tm_mon - 1]}/{t.tm_year}:"
            f"{t.tm_hour:02d}:{t.tm_min:02d}:{t.tm_sec:02d} +0000")


def access_log_lines(seed: int, n: int) -> bytes:
    """``n`` combined-log lines (plus a few empty ones), LF-terminated.

    Each line carries its index in the request path (``/r/<i>``), so
    every delivered record is unique.  The query string's length is
    drawn from a Pareto tail: most lines are 150-300 bytes, a few reach
    several KiB.
    """
    rng = np.random.default_rng(seed)
    base = 1_700_000_000 + int(rng.integers(0, 10_000_000))
    tail = np.minimum((rng.pareto(1.5, n) * 40).astype(int), 6000)
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)
    out = []
    for i in range(n):
        ip = f"10.{rng.integers(0, 256)}.{rng.integers(0, 256)}.{rng.integers(1, 255)}"
        user = "-" if rng.random() < 0.9 else f"user{rng.integers(0, 500)}"
        q = bytes(alphabet[rng.integers(0, len(alphabet), int(tail[i]))]).decode()
        line = (
            f'{ip} - {user} [{_clf_time(base + i // 50)}] '
            f'"{_METHODS[rng.integers(0, len(_METHODS))]} '
            f'/{_PATHS[rng.integers(0, len(_PATHS))]}/r/{i}?q={q} HTTP/1.1" '
            f'{_STATUS[rng.integers(0, len(_STATUS))]} {rng.integers(0, 200_000)} '
            f'"-" "{_AGENTS[rng.integers(0, len(_AGENTS))]}"'
        )
        u = rng.random()
        if u < 0.01:
            line += "\r"  # CRLF-terminated line
        out.append(line)
        if u > 0.995:
            out.append("")  # empty line, dropped by the program
    return ("\n".join(out) + "\n").encode()


# A small fixed share of trickle ids carries a non-object value.
_SPECIAL_EVERY = 25


def trickle_value(seed: int, event_id: int, created: float) -> object:
    """The JSON value the trickle generator sends for ``event_id``.

    Deterministic in (seed, event_id, created).  ``created`` is the time
    the record was due, in epoch seconds; it becomes the record's
    ``created`` field, from which latency is measured.
    """
    kind = event_id % _SPECIAL_EVERY
    if kind == 7:
        return None
    if kind == 13:
        return f"note-{event_id}@{created:.6f}"
    if kind == 19:
        return [event_id, "tag", round(created, 6)]
    rng = np.random.default_rng([seed, event_id])
    return {
        "Time": _clf_time(int(created)),
        "RemoteHost": f"10.0.{rng.integers(0, 256)}.{rng.integers(1, 255)}",
        "Request": f"GET /{_PATHS[rng.integers(0, len(_PATHS))]} HTTP/1.1",
        "Status": int(_STATUS[rng.integers(0, len(_STATUS))]),
        "BytesSent": int(rng.integers(0, 100_000)),
        "Referer": "-",
        "UserAgent": _AGENTS[rng.integers(0, len(_AGENTS))],
        "DurationMicros": int(rng.integers(50, 2_000_000)),
        # collides with the CLI's ``-I Host=web01`` entry, which wins
        "Host": f"origin-{rng.integers(0, 8)}",
        "event_id": event_id,
        "created": round(created, 6),
    }


def trickle_stamp(value: object) -> tuple[int, float]:
    """(event_id, created) carried by a delivered trickle value."""
    if isinstance(value, dict):
        return value["event_id"], value["created"]
    if isinstance(value, list):
        return value[0], value[2]
    head, created = value.split("@")
    return int(head.removeprefix("note-")), float(created)


def trickle_bytes(value: object) -> bytes:
    """Wire form of one trickle value (one ``write()`` per record)."""
    return json.dumps(value).encode() + b"\n"


# -- analytics catalog ------------------------------------------------------

_WORDS = ("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
          "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
          "window", "order", "data", "column", "join", "small", "big",
          "customer", "query", "stream", "group", "filter", "vector")
_ADJ = ("small", "red", "blue", "green", "large", "shiny", "old", "new")
_NOUN = ("ring", "widget", "bolt", "gear", "panel", "valve", "screw", "cable")


def write_tables(out_dir: str, seed: int, scale: float = 0.01) -> None:
    """Write the ten catalog tables as ``<out_dir>/<name>.parquet``.

    ``scale=0.01`` gives the row counts of the registry's sf0.01
    fixture (60k lineitem rows, 10k events, 500 documents).
    """
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_part = int(200_000 * scale)
    n_supp = max(int(10_000 * scale), 10)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_docs = max(int(50_000 * scale), 50)
    n_vec = max(int(50_000 * scale), 50)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        return (np.datetime64(start, "us")
                + rng.integers(0, n_days, n).astype("timedelta64[D]"))

    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"],
                n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) * 0.1, 1),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": days("1995-01-01", 2400, n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": days("1995-01-02", 2500, n_li),
        }),
        "events": pd.DataFrame({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(np.datetime64("2024-01-01", "us")
                          + rng.integers(0, 30 * 86_400_000_000, n_ev)
                          .astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev).astype(np.int64),
            "event_type": rng.choice(
                ["signup", "error", "click", "view", "purchase"], n_ev),
            "value": np.round(rng.exponential(60.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
    }

    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.08:
            # near-duplicate of an earlier document: one word swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, 30))]
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(8, 80))))
        texts.append(" ".join(words))
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "zh", "es", "de", "fr"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    centers = rng.normal(0.0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n_vec, 64))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })

    for name, df in tables.items():
        table = df if isinstance(df, pa.Table) else pa.Table.from_pandas(
            df, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

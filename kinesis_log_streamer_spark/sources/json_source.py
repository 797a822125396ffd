"""Concatenated-JSON source (reference S3: jsonstreamer.go:34-81).

The reference decodes one top-level JSON value at a time from the
stream — objects, arrays, or scalars, separated by arbitrary
whitespace *or nothing at all* — and stops at the first malformed
value (jsonstreamer.go:40-46).

Spark's JSON reader assumes JSON-lines (or one multiLine document), so
true concatenated JSON needs a pre-splitter: we read whole files
(``wholetext``) and split each into top-level values with an
incremental ``json.JSONDecoder.raw_decode`` loop inside
``mapInPandas`` — Arrow-batched, one Python pass per file, not per
record.

Semantics reproduced:
* one record per top-level value, any separation     (jsonstreamer.go:40-46)
* top-level ``null`` skipped (F2)                    (jsonstreamer.go:48)
* strict mode: stop at first malformed value, error  (jsonstreamer.go:44-45;
  main.go:165-168); permissive mode keeps prior records and skips the
  rest of that file (engine extension, SURVEY §7 risk 2)
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


class ConcatenatedJsonError(ValueError):
    """Raised in strict mode when a malformed top-level value is hit."""


def split_concatenated_json(text: str, strict: bool = True) -> list[str]:
    """Split one concatenated-JSON string into top-level value strings.

    Mirrors Go's json.Decoder value loop; values are re-serialized
    compactly (the reference re-marshals every value anyway — T3,
    jsonstreamer.go:58-62). Top-level nulls are dropped (F2).
    """
    decoder = json.JSONDecoder()
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        while i < n and text[i] in " \t\r\n":
            i += 1
        if i >= n:
            break
        try:
            value, end = decoder.raw_decode(text, i)
        except ValueError as exc:
            if strict:
                raise ConcatenatedJsonError(
                    f"malformed JSON value at offset {i}: {exc}"
                ) from exc
            break
        if value is not None:  # F2: skip top-level null
            out.append(json.dumps(value, separators=(",", ":")))
        i = end
    return out


def read_concatenated_json(
    spark: SparkSession, path: str, strict: bool = True
) -> DataFrame:
    """One row (column ``value``: the compact JSON string) per top-level
    value across all files under ``path``.

    Scale: one task per file; each file is decoded in a single
    streaming pass. For 100 TB the landing format should be JSON-lines
    (splittable); this operator exists for reference parity with
    arbitrary concatenation.
    """
    whole = spark.read.text(path, wholetext=True)

    def split_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals: list[str] = []
            for txt in pdf["value"]:
                vals.extend(split_concatenated_json(txt, strict=strict))
            yield pd.DataFrame({"value": vals})

    return whole.mapInPandas(split_batches, schema="value string")


"""State-TTL semantics (VERDICT r7 #6): the wall-clock EXPIRY behavior
st19's oracle cannot pin (deterministic hashes can't depend on sleeps)
is pinned here instead — a key whose state is not refreshed within
``ttl_ms`` restarts its running totals from zero on its next batch,
while a long-TTL control keeps accumulating across the same restart.

The operator under test is `streaming/stateful.py:
running_totals_with_state_ttl` (applyInPandasWithState with the
last-update time kept beside the totals), the one st19 runs.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from kinesis_log_streamer_spark.streaming.stateful import (
    running_totals_with_state_ttl,
)


def _drain(spark, op, ttl_ms, indir, ckpt, outp, rows, phase):
    spark.createDataFrame(
        [(k, phase, v) for k, v in rows], "key int, phase int, value double"
    ).coalesce(1).write.mode("append").parquet(indir)
    stream = (
        spark.readStream.schema("key int, phase int, value double")
        .format("parquet")
        .load(indir)
    )
    q = (
        op(stream, ttl_ms)
        .writeStream.foreachBatch(
            lambda df, _id: df.write.mode("append").parquet(outp)
        )
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "drain timed out"


def _totals(spark, outp, phase):
    return {
        r.key: (r.running_n, r.running_sum)
        for r in spark.read.parquet(outp)
        .filter(F.col("phase") == phase)
        .collect()
    }


class TestStateTTL:
    def _run(self, spark, tmp_path, op, ttl_ms, sleep_s):
        base = str(tmp_path)
        indir, ckpt, outp = (
            os.path.join(base, d) for d in ("in", "ckpt", "out")
        )
        os.makedirs(outp)
        rows = [(1, 2.0), (1, 3.0), (2, 1.0)]
        _drain(spark, op, ttl_ms, indir, ckpt, outp, rows, phase=0)
        assert _totals(spark, outp, 0) == {1: (2, 5.0), 2: (1, 1.0)}
        time.sleep(sleep_s)
        _drain(spark, op, ttl_ms, indir, ckpt, outp, [(1, 10.0)], phase=1)
        return _totals(spark, outp, 1)

    def test_expired_state_restarts_totals(self, spark, tmp_path):
        # 1 s TTL, 2.5 s gap: key 1's state must read as absent.
        got = self._run(
            spark, tmp_path, running_totals_with_state_ttl, 1000, 2.5
        )
        assert got[1] == (1, 10.0), f"expired state leaked: {got}"

    def test_fresh_state_accumulates(self, spark, tmp_path):
        # 1 h TTL control: the same restart keeps the prefix totals.
        got = self._run(
            spark, tmp_path, running_totals_with_state_ttl, 3_600_000, 0.0
        )
        assert got[1] == (3, 15.0), f"state lost across restart: {got}"

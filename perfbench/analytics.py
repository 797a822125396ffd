"""The analytics workload: one client runs a closed loop of sequential
passes over a query mix, in-process, on ``session.get_spark()``.

The first pass is warm-up and counts toward set-up; the warm passes
that follow are measured, each query's CPU and wall time on its own.
Each query's last warm result is compared with its DuckDB oracle after
the measured region.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import common
import expect
import gen

# One query per operator family, two of the ROADMAP's carried targets
# (d05, w09), and d05 also runs Spark jobs while it is built.
MIX = (
    "q01_pricing_summary",
    "q16_distinct_agg",
    "l09_rolling_anomaly",
    "l18_clf_parse_roundtrip",
    "i02_enrich_json",
    "d05_dedup_clusters",
    "w09_point_in_time_matrix",
)
# Warm passes per run: one per this many ``--seconds``, at least three.
# The JVM keeps getting cheaper for several passes after the cold one,
# and a garbage collection can land in any one pass; each query's figure
# is its cheapest pass.
SECONDS_PER_PASS = 2
MIN_WARM_PASSES = 3
SCALE = 0.01


def _oracle_check(sf_dir: str, results: dict) -> dict[str, str]:
    """Per query: "ok" or what differs from the DuckDB oracle, compared
    the way ``scripts/selfcheck.py`` compares."""
    import importlib.util

    import duckdb

    from kinesis_log_streamer_spark.plans.oracles import ORACLES
    from kinesis_log_streamer_spark.sources.tables import TABLES

    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join(common.ROOT, "scripts", "selfcheck.py"))
    selfcheck = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(selfcheck)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    verdicts = {}
    for name, spdf in results.items():
        if name not in ORACLES:
            verdicts[name] = "ok" if len(spdf) else "no rows and no oracle"
            continue
        dpdf = con.execute(ORACLES[name]).df()
        if len(spdf) != len(dpdf):
            verdicts[name] = f"rows {len(spdf)} vs oracle {len(dpdf)}"
        elif sorted(spdf.columns) != sorted(dpdf.columns):
            verdicts[name] = "columns differ from oracle"
        elif selfcheck.norm_pdf(spdf) != selfcheck.norm_pdf(dpdf):
            verdicts[name] = "values differ from oracle"
        else:
            verdicts[name] = "ok"
    con.close()
    return verdicts


def _stage_bytes(event_dir: str) -> dict[str, dict[str, int]]:
    """Shuffle-write and spill bytes per job group, from the event log."""
    job_group, stage_job, out = {}, {}, {}
    paths = sorted(os.path.join(d, f) for d, _, files in os.walk(event_dir)
                   for f in files if not f.startswith("."))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = group
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    group = job_group.get(stage_job.get(ev["Stage ID"]))
                    if group is None:
                        continue
                    acc = out.setdefault(group, {"shuffle_bytes": 0, "spill_bytes": 0})
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get(
                        "Memory Bytes Spilled", 0)
    return out


def _stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort at shutdown
            proc.kill()
            proc.wait()


def run(seed: int, seconds: int, trace: bool) -> dict:
    run_dir = common.make_run_dir("analytics-mix", seed)
    sf_dir = os.path.join(run_dir, "data")
    gen.write_tables(sf_dir, seed, SCALE)
    os.environ.update(common.run_env(run_dir))
    os.chdir(run_dir)
    event_dir = os.path.join(run_dir, "events")
    extra = {"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    if trace:
        os.makedirs(event_dir)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_dir,
                      "spark.eventLog.compress": "false"})
    sampler = common.TreeSampler()
    sampler.start()
    sampler.target = os.getpid()
    try:
        from kinesis_log_streamer_spark.plans.queries import REGISTRY
        from kinesis_log_streamer_spark.session import get_spark

        me = os.getpid()
        t0, cpu0 = time.time(), common.tree_cpu_s(me)
        spark = get_spark("perfbench-analytics", extra_conf=extra)
        session_s = time.time() - t0
        sc = spark.sparkContext
        tracker = sc.statusTracker()

        def one_pass(tag: str) -> tuple[float, dict, dict]:
            per_query, results = {}, {}
            start = time.time()
            for q in MIX:
                sc.setJobGroup(f"{tag}:{q}:build", q)
                b0, c0 = time.time(), common.tree_cpu_s(me)
                df = REGISTRY[q](spark, sf_dir)
                b1 = time.time()
                sc.setJobGroup(f"{tag}:{q}:exec", q)
                results[q] = df.toPandas()
                e1 = time.time()
                per_query[q] = {"build_s": b1 - b0, "exec_s": e1 - b1,
                                "latency_ms": (e1 - b0) * 1000.0,
                                "cpu_ms": (common.tree_cpu_s(me) - c0) * 1000.0}
            sc.setJobGroup("idle", "idle")
            return time.time() - start, per_query, results

        cold = one_pass("cold")
        t_warm = time.time()
        setup_cpu_s = common.tree_cpu_s(me) - cpu0
        n_warm = max(MIN_WARM_PASSES, seconds // SECONDS_PER_PASS)
        passes = [one_pass(f"warm{i}") for i in range(n_warm)]
        t_check = time.time()
        verdicts = _oracle_check(sf_dir, passes[-1][2])
        check_s = time.time() - t_check
        last_tag = f"warm{len(passes) - 1}"
        jobs = {q: {kind: len(tracker.getJobIdsForGroup(f"{last_tag}:{q}:{kind}"))
                    for kind in ("build", "exec")} for q in MIX}
        _stop_spark(spark)
        host = sampler.stop()
        bytes_by_group = _stage_bytes(event_dir) if trace else {}
    finally:
        os.chdir(common.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    walls = [p[0] for p in passes]
    best = [min(p[1][q]["latency_ms"] for p in passes) for q in MIX]
    best_cpu = [min(p[1][q]["cpu_ms"] for p in passes) for q in MIX]
    layers = {"session.start_s": session_s}
    last = passes[-1][1]
    for q in MIX:
        g = bytes_by_group
        layers.update({
            f"query.{q}.build_s": last[q]["build_s"],
            f"query.{q}.build_jobs": jobs[q]["build"],
            f"query.{q}.exec_s": last[q]["exec_s"],
            f"query.{q}.exec_jobs": jobs[q]["exec"],
            f"query.{q}.shuffle_bytes": sum(g.get(f"{last_tag}:{q}:{k}", {}).get("shuffle_bytes", 0)
                                            for k in ("build", "exec")),
            f"query.{q}.spill_bytes": sum(g.get(f"{last_tag}:{q}:{k}", {}).get("spill_bytes", 0)
                                          for k in ("build", "exec")),
        })
    failed = [q for q, v in verdicts.items() if v != "ok"]
    return {
        "attempted": len(MIX),
        "failed": len(failed),
        "e2e": {
            "setup_s": setup_cpu_s,
            "throughput_per_cpu_s": len(MIX) / (sum(best_cpu) / 1000.0),
            "wall_s": min(walls),
            "setup_wall_s": t_warm - t0,
            "throughput_per_s": len(MIX) / min(walls),
            "latency_ms": expect.geomean(best),
        },
        "layers": {**layers, "host.external_cpu_s": host["external_cpu_s"],
                   "mem.peak_pss_mb": host["peak_pss_mb"]},
        "details": {"verdicts": verdicts, "passes": walls,
                    "pass_cpu_s": [sum(p[1][q]["cpu_ms"] for q in MIX) / 1000.0
                                   for p in passes],
                    "scale": SCALE,
                    "cold_ms": {q: cold[1][q]["latency_ms"] for q in MIX},
                    "best_ms": dict(zip(MIX, best)),
                    "best_cpu_ms": dict(zip(MIX, best_cpu)),
                    "oracle_check_s": check_s},
    }

"""The benchmark's Spark process: one closed-loop client running passes
over the workload's queries.

Started by ``run.py`` with the workload's settings as one JSON argument;
writes its records to the JSON file those settings name. Each query
execution is timed as build (calling the registered query function) plus
run (``collect()``, the materialization the grading driver uses), and its
rows are digested for the correctness gate outside those windows.
"""

from __future__ import annotations

import gc
import json
import os
import random
import sys
import time
import traceback


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _session(cfg: dict):
    from pyspark.sql import SparkSession

    conf = {}
    if cfg["trace"]:
        # Keep every job, stage and execution of the run for attribution.
        conf = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000"}
    if cfg["session"] == "engine":
        from minarrow_spark.session import get_spark

        return get_spark("perfbench", extra_conf=conf)
    builder = SparkSession.builder.master(f"local[{cfg['cpus']}]").config(
        "spark.driver.memory", cfg["driver_mem"])
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def main() -> int:
    cfg = json.loads(sys.argv[1])
    out: dict = {"records": [], "passes": []}
    spark = None
    try:
        t0 = time.time()
        spark = _session(cfg)
        out["session_start_s"] = time.time() - t0
        spark.sparkContext.setLogLevel("ERROR")
        out["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        out["spark"] = spark.version

        import __spark_entry__

        fns = __spark_entry__.queries()
        tracer = None
        if cfg["trace"]:
            from tracer import Tracer, catalyst_phases

            tracer = Tracer()
            tracer.install()
        from oracle import digest

        data, scratch = cfg["data"], os.environ["MINARROW_SCRATCH"]
        out["ready"] = time.time()
        # A warm run makes five warm-up passes (the first is first_pass_s):
        # on a 4-core host the JIT keeps speeding passes up for about that
        # long, and a median taken on that slope moves with how fast the
        # compiler threads happened to get CPU. Then it makes a fixed number
        # of steady passes for its length (one per 5 s, at least 2), so the
        # sample count behind the tail percentile does not change when the
        # engine gets faster.
        warmup = 1 if cfg["mode"] == "cold" else 5
        per_kind = max(2, int(cfg["seconds"] // 5))
        q, p, steady = 0, 0, {True: 0, False: 0}
        while True:
            # Traced warm runs interleave traced and untraced steady passes
            # (T U U T ...) so the overhead is an in-run A/B that a drift
            # across passes does not bias.
            is_steady = cfg["mode"] == "cold" or p >= warmup
            traced = bool(cfg["trace"]) and is_steady and (
                cfg["mode"] == "cold" or (p - warmup) % 4 in (0, 3))
            # A cold pass keeps registration order: its first query absorbs
            # the JVM's own warm-up, and a seeded order would hand that cost
            # to a different query family on every seed.
            order = list(cfg["queries"])
            if cfg["mode"] == "warm":
                random.Random(f"{cfg['seed']}:{p}").shuffle(order)
            book0 = tracer.bookkeeping_s if tracer else 0.0
            pass_s = 0.0
            if tracer:
                tracer.on = traced
            for name in order:
                rec = {"pass": p, "name": name, "q": q, "traced": traced}
                if tracer and traced:
                    tracer.begin(q, name)
                    tracer.enter("build")
                try:
                    fn = fns[name]
                    c0 = time.perf_counter()
                    df = fn(spark, data)
                    c1 = time.perf_counter()
                    if tracer and traced:
                        tracer.leave()
                        tracer.enter("run")
                    rows = df.collect()
                    c2 = time.perf_counter()
                    if tracer and traced:
                        tracer.leave()
                        tracer.end(catalyst_phases(df))
                    rec.update(build_s=c1 - c0, run_s=c2 - c1)
                    pass_s += c2 - c0
                    rec["digest"] = digest(list(df.columns), [tuple(r) for r in rows])
                except Exception as ex:  # noqa: BLE001 — a failed query is counted, not fatal
                    rec["error"] = f"{type(ex).__name__}: {ex}"[:500]
                    traceback.print_exc()
                    if tracer and traced:
                        tracer.phase = ""
                        tracer.q = -1
                out["records"].append(rec)
                q += 1
            if tracer:
                tracer.on = False
            out["passes"].append({
                "pass": p, "traced": traced, "steady": is_steady, "s": pass_s,
                "state_bytes": _dir_bytes(scratch),
                "bookkeeping_s": (tracer.bookkeeping_s - book0) if tracer else 0.0,
            })
            if cfg["mode"] == "cold":
                break
            if is_steady:
                steady[traced] += 1
            if steady[False] >= per_kind and steady[True] >= (per_kind if cfg["trace"] else 0):
                break
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            p += 1
        if tracer:
            from tracer import attribute, spark_status

            out["attribution"] = attribute(tracer, spark_status(spark))
            with open(cfg["spans"], "w") as fh:
                for s in tracer.spans:
                    fh.write(json.dumps(s) + "\n")
            tracer.uninstall()
        return 0
    except Exception as ex:  # noqa: BLE001 — report set-up failures to the parent
        out["fatal"] = f"{type(ex).__name__}: {ex}"[:2000]
        traceback.print_exc()
        return 1
    finally:
        with open(cfg["out"], "w") as fh:
            json.dump(out, fh)
        if spark is not None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())

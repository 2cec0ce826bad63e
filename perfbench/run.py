"""Benchmark for the minarrow_spark query engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload headline_warm --seed 1 --seconds 12 --trace 0

Drives the engine from outside, with one client in a closed loop on
``local[<cores>]``: the query functions are called and their results
collected in a separate Spark process (``worker.py``), so set-up is timed
from that process's start. Inputs are the driver's test tables
with their rows permuted by the seed (``datagen.py``), written outside all
timing, and every output is checked against a
DuckDB reference (``oracle.py``).

Stdout carries a facts header, a per-query report, and, as its last line,
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones from a traced run (``tracer.py``), which also writes a spans
file and a table of self time per layer under ``.perfbench/trace/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Why each workload: see README.md next to this file. The query lists are
# pinned here so that a change to the registry's flags cannot silently
# change a workload; a query missing from the registry counts as failed.
HEADLINE = (
    "q01_pricing_summary", "q04_segment_revenue", "q10_window_topk", "q35_dedup_minhash",
    "q38_ann_topk", "q42_sequence_packing", "q45_tumbling_window", "q47_sessionization",
    "q53_arrow_kernel",
)
SUITE = (  # registration order, which the cold pass keeps
    "q11_window_lag", "q03_top_orders", "q06_semi_join", "q08_outer_join", "q14_distinct",
    "q27_table_broadcast_op", "q28_bool_masks", "q54_binary_map", "q33_fingerprint",
    "q46_hopping_window", "q48_asof_join", "q50_multimodal_features", "q38b_ivf_topk",
)
WORKLOADS = {
    "headline_warm": {"sf": 0.01, "session": "engine", "mode": "warm", "queries": HEADLINE},
    "suite_cold": {"sf": 0.01, "session": "vanilla", "mode": "cold", "queries": SUITE},
}
FAMILIES = ("relational", "windows", "eventflow", "textops", "funcs", "multimodal", "dedup",
            "similarity")
END_TO_END_UNITS = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s", "query_p50_s": "s",
    "query_tail_s": "s",
}
PER_LAYER_UNITS = {
    "memory.peak_rss_mb": "MB",
    "session.start_s": "s",
    "sources.load_calls": "count", "sources.load_s": "s", "sources.cache_hit_ratio": "ratio",
    "queries.build_s": "s", "queries.build_self_s": "s", "queries.build_py4j_calls": "count",
    "queries.build_jobs": "count", "queries.build_job_s": "s",
    "operators.calls": "count", "operators.self_s": "s", "functions.calls": "count",
    "streaming.batches": "count", "streaming.batch_s": "s", "streaming.compact_s": "s",
    "streaming.state_bytes": "bytes",
    "catalyst.analysis_s": "s", "catalyst.optimize_s": "s", "catalyst.planning_s": "s",
    "spark.run_s": "s", "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.failed_tasks": "count", "spark.slot_busy_ratio": "ratio",
    "pyworker.boot_s": "s", "pyworker.init_s": "s", "pyworker.run_s": "s",
    "unattributed_s": "s", "trace.coverage_min": "ratio", "trace.overhead_s": "s",
    **{f"queries.{f}_s": "s" for f in FAMILIES},
}
LAYERS = ("queries", "sources", "operators", "streaming", "catalyst", "spark", "unattributed")
WORKER_TIMEOUT_S = 170


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def _java_version() -> str:
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    try:
        r = subprocess.run([java, "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired) as ex:
        return f"unknown ({type(ex).__name__})"
    return (r.stderr.splitlines() or ["unknown"])[0]


class TreeSampler(threading.Thread):
    """Samples the summed resident memory of a process and all its
    descendants from /proc, and remembers every descendant it saw."""

    def __init__(self, pid: int, interval: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self.seen: dict[int, str] = {}  # pid -> /proc start time, to survive pid reuse
        self._halt = threading.Event()

    @staticmethod
    def _stat(pid: int) -> tuple[int, str] | None:
        """(ppid, start time) of a running process; None once it has exited."""
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            if fields[0] in ("Z", "X"):
                return None
            return int(fields[1]), fields[19]
        except (OSError, IndexError, ValueError):
            return None

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = self._stat(int(d))
                if st:
                    children.setdefault(st[0], []).append(int(d))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def run(self) -> None:
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        while not self._halt.is_set():
            total = 0
            for p in self._tree():
                try:
                    with open(f"/proc/{p}/statm") as fh:
                        total += int(fh.read().split()[1]) * page_kb
                except (OSError, IndexError, ValueError):
                    continue
                st = self._stat(p)
                if st and p != self.pid:
                    self.seen.setdefault(p, st[1])
            self.peak_kb = max(self.peak_kb, total)
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def reap(self, timeout: float = 20.0) -> None:
        """Stop every descendant seen that is still running, and wait for it."""
        live = lambda: [p for p, start in self.seen.items()  # noqa: E731
                        if (st := self._stat(p)) and st[1] == start]
        for sig, wait in ((signal.SIGTERM, timeout), (signal.SIGKILL, 5.0)):
            for p in live():
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            end = time.time() + wait
            while live() and time.time() < end:
                time.sleep(0.1)
            if not live():
                return


def trace_stem(root: str, workload: str, sf: float, seed: int) -> str:
    """Path prefix of a traced run's spans (``.spans.jsonl``) and layer table (``.layers.tsv``)."""
    return os.path.join(root, ".perfbench", "trace", f"{workload}-sf{sf:g}-seed{seed}")


def percentile_tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and its
    value (the eleventh largest). With fewer than eleven samples, the max."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return 100.0, s[-1]
    return 100.0 * (n - 10) / n, s[n - 11]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="input scale override, for selftest.py")
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "minarrow_spark"))):
        print("perfbench: run from the repository root (no __spark_entry__.py / "
              "minarrow_spark here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import datagen
    import oracle
    from minarrow_spark.registry import all_queries

    wl = dict(WORKLOADS[args.workload])
    wl["sf"] = args.sf or wl["sf"]
    reg = all_queries()
    names = list(wl["queries"])
    family = {n: reg[n].fn.__module__.rsplit(".", 1)[-1] if n in reg else "missing" for n in names}

    cache = os.path.join(root, ".perfbench")
    data = datagen.ensure(cache, wl["sf"], args.seed)
    base = datagen.source(wl["sf"])
    refs = oracle.references(cache, base, datagen.fingerprint(base),
                             {n: reg[n].oracle for n in names if n in reg and reg[n].oracle})

    import duckdb
    import pyspark

    n_cpu = cpus()
    mem_mb = mem_total_mb()
    print(json.dumps({"facts": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": n_cpu, "mem_total_mb": mem_mb,
        "spark": pyspark.__version__, "java": _java_version(), "duckdb": duckdb.__version__,
        "python": platform.python_version(), "sf": wl["sf"], "queries": len(names),
        "check": "duckdb oracle: sorted columns, row count, sha256 of canonical rows",
    }}), flush=True)

    run_dir = os.path.join(cache, "run", str(os.getpid()))
    trace_dir = os.path.join(cache, "trace")
    for d in (run_dir, trace_dir, os.path.join(run_dir, "tmp"), os.path.join(run_dir, "scratch")):
        os.makedirs(d, exist_ok=True)
    stem = trace_stem(root, args.workload, wl["sf"], args.seed)
    driver_mem = "4g" if mem_mb >= 12 * 1024 else "2g"
    cfg = {
        "mode": wl["mode"], "session": wl["session"], "queries": names, "data": data,
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace, "cpus": n_cpu,
        "driver_mem": driver_mem, "out": os.path.join(run_dir, "out.json"),
        "spans": stem + ".spans.jsonl",
    }
    env = {k: v for k, v in os.environ.items() if k != "MINARROW_FORENSICS"}
    tmp = os.path.join(run_dir, "tmp")
    env.update({
        "SPARK_GRAFT_CPUS": str(n_cpu), "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "MINARROW_SCRATCH": os.path.join(run_dir, "scratch"),
        "PYTHONPATH": os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"), "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })

    spawn = time.time()
    ticks0 = cpu_ticks()
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
                            env=env, cwd=root, stdout=sys.stderr)
    sampler = TreeSampler(proc.pid)
    sampler.start()
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        rc = proc.wait()
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
    finally:
        sampler.stop()
        sampler.reap()
    ticks1 = cpu_ticks()
    # Time the hypervisor gave this host's CPUs to other guests: the host's
    # contention during the run, shown next to its times.
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    try:
        with open(cfg["out"]) as fh:
            out = json.load(fh)
    except (OSError, ValueError):
        out = {}
    if rc != 0 or "ready" not in out or out.get("fatal"):
        print(f"perfbench: worker failed (exit {rc}): {out.get('fatal', 'no result file')}",
              file=sys.stderr)
        return 1
    shutil.rmtree(run_dir, ignore_errors=True)

    recs = out["records"]
    failed = []
    for r in recs:
        why = r.get("error") or oracle.check(r["digest"], refs.get(r["name"]))
        if why:
            failed.append((r["pass"], r["name"], why))
    for p, name, why in failed:
        print(f"FAIL pass {p} {name}: {why}", flush=True)

    steady = [p["pass"] for p in out["passes"] if p["steady"] and not p["traced"]]
    if args.trace:
        metrics = layer_metrics(out, wl, n_cpu, stem, family, sampler.peak_kb / 1024)
    else:
        metrics = end_to_end(out, steady, family, spawn, steal)
    result = {
        "correct": not failed,
        "attempted": len(recs),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def units_of(name: str) -> str:
    return END_TO_END_UNITS.get(name) or PER_LAYER_UNITS[name]


def _time(r: dict) -> float:
    return r.get("build_s", 0.0) + r.get("run_s", 0.0)


def end_to_end(out: dict, steady: list[int], family: dict, spawn: float, steal: float) -> dict:
    recs = out["records"]
    passes = {p["pass"]: p["s"] for p in out["passes"]}
    samples = [_time(r) for r in recs if r["pass"] in steady and "build_s" in r]
    pct, tail = percentile_tail(samples)
    fams = sorted(set(family.values()))
    print(json.dumps({"detail": {
        "passes": [round(passes[p], 4) for p in sorted(passes)], "steady_passes": steady,
        "query_tail": {"percentile": round(pct, 2), "samples": len(samples)},
        "family_s": {f: round(statistics.median(
            sum(_time(r) for r in recs if r["pass"] == p and family[r["name"]] == f)
            for p in steady), 4) for f in fams},
        "query_s": {n: round(statistics.median(_time(r) for r in recs
                                               if r["name"] == n and r["pass"] in steady), 4)
                    for n in sorted(family)},
        "host_steal_share": round(steal, 4),
    }}), flush=True)
    return {
        "setup_s": out["ready"] - spawn,
        "first_pass_s": passes[0],
        "pass_s": statistics.median(passes[p] for p in steady),
        "query_p50_s": statistics.median(samples),
        "query_tail_s": tail,
    }


def layer_metrics(out: dict, wl: dict, n_cpu: int, stem: str, family: dict,
                  peak_mb: float) -> dict:
    att = {int(k): v for k, v in out["attribution"].items()}
    recs = {r["q"]: r for r in out["records"]}
    traced = [p for p in out["passes"] if p["traced"]]
    per_pass = []
    rows = []
    for p in traced:
        qs = [q for q, r in recs.items() if r["pass"] == p["pass"] and q in att]
        tot: dict[str, float] = {}
        for q in qs:
            for k, v in att[q]["stats"].items():
                tot[k] = tot.get(k, 0.0) + v
            lay = att[q]["layers"]
            rows.append((p["pass"], recs[q]["name"], att[q]["wall_s"], lay))
        walls = [att[q]["wall_s"] for q in qs]
        unatt = [att[q]["layers"].get("unattributed", 0.0) for q in qs]
        m = {k: tot.get(k, 0.0) for k in PER_LAYER_UNITS}
        m["memory.peak_rss_mb"] = peak_mb
        m["session.start_s"] = out["session_start_s"]
        m["sources.cache_hit_ratio"] = tot.get("sources.load_hits", 0.0) / max(1.0, tot.get("sources.load_calls", 0.0))
        m["streaming.state_bytes"] = p["state_bytes"]
        m["spark.slot_busy_ratio"] = tot.get("spark.task_run_s", 0.0) / (n_cpu * max(1e-9, sum(walls)))
        m["unattributed_s"] = sum(unatt)
        m["trace.coverage_min"] = min((1 - u / w for u, w in zip(unatt, walls) if w > 0), default=1.0)
        m["trace.overhead_s"] = p["bookkeeping_s"]
        for f in FAMILIES:
            m[f"queries.{f}_s"] = sum(att[q]["wall_s"] for q in qs if family[recs[q]["name"]] == f)
        per_pass.append(m)
    metrics = {k: statistics.median(m[k] for m in per_pass) for k in PER_LAYER_UNITS}

    with open(stem + ".layers.tsv", "w") as fh:
        fh.write("\t".join(["pass", "query", "family", "wall_s", *LAYERS]) + "\n")
        for p, name, wall, lay in rows:
            fh.write("\t".join([str(p), name, family[name], f"{wall:.4f}",
                                *(f"{lay.get(layer, 0.0):.4f}" for layer in LAYERS)]) + "\n")
    print(f"self time per layer (s), traced passes {[p['pass'] for p in traced]}:")
    print(f"{'pass':>4} {'query':<28} {'wall':>7} " + " ".join(f"{layer[:9]:>9}" for layer in LAYERS))
    for p, name, wall, lay in rows:
        print(f"{p:>4} {name:<28} {wall:7.3f} " + " ".join(f"{lay.get(layer, 0.0):9.3f}" for layer in LAYERS))
    total = {layer: sum(lay.get(layer, 0.0) for *_, lay in rows) for layer in LAYERS}
    print(f"{'':>4} {'TOTAL (' + wl['mode'] + ')':<28} {sum(r[2] for r in rows):7.3f} "
          + " ".join(f"{total[layer]:9.3f}" for layer in LAYERS))
    untraced = [p["s"] for p in out["passes"] if p["steady"] and not p["traced"]]
    if untraced:
        ab = statistics.median(p["s"] for p in traced) - statistics.median(untraced)
        print(f"tracing overhead: traced - untraced pass_s = {ab:+.4f} s "
              f"({len(traced)} traced, {len(untraced)} untraced passes interleaved)")
    print(f"tracing bookkeeping per traced pass: {metrics['trace.overhead_s']:.4f} s; "
          f"spans: {stem}.spans.jsonl; table: {stem}.layers.tsv", flush=True)
    return metrics


if __name__ == "__main__":
    sys.exit(main())

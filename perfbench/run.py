#!/usr/bin/env python3
"""End-to-end benchmark of the essentials_spark user path.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process, run from the repository root: generate the workload's
events parquet from the seed (cached under ``perfbench/.cache``), start
Spark on ``local[nproc]``, then time what a user runs:

1. set-up: SparkSession start plus one warm-up engine superstep, done
   ``N_SETUPS`` times (the first also launches the JVM); ``setup_s`` is
   their median;
2. build: ``graph.keyed.keyed_graph_from_events`` (plain and
   conv-membership) and ``graph.prepared.prepare_graph``, plus the
   symmetrized membership table that triangle counting reads;
3. the suite: PageRank, CC and LP on the prepared graph and TC on the
   membership graph, with the registry's parameters. Each timed call
   ends in ``count()`` (TC: its total). The suite repeats until
   ``--seconds`` have passed (at least once); times are medians;
4. resume workloads: PageRank and CC run under a durable
   ``checkpoint_dir``; then every ``iter=*`` directory after the first
   durable one is deleted (a simulated kill) and both are rerun.

Every per-vertex output is checked, untimed, against the registry's
DuckDB oracles (``__spark_entry__.oracle_sql()``); a resumed output must
also equal the uninterrupted one. ``--trace 1`` runs the same path with
spans and Spark status-store counters around each public call (see
spans.py) and reports the per-layer metrics instead.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the full
result record (environment stamp, input shape, every metric). The exit
code is 0 only when every output matched.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

# sf0.01-shaped conversations (67 turns each, five uniform tool hubs):
# every superstep loop stays below the superstep_conf gate, so time goes
# to per-job driver latency and to the build
SMALL_EVENTS = {"n_users": 151, "n_rounds": 67}
WORKLOADS = {
    "events-small": {"events": SMALL_EVENTS, "resume": False},
    "events-small-resume": {"events": SMALL_EVENTS, "resume": True},
}
N_SETUPS = 3
# durable checkpoints of the resume workload: PageRank's 20 supersteps
# write one at 15, CC (4 supersteps) at 3 and at convergence; the
# resumed runs then redo 5 and 1 supersteps
CKPT_EVERY = {"pagerank": 15, "cc": 3}
ALGOS = ("pagerank", "cc", "lp", "tc")
LOOPS = ("pagerank", "cc", "lp")
ORACLE_OF = {"pagerank": "pagerank", "cc": "connected_components", "lp": "label_propagation",
             "tc": "triangle_count"}

# LP and TC take 1.5-3.5 s, short enough that single runs spread by a
# quarter; their times are bounded through suite_s, total_s and teps and
# reported on their own as per-layer metrics
E2E_UNITS = {
    "setup_s": "s", "build_s": "s", "pagerank_s": "s", "cc_s": "s",
    "suite_s": "s", "total_s": "s", "teps": "edges/s", "resume_s": "s",
}
LAYER_UNITS = {
    "lp_s": "s", "tc_s": "s",
    "io.scan_s": "s", "io.rows": "count",
    "graph.keyed_s": "s", "graph.keyed_jobs": "count", "graph.keyed_shuffle_mb": "MB",
    "graph.keyed_exec_s": "s",
    "graph.prepare_s": "s", "graph.prepare_jobs": "count", "graph.prepare_shuffle_mb": "MB",
    **{f"algos.{a}.{k}": u for a in ALGOS for k, u in (
        ("jobs", "count"), ("tasks", "count"), ("shuffle_mb", "MB"), ("exec_s", "s"),
        ("exec_util", "fraction"), ("failed_tasks", "count"))},
    **{f"engine.{a}.{k}": u for a in LOOPS for k, u in (
        ("supersteps", "count"), ("superstep_p50_s", "s"), ("superstep_max_s", "s"))},
    "engine.cc.changed_frac": "fraction",
    "engine.ckpt_count": "count", "engine.ckpt_mb": "MB", "engine.restore_s": "s",
    "traced.build_s": "s", "traced.suite_s": "s", "jvm.peak_rss_mb": "MB",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def java_processes() -> int:
    n = 0
    for comm in glob.glob("/proc/[0-9]*/comm"):
        try:
            with open(comm) as fh:
                n += fh.read().strip() == "java"
        except OSError:  # the process ended while we looked
            pass
    return n


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(base, f)) for base, _d, files in os.walk(path) for f in files
    ) / 1e6


# --- Spark session ----------------------------------------------------


def start_spark(run_dir: str):
    from essentials_spark import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def warmup_superstep(spark) -> None:
    """One engine superstep (join, aggregate, materialize) on a 64-vertex
    ring: JVM, codegen and the first jobs."""
    from pyspark.sql import functions as F

    from essentials_spark.engine.superstep import SuperstepRunner

    runner = SuperstepRunner(spark, "warmup")
    state = spark.range(64).select(F.col("id").alias("src"), F.lit(1.0 / 64).alias("rank"))
    edges = spark.range(64).select(F.col("id").alias("src"), ((F.col("id") + 1) % 64).alias("dst"))
    step = edges.join(state, "src").groupBy("dst").agg(F.sum("rank").alias("rank"))
    runner.materialize(step, 1, eager=True).count()
    runner.finalize()


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session and its JVM, and wait until the JVM has ended."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    gw.shutdown()
    gw.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gw.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    deadline = time.time() + 30
    while os.path.exists(f"/proc/{jvm_pid}"):
        if time.time() > deadline:
            os.kill(jvm_pid, signal.SIGKILL)
        time.sleep(0.1)


# --- the user path ----------------------------------------------------


def build(spark, sf_dir: str, tr):
    from __spark_entry__ import ALPHA

    from essentials_spark.engine.superstep import truncate_plan
    from essentials_spark.graph.derive import Graph, canonicalize_edges
    from essentials_spark.graph.keyed import keyed_graph_from_events
    from essentials_spark.graph.prepared import prepare_graph

    with tr.span("graph.keyed", membership=False):
        kg = keyed_graph_from_events(spark, sf_dir)
    with tr.span("graph.keyed", membership=True):
        kg_m = keyed_graph_from_events(spark, sf_dir, include_conv_membership=True)
    with tr.span("graph.prepared"):
        pg = prepare_graph(kg.graph, alpha=ALPHA)
        pg.pr_st.df.count()
        pg.sym_st.df.count()
        sym_m = truncate_plan(
            canonicalize_edges(kg_m.graph.edges, symmetrize=True, dedup=True, drop_self_loops=True)
        )
    return kg, kg_m, pg, Graph(vertices=kg_m.graph.vertices, edges=sym_m)


def runner_for(spark, algo: str, ckpt_dir: str | None):
    from essentials_spark.engine.superstep import SuperstepRunner

    if algo == "tc":
        return None
    if ckpt_dir is None or algo not in CKPT_EVERY:
        return SuperstepRunner(spark, algo)
    return SuperstepRunner(spark, algo, checkpoint_dir=ckpt_dir, checkpoint_every=CKPT_EVERY[algo])


def run_algo(algo: str, pg, g_sym_m, runner):
    """One timed call; returns (seconds, per-vertex DataFrame, TC total)."""
    from __spark_entry__ import LP_ROUNDS, PR_ITERS

    from essentials_spark.algos import triangle_count

    t0 = time.perf_counter()
    total = None
    if algo == "pagerank":
        df = pg.pagerank(tol=0.0, max_iter=PR_ITERS, fused_iters=5, runner=runner, persist_result=False)
    elif algo == "cc":
        df = pg.connected_components(runner=runner, persist_result=False)
    elif algo == "lp":
        df = pg.label_propagation(max_iter=LP_ROUNDS, fused_iters=LP_ROUNDS, runner=runner, persist_result=False)
    else:
        df, total = triangle_count(g_sym_m, pre_symmetrized=True)
    if total is None:
        df.count()
    return time.perf_counter() - t0, df, total


def keyed_output(algo: str, df, names: dict, names_m: dict) -> dict:
    """{skey: value}: PageRank's raw rank, TC's corner count, or the
    string key of a CC/LP label (min vid == min skey by construction).
    ``names``/``names_m`` map vid -> skey in the plain/membership graph."""
    names = names_m if algo == "tc" else names
    col = {"pagerank": "rank", "tc": "tc"}.get(algo, "label")

    def key(vid):
        return names.get(vid, f"<unknown vid {vid}>")

    rows = df.select("vid", col).collect()
    if col == "label":
        return {key(v): key(lab) for v, lab in rows}
    return {key(v): x for v, x in rows}


def check_output(algo: str, got: dict, want: dict) -> list[str]:
    import oracle

    if algo == "pagerank":
        got = {k: round(v * 1e6) for k, v in got.items()}
    return oracle.mismatches(ORACLE_OF[algo], got, want[ORACLE_OF[algo]])


def same_output(algo: str, a: dict, b: dict) -> bool:
    """Resumed vs uninterrupted: labels equal, max |delta rank| <= 1e-12."""
    if algo != "pagerank" or a.keys() != b.keys():
        return a == b
    return max((abs(a[k] - b[k]) for k in a), default=0.0) <= 1e-12


def superstep_stats(runner, n: int) -> dict:
    """Superstep count and per-superstep wall from the runner's log rows
    (``elapsed_sec`` deltas from the runner's start, so the first one
    carries the loop's own set-up; a fused block's delta is split evenly
    over its supersteps), plus CC/LP's mean changed fraction."""
    rows = [r for r in runner.metrics if "converged" not in r]
    per, changed = [], []
    prev = {"iteration": 0, "elapsed_sec": 0.0}
    for r in rows:
        if r["iteration"] > prev["iteration"]:
            k = r["iteration"] - prev["iteration"]
            per += [(r["elapsed_sec"] - prev["elapsed_sec"]) / k] * k
        prev = r
        if "changed" in r:
            changed.append(r["changed"] / max(1, n))
    return {
        "supersteps": rows[-1]["iteration"] if rows else 0,
        "p50": statistics.median(per) if per else 0.0,
        "max": max(per) if per else 0.0,
        "changed_frac": statistics.mean(changed) if changed else 0.0,
        "log": [(r["iteration"], r["elapsed_sec"]) for r in rows],
    }


def kill_after_first_durable(ckpt_dir: str, algo: str) -> None:
    for d in sorted(glob.glob(os.path.join(ckpt_dir, algo, "iter=*")))[1:]:
        shutil.rmtree(d)


# --- per-layer metrics from the spans -----------------------------------


def layer_metrics(tr, cores: int) -> dict:
    out = {}

    def counters(spans):
        tot: dict = {}
        for s in spans:
            for k, v in tr.with_counters_total(s).items():
                tot[k] = tot.get(k, 0) + v
        return tot

    def wall(spans):
        return sum(s["end"] - s["start"] for s in spans)

    keyed, prep = tr.find("graph.keyed"), tr.find("graph.prepared")
    c = counters(keyed)
    out["graph.keyed_s"] = wall(keyed)
    out["graph.keyed_jobs"] = c.get("jobs", 0)
    out["graph.keyed_shuffle_mb"] = c.get("shuffle_write_bytes", 0) / 1e6
    out["graph.keyed_exec_s"] = c.get("exec_run_ms", 0) / 1e3
    c = counters(prep)
    out["graph.prepare_s"] = wall(prep)
    out["graph.prepare_jobs"] = c.get("jobs", 0)
    out["graph.prepare_shuffle_mb"] = c.get("shuffle_write_bytes", 0) / 1e6
    for a in ALGOS:
        first = tr.find(f"algos.{a}")[:1]
        c, w = counters(first), wall(first)
        out[f"algos.{a}.jobs"] = c.get("jobs", 0)
        out[f"algos.{a}.tasks"] = c.get("tasks", 0)
        out[f"algos.{a}.shuffle_mb"] = c.get("shuffle_write_bytes", 0) / 1e6
        out[f"algos.{a}.exec_s"] = c.get("exec_run_ms", 0) / 1e3
        out[f"algos.{a}.exec_util"] = out[f"algos.{a}.exec_s"] / (w * cores) if w else 0.0
        out[f"algos.{a}.failed_tasks"] = c.get("failed_tasks", 0)
    return out


def add_superstep_spans(tr, parent: dict, algo: str, runner, stats: dict) -> None:
    """Engine spans for one loop, placed from the runner's log rows."""
    if not tr.enabled:
        return
    t0 = runner._t0
    prev_t = parent["start"]
    for it, el in stats["log"]:
        tr.add(f"engine.{algo}.superstep", prev_t, t0 + el, parent=parent, iteration=it)
        prev_t = t0 + el


# --- main -------------------------------------------------------------


def parse_args():
    ap = argparse.ArgumentParser(description="End-to-end benchmark of the essentials_spark user path.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "essentials_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        fail(f"no essentials_spark program in {ROOT}; run from a full checkout")
    sys.path[:0] = [HERE, ROOT]
    import gen
    import oracle
    from spans import Tracer

    wl = WORKLOADS[args.workload]
    cores = nproc()
    # local[nproc] with one shuffle partition per core: the program's
    # defaults (32 and 32) are the same rule for a 32-core box
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", os.environ["SPARK_GRAFT_CPUS"])
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(CACHE, "runs", run_id)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": cores,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"],
        "java_procs_before": java_processes(),
        "loadavg_before": round(os.getloadavg()[0], 2), "python": platform.python_version(),
    }
    ticks0 = cpu_ticks()

    # inputs and oracles are untimed
    sf_dir, shape = gen.ensure_events(CACHE, args.seed, **wl["events"])
    record["shape"] = shape
    from essentials_spark.engine.static_table import STATE_BROADCAST_MAX_ROWS

    gate = 4 * STATE_BROADCAST_MAX_ROWS
    if shape["m_sym"] > gate:
        fail(f"{args.workload} must stay below the {gate}-row superstep_conf gate: {shape}")

    # the oracle overlaps the first set-up, the cold one, which the
    # median of the set-ups never picks
    with ThreadPoolExecutor(max_workers=1) as pool:
        want_f = pool.submit(oracle.expected, sf_dir, CACHE, cores)
        setups, spark = [], None
        for _ in range(N_SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_spark(run_dir)
            warmup_superstep(spark)
            setups.append(time.perf_counter() - t0)
            if len(setups) == 1:
                want = want_f.result()
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    record["spark"] = spark.version
    record["java"] = sc._jvm.java.lang.System.getProperty("java.version")
    record["setups_s"] = setups

    tr = Tracer(run_id, enabled=bool(args.trace), sc=sc if args.trace else None)
    errors: list[str] = []
    attempted = failed = 0
    layer: dict = {}
    samples: dict[str, list[float]] = {a: [] for a in ALGOS}
    try:
        if args.trace:
            # the io layer on its own: parquet scan + transcript derivation
            from essentials_spark.io.transcripts import transcripts_from_events

            with tr.span("io") as s:
                layer["io.rows"] = transcripts_from_events(
                    spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
                ).count()
            layer["io.scan_s"] = s["end"] - s["start"]

        t0 = time.perf_counter()
        with tr.span("build"):
            kg, kg_m, pg, g_sym_m = build(spark, sf_dir, tr)
        build_s = time.perf_counter() - t0

        built = {"n": kg.graph.vertices.count(), "m": kg.graph.edges.count(), "m_sym": pg.sym_st.df.count(),
                 "n_m": kg_m.graph.vertices.count(), "m_sym_m": g_sym_m.edges.count()}
        errors += [f"build: {k} = {v}, expected {shape[k]}" for k, v in built.items() if v != shape[k]]
        names = dict(kg.vkeys.select("vid", "skey").collect())
        names_m = dict(kg_m.vkeys.select("vid", "skey").collect())

        outputs: dict[str, dict] = {}
        runners: dict = {}
        t_start = time.perf_counter()
        passes = 0
        while passes == 0 or time.perf_counter() - t_start < args.seconds:
            ckpt = os.path.join(run_dir, f"ckpt{passes}") if wl["resume"] else None
            with tr.span("suite"):
                for a in ALGOS:
                    runner = runner_for(spark, a, ckpt)
                    attempted += 1
                    try:
                        with tr.span(f"algos.{a}") as sp:
                            dt, df, total = run_algo(a, pg, g_sym_m, runner)
                    except Exception as exc:  # counted as a failed call
                        traceback.print_exc()
                        failed += 1
                        errors.append(f"{a}: raised {type(exc).__name__}: {exc}")
                        continue
                    samples[a].append(dt)
                    if passes:
                        continue
                    if runner is not None:
                        runners[a] = runner
                        add_superstep_spans(tr, sp, a, runner, superstep_stats(runner, built["n"]))
                    with tr.span(f"check.{a}"):  # the benchmark's own, untimed
                        outputs[a] = keyed_output(a, df, names, names_m)
                    bad = check_output(a, outputs[a], want)
                    if a == "tc" and total != sum(outputs[a].values()):
                        bad.append(f"tc: total {total} is not the sum of per-vertex corners")
                    failed += bool(bad)
                    errors += bad
            passes += 1
        record["passes"] = passes
        record["samples_s"] = samples
        record["deterministic"] = {
            "cc_supersteps": superstep_stats(runners["cc"], built["n"])["supersteps"] if "cc" in runners else None,
            "tc_total": sum(outputs["tc"].values()) if "tc" in outputs else None,
            "n": built["n"], "m": built["m"],
        }

        resume_s = None
        if wl["resume"]:
            ckpt = os.path.join(run_dir, "ckpt0")
            layer["engine.ckpt_count"] = len(glob.glob(os.path.join(ckpt, "*", "iter=*")))
            layer["engine.ckpt_mb"] = dir_mb(ckpt)
            layer["engine.restore_s"] = 0.0
            resume_s = 0.0
            for a in CKPT_EVERY:
                kill_after_first_durable(ckpt, a)
                if args.trace:
                    t0 = time.perf_counter()
                    runner_for(spark, a, ckpt).latest()
                    layer["engine.restore_s"] += time.perf_counter() - t0
                attempted += 1
                try:
                    with tr.span(f"engine.resume.{a}"):
                        dt, df, _ = run_algo(a, pg, g_sym_m, runner_for(spark, a, ckpt))
                except Exception as exc:  # counted as a failed call
                    traceback.print_exc()
                    failed += 1
                    errors.append(f"{a} resume: raised {type(exc).__name__}: {exc}")
                    continue
                resume_s += dt
                again = keyed_output(a, df, names, names_m)
                bad = check_output(a, again, want)
                if a in outputs and not same_output(a, again, outputs[a]):
                    bad.append(f"{a}: the resumed output differs from the uninterrupted run")
                failed += bool(bad)
                errors += bad
        layer["jvm.peak_rss_mb"] = record["peak_rss_mb"] = vm_hwm_mb(jvm_pid)
        if args.trace:
            layer.update(layer_metrics(tr, cores))
            for a in LOOPS:
                st = superstep_stats(runners[a], built["n"]) if a in runners else None
                layer[f"engine.{a}.supersteps"] = st["supersteps"] if st else 0
                layer[f"engine.{a}.superstep_p50_s"] = st["p50"] if st else 0.0
                layer[f"engine.{a}.superstep_max_s"] = st["max"] if st else 0.0
                if a == "cc":
                    layer["engine.cc.changed_frac"] = st["changed_frac"] if st else 0.0
        pg.close()
    finally:
        stop_spark(spark, jvm_pid)

    # CPU time the hypervisor gave to other guests during the run: a
    # high share marks a run slowed by the host, not by the program
    delta = [b - a for a, b in zip(ticks0, cpu_ticks())]
    record["steal_frac"] = delta[7] / max(1, sum(delta)) if len(delta) > 7 else None
    med = {a: statistics.median(samples[a]) if samples[a] else float("nan") for a in ALGOS}
    suite_s = sum(med.values())
    work = 20 * shape["m"] + 5 * shape["m_sym"] + shape["m_sym"] + shape["m_sym_m"]
    layer["lp_s"], layer["tc_s"] = med["lp"], med["tc"]
    e2e = {
        "setup_s": statistics.median(setups), "build_s": build_s,
        "pagerank_s": med["pagerank"], "cc_s": med["cc"], "suite_s": suite_s, "total_s": build_s + suite_s, "teps": work / suite_s,
        # a workload without checkpoints restarts from the beginning: its
        # restart-to-result time is the PageRank + CC time
        "resume_s": resume_s if resume_s is not None else med["pagerank"] + med["cc"],
    }
    record["algo_s"] = med
    record["error_rate"] = failed / max(1, attempted)
    record["errors"] = errors
    record["end_to_end"] = e2e
    if args.trace:
        layer["traced.build_s"], layer["traced.suite_s"] = build_s, suite_s
        for k in LAYER_UNITS:
            layer.setdefault(k, 0)
        record["per_layer"] = layer
        record["trace_overhead"] = trace_overhead(args.workload, build_s, suite_s)
        span_path = os.path.join(CACHE, "traces", f"{run_id}.json")
        os.makedirs(os.path.dirname(span_path), exist_ok=True)
        tr.write(span_path)
        record["spans"] = span_path

    print_table(record, e2e, layer if args.trace else None)
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    with open(os.path.join(CACHE, "results", f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    line, code = verdict(errors, attempted, failed, layer if args.trace else e2e,
                         LAYER_UNITS if args.trace else E2E_UNITS)
    print(json.dumps(record, default=str))
    print(json.dumps(line))
    return code


def verdict(errors: list[str], attempted: int, failed: int, metrics: dict, units: dict) -> tuple[dict, int]:
    """The closing result line and the exit code: 0 only without errors."""
    line = {
        "correct": not errors, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return line, 0 if not errors else 1


def trace_overhead(workload: str, build_s: float, suite_s: float) -> dict | None:
    """Traced minus untraced build_s and suite_s, against the median of
    this checkout's earlier untraced runs of the workload (None if none)."""
    prior = []
    for path in glob.glob(os.path.join(CACHE, "results", f"{workload}-s*-t0-*.json")):
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("workload") == workload and not rec.get("errors"):
            prior.append(rec["end_to_end"])
    if not prior:
        return None
    return {
        "untraced_runs": len(prior),
        "build_s": build_s - statistics.median(p["build_s"] for p in prior),
        "suite_s": suite_s - statistics.median(p["suite_s"] for p in prior),
    }


def print_table(record: dict, e2e: dict, layer: dict | None) -> None:
    print(f"# {record['workload']} seed={record['seed']} nproc={record['nproc']} "
          f"java_before={record['java_procs_before']} load={record['loadavg_before']} "
          f"steal={record['steal_frac']}")
    for k, u in E2E_UNITS.items():
        print(f"{k:<34} {e2e[k]:>14.4f} {u}")
    for a in ("lp", "tc"):
        print(f"{a + '_s':<34} {record['algo_s'][a]:>14.4f} s")
    print(f"{'error_rate':<34} {record['error_rate']:>14.4f} fraction")
    print(f"{'peak_rss_mb':<34} {record['peak_rss_mb']:>14.4f} MB")
    for k, u in (LAYER_UNITS.items() if layer else ()):
        if k not in ("lp_s", "tc_s"):
            print(f"{k:<34} {layer[k]:>14.4f} {u}")
    for e in record["errors"]:
        print(f"MISMATCH {e}")


if __name__ == "__main__":
    sys.exit(main())

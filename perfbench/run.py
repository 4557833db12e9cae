"""Benchmark command for preprocessor_spark.

    python3 perfbench/run.py --workload tabular_bulk --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --selfcheck

Run from the root of a checkout. One run generates (or reuses) the seeded
inputs of one workload, starts a local Spark session, loads and caches the
inputs, runs warm-up ops that are discarded, then runs whole rounds of ops for
``--seconds`` in a closed loop with one client, checking every op's outputs.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")

NPROC = len(os.sched_getaffinity(0))
SLOTS = max(1, min(2, NPROC))  # Spark task slots, never more than nproc
DRIVER_MEM = "2g"
LOAD_REPS = 3  # input loads per run; setup_s takes their median
# C1 only: every op generates new classes (Spark codegen), so with the C2
# tier the JVM keeps compiling and an op's CPU time halves over the first
# eight ops; with C1 alone it settles after the first (README, "Steadiness")
JIT = "-XX:TieredStopAtLevel=1"

# (metric, layer span, counter, unit, better)
PER_LAYER = [
    ("session.get_spark.wall_ms", "session.get_spark", "wall_ms", "ms", "lower"),
    ("input.load.wall_ms", "input.load", "wall_ms", "ms", "lower"),
    *[
        (f"preprocessor.fit.{c}", "preprocessor.fit", c, u, "lower")
        for c, u in (
            ("wall_ms", "ms"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("driver_ms", "ms"), ("exec_cpu_ms", "ms"), ("shuffle_bytes", "B"),
        )
    ],
    ("preprocessor.transform.build_ms", "preprocessor.transform", "wall_ms", "ms", "lower"),
    ("preprocessor.transform.plan_nodes", "preprocessor.transform", "plan_nodes", "count", "lower"),
    ("preprocessor.inverse_transform.build_ms", "preprocessor.inverse_transform", "wall_ms", "ms", "lower"),
    ("preprocessor.inverse_transform.plan_nodes", "preprocessor.inverse_transform", "plan_nodes", "count", "lower"),
    ("preprocessor.transform.exec_ms", "preprocessor.transform.exec", "wall_ms", "ms", "lower"),
    ("preprocessor.transform.exec_cpu_ms", "preprocessor.transform.exec", "exec_cpu_ms", "ms", "lower"),
    ("preprocessor.transform.shuffle_bytes", "preprocessor.transform.exec", "shuffle_bytes", "B", "lower"),
    ("preprocessor.transform.arrow_eval_nodes", "preprocessor.transform", "arrow_eval_nodes", "count", "lower"),
    ("preprocessor.inverse_transform.exec_ms", "preprocessor.inverse_transform.exec", "wall_ms", "ms", "lower"),
    ("operators.text.filter.wall_ms", "operators.text.filter", "wall_ms", "ms", "lower"),
    ("operators.text.filter.exec_cpu_ms", "operators.text.filter", "exec_cpu_ms", "ms", "lower"),
    ("operators.text.filter.kept_docs", "operators.text.filter", "kept_docs", "count", "higher"),
    ("operators.dedup.exact.wall_ms", "operators.dedup.exact", "wall_ms", "ms", "lower"),
    ("operators.dedup.exact.shuffle_bytes", "operators.dedup.exact", "shuffle_bytes", "B", "lower"),
    ("operators.dedup.minhash_lsh_pairs.wall_ms", "operators.dedup.minhash_lsh_pairs", "wall_ms", "ms", "lower"),
    ("operators.dedup.minhash_lsh_pairs.candidate_pairs", "operators.dedup.minhash_lsh_pairs", "candidate_pairs", "count", "lower"),
    ("operators.dedup.minhash_lsh_pairs.verified_pairs", "operators.dedup.minhash_lsh_pairs", "verified_pairs", "count", "higher"),
    ("operators.dedup.minhash_lsh_pairs.verify_yield", "operators.dedup.minhash_lsh_pairs", "verify_yield", "ratio", "higher"),
    ("operators.dedup.minhash_lsh_pairs.arrow_eval_nodes", "operators.dedup.minhash_lsh_pairs", "arrow_eval_nodes", "count", "lower"),
    ("operators.graph.dedup_keep_canonical.wall_ms", "operators.graph.dedup_keep_canonical", "wall_ms", "ms", "lower"),
    ("operators.graph.dedup_keep_canonical.jobs", "operators.graph.dedup_keep_canonical", "jobs", "count", "lower"),
    ("operators.graph.dedup_keep_canonical.driver_ms", "operators.graph.dedup_keep_canonical", "driver_ms", "ms", "lower"),
    ("operators.graph.dedup_keep_canonical.edges_in", "operators.graph.dedup_keep_canonical", "edges_in", "count", "lower"),
    ("caching.persist_scope.persisted_rdds_after", "caching.persist_scope", "persisted_rdds_after", "count", "lower"),
    ("operators.pq.train.wall_ms", "operators.pq.train", "wall_ms", "ms", "lower"),
    ("operators.pq.train.jobs", "operators.pq.train", "jobs", "count", "lower"),
    ("operators.pq.ivfpq_assign_encode.wall_ms", "operators.pq.ivfpq_assign_encode", "wall_ms", "ms", "lower"),
    ("operators.pq.ivfpq_assign_encode.arrow_eval_nodes", "operators.pq.ivfpq_assign_encode", "arrow_eval_nodes", "count", "lower"),
    ("operators.pq.ivfpq_assign_encode.exec_cpu_ms", "operators.pq.ivfpq_assign_encode", "exec_cpu_ms", "ms", "lower"),
    ("operators.pq.ivfpq_search.wall_ms", "operators.pq.ivfpq_search", "wall_ms", "ms", "lower"),
    ("operators.pq.ivfpq_search.driver_ms", "operators.pq.ivfpq_search", "driver_ms", "ms", "lower"),
    ("operators.pq.ivfpq_search.jobs", "operators.pq.ivfpq_search", "jobs", "count", "lower"),
    ("trace.overhead_pct", None, None, "%", "lower"),
]


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selfcheck", action="store_true", help="every workload on tiny inputs, traced")
    args = p.parse_args(argv)
    if not args.selfcheck and args.workload is None:
        p.error("--workload is required unless --selfcheck is given")
    return args


def _start_spark():
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from preprocessor_spark.session import get_spark

    local = os.path.join(DATA, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        "perfbench",
        cpus=SLOTS,
        shuffle_partitions=2 * SLOTS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} {JIT}",
            "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _run_record(spark, workload: str, seed: int, trace: int, host_before: dict) -> dict:
    from tracing import host_state

    sc = spark.sparkContext
    jvm = sc._jvm.java.lang.System
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "nproc": NPROC,
        "slots_requested": SLOTS,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": DRIVER_MEM,
        "spark": spark.version,
        "python": sys.version.split()[0],
        "java": jvm.getProperty("java.version"),
        "host_before": host_before,
        "host_after": host_state(),
    }


def run_workload(spark, name: str, seed: int, seconds: float, trace: int, small: bool,
                 session_s: float, gen_s: float) -> dict:
    import inputs
    from tracing import Tracer, host_state, tree_peak_rss_mb
    from workloads import WORKLOADS

    host_before = host_state()
    data_dir, ref = inputs.ensure_inputs(DATA, name, small, seed)
    tracer = Tracer(spark.sparkContext)
    wl = WORKLOADS[name](spark, tracer, data_dir, ref)
    load_s = []
    for _ in range(LOAD_REPS):
        t0 = time.perf_counter()
        wl.load()
        load_s.append(time.perf_counter() - t0)
    setup_s = session_s + _median(load_s)
    wl.prepare()

    t_warm = time.perf_counter()
    for i in range(wl.warmup_ops):
        wl.op(i)
    warmup_s = time.perf_counter() - t_warm

    ops, i, t0 = [], wl.warmup_ops, time.perf_counter()
    # whole rounds until ``seconds`` have passed (and, in a traced run, at
    # least four work ops have run); a traced run traces work ops 0, 3, 4, 7,
    # ... and leaves 1, 2, 5, 6, ... untraced, so that warming up over the
    # run does not bias the overhead
    n_work, min_work = 0, 4 if trace else 1
    while True:
        for _ in range(wl.round_ops):
            refit = wl.is_refit(i)
            tracer.enabled, tracer.op_id = bool(trace) and not refit and n_work % 4 in (0, 3), i
            res = wl.op(i)
            tracer.read_spark_counters()
            res["traced"], res["op"] = tracer.enabled, i
            res["latency"] = sum(res["phases"].values())
            res["cpu_s"] = sum(res["cpu"].values())
            tracer.enabled = False
            ops.append(res)
            n_work += not refit
            i += 1
        if time.perf_counter() - t0 >= seconds and n_work >= min_work:
            break

    work = [o for o in ops if not o.get("refit")]
    plain = [o["latency"] for o in work if not o["traced"]]
    plain_cpu = [o["cpu_s"] for o in work if not o["traced"]]
    result = {
        "correct": True,
        "attempted": len(ops),
        "failed": sum(1 for o in ops if o.get("failed")),
    }
    rss = tree_peak_rss_mb(os.getpid())
    if trace:
        traced_ops = {o["op"] for o in work if o["traced"]}
        traced_cpu = [o["cpu_s"] for o in work if o["traced"]]
        setup_values = {"session.get_spark": session_s * 1e3, "input.load": _median(load_s) * 1e3}
        metrics = {}
        for metric, layer, counter, unit, _ in PER_LAYER:
            if layer is None:
                value = 100.0 * (_median(traced_cpu) / _median(plain_cpu) - 1.0) if plain_cpu and traced_cpu else 0.0
            elif layer in setup_values:
                value = setup_values[layer]
            else:
                vals = [
                    r["counts"][counter]
                    for r in tracer.spans + tracer.notes
                    if r["name"] == layer and r["op"] in traced_ops and counter in r["counts"]
                ]
                value = _median(vals)
            metrics[metric] = {"value": value, "unit": unit}
        self_ms = tracer.self_times()
        _write_trace(name, seed, small, tracer, self_ms)
        for layer, ms in sorted(self_ms.items(), key=lambda kv: -kv[1]):
            print(f"self_ms {layer} {ms:.1f}")
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_cpu_s": {"value": _median(plain_cpu), "unit": "s"},
        }
    record = _run_record(spark, name, seed, trace, host_before)
    record.update(
        {
            "generate_s": gen_s,
            "session_s": session_s,
            "load_s": load_s,
            "warmup_s": warmup_s,
            "ops": len(work),
            "op_latencies_s": [round(o["latency"], 4) for o in work],
            "op_cpu_s": [round(o["cpu_s"], 3) for o in work],
            "peak_rss_mb": sum(map(sum, rss.values())),
            "peak_rss_mb_by_process": {k: [round(x) for x in v] for k, v in rss.items()},
            "op_ms": _median(plain) * 1e3,
            "rows_per_s": sum(o["rows"] for o in work if not o["traced"]) / sum(plain),
            "phase_medians_s": _phase_medians(work, "phases"),
            "phase_cpu_medians_s": _phase_medians(work, "cpu"),
        }
    )
    if len(plain) >= 100:  # at least ten samples beyond the 90th percentile
        record["p90_ms"] = statistics.quantiles(plain, n=10)[-1] * 1e3
    print("record: " + json.dumps(record))
    result["metrics"] = metrics
    return result


def _phase_medians(work: list, key: str) -> dict:
    """Median over the untraced ops of each phase's wall or CPU time."""
    names = sorted({k for o in work for k in o[key]})
    return {k: _median([o[key][k] for o in work if not o["traced"] and k in o[key]]) for k in names}


def _write_trace(name, seed, small, tracer, self_ms) -> None:
    out = os.path.join(DATA, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{name}-{'small' if small else 'full'}-s{seed}.json")
    with open(path, "w") as f:
        json.dump({"spans": tracer.spans, "notes": tracer.notes, "self_ms": self_ms}, f)
    print(f"trace written to {os.path.relpath(path, ROOT)}")


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "preprocessor_spark", "__init__.py")):
        print("perfbench: preprocessor_spark not found next to perfbench/; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.makedirs(os.path.join(DATA, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(DATA, "tmp")
    import inputs
    from workloads import WORKLOADS, CheckFailed

    names = list(WORKLOADS) if args.selfcheck else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}; one of {list(WORKLOADS)}", file=sys.stderr)
        return 2
    # inputs are the benchmark's own cost: generate them before the session
    # and keep their time out of setup_s
    t0 = time.perf_counter()
    for n in names:
        inputs.ensure_inputs(DATA, n, args.selfcheck, args.seed)
    gen_s = time.perf_counter() - t0
    spark = _start_spark()
    session_s = time.perf_counter() - T_START - gen_s
    try:
        if args.selfcheck:
            for n in names:
                t1 = time.perf_counter()
                res = run_workload(spark, n, args.seed, 0, 1, True, session_s, gen_s)
                print(f"selfcheck {n}: ok, {res['attempted']} ops, {res['failed']} failed, "
                      f"{time.perf_counter() - t1:.1f} s")
            return 0
        result = run_workload(spark, args.workload, args.seed, args.seconds, args.trace,
                              False, session_s, gen_s)
    except CheckFailed as e:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    finally:
        _stop_spark(spark)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md):
  dataflow_refresh   Method.main over a seeded variants/ tree: a cold build,
                     then rounds of no-op check, new dataset, one-file update
  batch_queries      batch headline queries, a cold pass then warm passes
  streaming_queries  the stream_* headline ops, AvailableNow into memory sinks

Each run is its own process on local[nproc] with one client thread. It works
in a fresh directory under .perfbench/runs/ in the checkout (TMPDIR, Spark
local dirs, warehouse, ledger, outputs and the process cwd), generates its
inputs from --seed, checks every output outside the timed regions, writes
a result file (and, traced, its spans) under .perfbench/results/, and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dataflow_refresh", "batch_queries", "streaming_queries")
SETUP_REPEATS = 3

# input sizes per workload; "tiny" is the self-test size
SIZES = {
    "full": {"sf": 0.01, "ancestries": 4, "datasets": 3, "rows": 1000, "rounds": 1},
    "tiny": {"sf": 0.001, "ancestries": 2, "datasets": 2, "rows": 200, "rounds": 1},
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    p.add_argument("--queries", help="comma-separated query subset (self-tests)")
    p.add_argument(
        "--sf-dir",
        help="calibration: read the query workloads' tables from this directory "
        "instead of generating them",
    )
    p.add_argument(
        "--corrupt",
        choices=("output", "ledger"),
        help="self-test: damage a dataflow output or ledger pair before the checks",
    )
    args = p.parse_args(argv)
    if args.sf_dir and args.workload == "dataflow_refresh":
        p.error("--sf-dir applies to the query workloads only")
    if args.sf_dir:
        args.sf_dir = os.path.abspath(args.sf_dir)  # before the run changes cwd
    return args


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def cpu_stat() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    total = sum(a - b for a, b in zip(after, before))
    return 100.0 * (after[7] - before[7]) / total if total > 0 else 0.0


def identity() -> dict:
    """Commit and dirty flag when the checkout is a git work tree, and a
    content hash of the program either way."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    out = {"commit": None, "dirty": None}
    try:
        out["commit"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env, capture_output=True,
            text=True, check=True, timeout=10,
        ).stdout.strip()
        out["dirty"] = bool(
            subprocess.run(
                ["git", "status", "--porcelain", "--untracked-files=no"], cwd=ROOT,
                env=env, capture_output=True, text=True, check=True, timeout=30,
            ).stdout.strip()
        )
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "dig_aggregator_core_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    out["program_sha256"] = h.hexdigest()
    return out


def isolate(run_dir: str, cpus: int, heap_mb: int) -> dict:
    """Point every place the program writes at this run's own directory."""
    paths = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "cwd", "inputs", "work")}
    for p in paths.values():
        os.makedirs(p)
    os.environ.update(
        TMPDIR=paths["tmp"],
        SPARK_LOCAL_DIRS=paths["local"],
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        PYTHONPATH=os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(paths["cwd"])
    return paths


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


class Bench:
    """What a workload needs: session, tracer, seed, paths, sizes."""


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, still stop the JVM and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    cpus = nproc()
    heap_mb = min(3072, mem_total_mb() // 4)
    size = SIZES[args.size]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time() * 1000)}"
    out_root = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_root, "runs", run_id)
    results_dir = os.path.join(out_root, "results")
    os.makedirs(results_dir, exist_ok=True)
    paths = isolate(run_dir, cpus, heap_mb)
    started: list = []
    try:
        return _run(args, cpus, heap_mb, size, run_id, paths, results_dir, started)
    finally:
        while started:  # a run that raised
            stop(started.pop())
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, cpus, heap_mb, size, run_id, paths, results_dir, started) -> int:
    import gen
    import layers
    import spans as tr
    import workloads as wl

    from dig_aggregator_core_spark import registry
    from dig_aggregator_core_spark.session import get_spark
    from tests.oracle import duck_con

    registry.load_all()
    setup = {"import_s": time.perf_counter() - T_PROCESS}

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": paths["local"],
        "spark.sql.warehouse.dir": os.path.join(paths["cwd"], "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={paths['tmp']}",
    }
    if args.trace:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    started.append(spark)
    spark.sparkContext.setLogLevel("ERROR")
    setup["session_start_s"] = time.perf_counter() - t0

    b = Bench()
    b.spark, b.seed, b.seconds, b.cpus = spark, args.seed, args.seconds, cpus
    b.tracer = tr.Tracer(bool(args.trace), run_id, spark.sparkContext)

    t0 = time.perf_counter()
    _warmup(spark, args.workload, paths, wl)
    setup["warmup_s"] = time.perf_counter() - t0
    # Input generation runs SETUP_REPEATS times, each into a fresh
    # directory, and counts once at its median. Each repeat must produce
    # the same inputs: the generators are pure in the seed.
    gens, shas = [], []
    for i in range(0 if args.sf_dir else SETUP_REPEATS):
        t0 = time.perf_counter()
        inp = os.path.join(paths["inputs"], str(i))
        if args.workload == "dataflow_refresh":
            tree = wl.Tree(inp, args.seed, size["ancestries"], size["datasets"], size["rows"])
        else:
            gen.sf_tables(inp, size["sf"], args.seed)
        gens.append(time.perf_counter() - t0)
        shas.append(gen.tree_sha256(inp))
    if args.sf_dir:
        inp, gens, shas = args.sf_dir, [0.0], [gen.tree_sha256(args.sf_dir)]
    if len(set(shas)) != 1:
        raise RuntimeError(f"input generation is not deterministic: {shas}")
    setup["input_gen_s"] = statistics.median(gens)
    b.sf_dir = inp
    if args.workload == "dataflow_refresh":
        b.tree, b.data_root, b.rounds = tree, inp, size["rounds"]
        b.out_root = os.path.join(paths["work"], "out")
        b.warehouse = os.path.join(paths["work"], "warehouse")
    else:
        b.duck = duck_con(inp)
    progress: list[dict] = []
    t0 = time.perf_counter()
    if args.trace:
        spark.streams.addListener(tr.make_stream_listener(progress))
    setup["listener_s"] = time.perf_counter() - t0
    setup_s = sum(setup.values())

    names = args.queries.split(",") if args.queries else None
    stat0 = cpu_stat()
    t_measure = time.perf_counter()
    with b.tracer.span(args.workload, level="workload"):
        if args.workload == "dataflow_refresh":
            b.corrupt = args.corrupt
            ops = wl.dataflow_refresh(b)
        elif args.workload == "batch_queries":
            ops = wl.batch_queries(b, names)
        else:
            ops = wl.streaming_queries(b, names)
    measure_s = time.perf_counter() - t_measure
    stat1 = cpu_stat()
    peak = jvm_peak_rss_mb(spark)

    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    e2e, named = end_to_end(args.workload, ops, setup_s)
    named["peak_rss_mb"] = peak
    named["error_rate"] = failed / attempted

    per_layer = {}
    if args.trace:
        b.tracer.finish()
        jobs = tr.spark_jobs(spark)
        tr.attach_jobs(b.tracer, jobs)
        per_layer = layers.per_layer(b, args.workload, ops, setup, progress)
        per_layer["jvm.peak_rss_mb"] = peak
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": size if args.workload == "dataflow_refresh" else {"sf": size["sf"]},
        "sf_dir": args.sf_dir,
        "inputs_sha256": shas[0],
        "nproc": cpus,
        "driver_heap_mb": heap_mb,
        "steal_pct": steal_pct(stat0, stat1),
        "measure_s": measure_s,
        "versions": versions(spark),
        **identity(),
        "setup": setup,
        "end_to_end": e2e,
        "named": named,
        "per_layer": per_layer,
        "ops": ops,
        "attempted": attempted,
        "failed": failed,
    }
    stop(started.pop())
    result_path = os.path.join(results_dir, f"{run_id}.json")
    if args.trace:
        b.tracer.write(os.path.join(results_dir, f"{run_id}.spans.json"), {"info": info})
    with open(result_path, "w") as fh:
        json.dump(info, fh, indent=1)

    for k, v in sorted(named.items()):
        unit = {"peak_rss_mb": "MB", "error_rate": "ratio"}.get(k, "s")
        print(f"{args.workload} {k} = {v:.6g} {unit}")
    print(
        f"identity commit={info['commit']} dirty={info['dirty']} "
        f"program_sha256={info['program_sha256'][:16]} inputs_sha256={shas[0][:16]} "
        f"nproc={cpus} heap={heap_mb}MB steal={info['steal_pct']:.2f}% "
        f"pyspark={info['versions']['pyspark']} java={info['versions']['java']} "
        f"duckdb={info['versions']['duckdb']} seed={args.seed}"
    )
    print(f"result file: {result_path}")
    metrics = per_layer if args.trace else e2e
    units = layers.UNITS if args.trace else UNITS
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


def stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _warmup(spark, workload, paths, wl) -> None:
    """The untimed warm-up op: JVM, codegen, shuffle and broadcast paths.
    The batch workload also reads Parquet and runs the expression kinds its
    queries use (split/transform/explode over text, JSON parsing, joins,
    windows) on tables of its own, through plain Spark rather than the
    program, so no memo or staged seed of the program is warmed; the
    streaming workload runs the warm-up streams of `stream_warmup` instead."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    dim = spark.range(10).select(F.col("id").alias("k"))
    spark.range(100_000).selectExpr("id % 7 AS k", "id").join(F.broadcast(dim), "k").groupBy(
        "k"
    ).count().collect()
    if workload == "dataflow_refresh":
        return
    import gen

    src = os.path.join(paths["tmp"], "warmup")
    gen.sf_tables(src, 0.001, 0)

    if workload == "streaming_queries":
        wl.stream_warmup(spark, src, os.path.join(src, "ckpt"), "perfbench_warmup")
        return

    def table(name):
        return spark.read.parquet(os.path.join(src, f"{name}.parquet"))

    words = F.expr("transform(filter(split(text, ' '), w -> w <> ''), w -> concat(w, '@', length(w)))")
    table("documents").select("source", F.explode(words).alias("w")).distinct().groupBy(
        "w"
    ).agg(F.collect_set("source").alias("ss")).write.mode("overwrite").format("noop").save()
    li, od = table("lineitem"), table("orders")
    li.join(od, li.l_orderkey == od.o_orderkey).groupBy("o_orderpriority").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), F.countDistinct("l_suppkey")
    ).collect()
    rank = F.row_number().over(Window.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice")))
    od.withColumn("r", rank).filter("r <= 10").collect()
    table("events").select(F.get_json_object("props", "$.k").alias("k")).groupBy("k").count().collect()


def versions(spark) -> dict:
    import duckdb
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
    }


# -- metrics -------------------------------------------------------------

UNITS = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s"}


def _median_pass(ops, kinds) -> float:
    """Median over passes of the summed wall time of the `kinds` ops."""
    totals: dict = {}
    for o in ops:
        if o["kind"] in kinds:
            totals[o["pass"]] = totals.get(o["pass"], 0.0) + o["wall_s"]
    return statistics.median(totals.values())


def end_to_end(workload, ops, setup_s) -> tuple[dict, dict]:
    """The gated metrics (the same names on every workload) and the
    workload's own names for what it measures."""
    if workload == "dataflow_refresh":
        first, steady = ("cold",), ("noop", "new_dataset", "update")
    elif workload == "batch_queries":
        first, steady = ("cold",), ("warm",)
    else:
        first, steady = ("first",), ("first", "warm")
    e2e = {
        "setup_s": setup_s,
        "first_pass_s": _median_pass(ops, first),
        "pass_s": _median_pass(ops, steady),
    }
    named = dict(e2e)
    if workload == "dataflow_refresh":
        for kind, name in (
            ("cold", "dataflow_cold_s"),
            ("noop", "noop_check_s"),
            ("new_dataset", "refresh_new_dataset_s"),
            ("update", "refresh_update_s"),
        ):
            named[name] = statistics.median(o["wall_s"] for o in ops if o["kind"] == kind)
    elif workload == "batch_queries":
        warm = [o["wall_s"] for o in ops if o["kind"] == "warm"]
        named.update(
            query_cold_pass_s=e2e["first_pass_s"],
            query_warm_pass_s=e2e["pass_s"],
            query_p50_s=quantile(warm, 0.5),
            query_p80_s=quantile(warm, 0.8),
        )
    else:
        named.update(
            stream_pass_s=e2e["first_pass_s"],
            stream_p50_s=quantile([o["wall_s"] for o in ops if o["kind"] == "first"], 0.5),
        )
    return e2e, named


if __name__ == "__main__":
    sys.exit(main())

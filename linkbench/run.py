"""Link-graph benchmark: one workload, one seed, one JSON result line.

    python3 linkbench/run.py --workload crawl_e2e --seed 1 --seconds 10 --trace 0
    python3 linkbench/run.py --smoke

Run from the root of a checkout; the engine (ps_pagerank_spark/) and the
oracles (tests/oracle.py) are imported from the directory above this one.
Closed loop, one client: one pass at a time on a Spark local[k] session,
k = min(3, CPUs - 1). A run starts a session, generates the seeded inputs and
stores them through plans.catalog, checks that the Python workers run this
checkout's engine, runs one discarded warm-up pass, then passes until
--seconds of pass time is measured or a pass raises. Every pass is checked
against the oracles outside its timed region. Then it shuts the JVM down and
starts a fresh one that only reads the inputs: set-up is timed from cold on
both launches.

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics of traced passes (see README.md). All scratch files live under
.linkbench/ in the checkout: runs/ is per run and removed at exit, out/
keeps one raw JSON record per run, cache/ keeps oracle results.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".linkbench"
PACKAGE = "ps_pagerank_spark"
WORKLOAD_NAMES = ("crawl_e2e", "graph_algos")
WARMUP_PASSES = 1
CLEANER_WAIT_S = 1.0

E2E_UNITS = {
    "wall_s": "s",
    "setup_s": "s",
    "prep_s": "s",
    "peak_rss_mb": "MB",
}

_STAGE_UNITS = {
    "self_s": "s", "task_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "spill_mb": "MB", "write_mb": "MB",
    "stages": "count", "tasks": "count", "failed_tasks": "count",
}
_PR_UNITS = {
    "prep_s": "s", "loop_s": "s", "iter_first_s": "s",
    "iter_s": "s", "iter_max_s": "s", "iterations": "count",
    "edges_per_s_per_iter": "edges/s",
    "partitions": "count", "task_skew": "ratio",
}


def _layer(module: str, keys: str) -> dict[str, str]:
    units = {**_STAGE_UNITS, **_PR_UNITS, "links": "count", "edges": "count",
             "rounds": "count"}
    return {f"{module}.{k}": units[k] for k in keys.split()}


LAYER_UNITS = {
    "session.start_s": "s",
    **_layer("functions.extract", "self_s task_s gc_s links"),
    **_layer("operators.graph", "self_s task_s shuffle_write_mb spill_mb edges"),
    **_layer("plans.catalog", "self_s write_mb"),
    **_layer("plans.metrics", "self_s"),
    **_layer(
        "operators.pagerank",
        "prep_s loop_s iter_first_s iter_s iter_max_s iterations "
        "edges_per_s_per_iter "
        "partitions shuffle_write_mb shuffle_read_mb spill_mb stages tasks "
        "task_skew failed_tasks self_s task_s gc_s",
    ),
    **_layer("operators.components", "self_s rounds task_s shuffle_write_mb spill_mb"),
    **_layer("operators.labelprop", "self_s task_s shuffle_write_mb"),
    **_layer("operators.triangles", "self_s task_s shuffle_write_mb spill_mb"),
    "workers.peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "trace.unattributed_share": "ratio",
    "trace.overhead_share": "ratio",
}


def task_threads(nproc: int) -> int:
    """Spark task threads: one CPU is left for the driver (py4j, the RSS
    sampler) and the JVM's compiler and GC threads, which otherwise compete
    with tasks and add run-to-run noise."""
    return max(1, min(3, nproc - 1))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES, default="crawl_e2e")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("tiny", "bench"), default="bench")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload tiny, untraced and traced, and "
                    "check the metrics BENCHMARK.json names")
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[linkbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# session lifecycle


def start_spark(k: int, run_dir: Path):
    from ps_pagerank_spark import get_spark

    return get_spark(
        master=f"local[{k}]",
        app_name="linkbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the engine's default of 32 is sized for a 32-core host; its
            # own guidance is 2-3x the task threads
            "spark.sql.shuffle.partitions": str(2 * k),
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            # no hsperfdata under /tmp: the run writes only inside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
            ),
        },
    )


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM to exit (it exits when
    its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# passes


def isolate(ctx, wl) -> None:
    """Leave nothing of one pass for the next: cached DataFrames, catalog
    tables other than the inputs, block stores, checkpoint blocks."""
    ctx.spark.catalog.clearCache()
    root = ctx.catalog._catalog.root
    for table in ctx.catalog.tables():
        if table not in wl.inputs:
            shutil.rmtree(root / table, ignore_errors=True)
    for d in Path(tempfile.gettempdir()).glob("ps_pagerank_blocks_*"):
        shutil.rmtree(d, ignore_errors=True)
    # localCheckpoint blocks and shuffle files go when the ContextCleaner
    # sees them unreachable: drop the Python handles, collect on the JVM,
    # and give the cleaner's asynchronous deletes time to finish before the
    # next pass starts its clock
    gc.collect()
    ctx.spark.sparkContext._jvm.System.gc()
    time.sleep(CLEANER_WAIT_S)


def one_pass(wl, ctx, tracer, rss, traced: bool, kind: str, first: bool) -> dict:
    from host import host_sample, steal_share

    if not first:
        isolate(ctx, wl)
    tracer.reset()
    tracer.enabled = traced
    rss.reset()
    before = host_sample()
    rec = {"kind": kind, "traced": traced, "failures": []}
    p = None
    try:
        p = wl.run_pass(ctx, tracer)
    except Exception as e:  # a raised call is a failed pass, not a dead run
        traceback.print_exc(file=sys.stderr)
        rec["failures"].append(f"{type(e).__name__}: {e}")
    finally:
        tracer.enabled = False
    after = host_sample()
    rec.update(
        peaks_mb=rss.peaks(),
        loadavg_before=before["loadavg"],
        loadavg_after=after["loadavg"],
        steal_share=steal_share(before, after),
    )
    if p is not None:
        rec.update(wall_s=p.wall_s, prep_s=p.prep_s, info=p.info)
        try:
            rec["failures"] += wl.check(ctx, p)
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            rec["failures"].append(f"check raised {type(e).__name__}: {e}")
    if traced:
        rec["spans"] = [
            {k: v for k, v in vars(s).items()} for s in tracer.spans
        ]
        rec["layer_metrics"] = layer_metrics(tracer.spans, rec)
    log(f"{kind} pass: wall {rec.get('wall_s', float('nan')):.3f}s "
        f"failures {rec['failures']}")
    return rec


def layer_metrics(spans, rec: dict) -> dict[str, float]:
    from tracing import layer_totals

    tot = layer_totals(spans)

    def g(layer: str, key: str) -> float:
        return float(tot.get(layer, {}).get(key, 0.0))

    info = rec.get("info", {})
    m: dict[str, float] = {}
    for name in LAYER_UNITS:
        module, key = name.rsplit(".", 1)
        src = {"write_mb": "output_mb"}.get(key, key)
        m[name] = g(module, src)
    m["functions.extract.links"] = float(info.get("links", 0))
    m["operators.graph.edges"] = float(info.get("edges", 0))
    m["operators.components.rounds"] = float(info.get("rounds", 0))
    if "iterations" in info:  # PageRank ran in this pass
        ph, its = info["phases"], info["iter_s"]
        pagerank_tot = tot.get("operators.pagerank", {})
        m.update({
            "operators.pagerank.prep_s": ph.get("prep_s", 0.0),
            "operators.pagerank.loop_s": ph.get("conv_s", 0.0),
            "operators.pagerank.iter_first_s": its[0],
            "operators.pagerank.iter_s": statistics.median(its[1:] or its),
            "operators.pagerank.iter_max_s": max(its),
            "operators.pagerank.iterations": float(info["iterations"]),
            "operators.pagerank.edges_per_s_per_iter": info["edges_per_s_per_iter"],
            "operators.pagerank.partitions": float(info["partitions"]),
            "operators.pagerank.task_skew": (
                pagerank_tot.get("max_task_s", 0.0) / pagerank_tot["median_task_s"]
                if pagerank_tot.get("median_task_s") else 0.0
            ),
        })
    m["workers.peak_rss_mb"] = rec["peaks_mb"]["workers"]
    m["jvm.peak_rss_mb"] = rec["peaks_mb"]["jvm"]
    m["session.start_s"] = 0.0  # filled in per run
    m["trace.overhead_share"] = 0.0  # filled in per run
    attributed = sum(s.wall_s + s.metrics_s for s in spans if s.parent is None)
    wall = rec.get("wall_s", 0.0)
    m["trace.unattributed_share"] = 1.0 - attributed / wall if wall else 0.0
    return m


# --------------------------------------------------------------------------
# one run


def file_sha(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def load_expected(wl, ctx, digest: str) -> dict:
    """Oracle results, computed once per (workload, size, seed, code)."""
    import numpy as np

    key = hashlib.sha256(
        "|".join([
            wl.name, ctx.size, str(ctx.seed), digest,
            file_sha(ROOT / "tests" / "oracle.py"), file_sha(HERE / "workloads.py"),
        ]).encode()
    ).hexdigest()[:24]
    path = WORK / "cache" / f"{wl.name}-{ctx.size}-s{ctx.seed}-{key}.npz"
    if path.exists():
        with np.load(path) as z:
            return {k: z[k] for k in z.files}
    exp = wl.expected(ctx)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(f".{os.getpid()}.npz")
    np.savez(tmp, **exp)
    os.replace(tmp, path)
    return exp


def run(args, run_dir: Path) -> dict:
    import host
    from tracing import TracedCatalog, Tracer
    from workloads import WORKLOADS, Ctx, load_oracle

    from ps_pagerank_spark.plans.catalog import Catalog

    wl = WORKLOADS[args.workload](args.size)
    k = task_threads(host.nproc())
    run_id = run_dir.name
    record: dict = {
        "workload": wl.name, "seed": args.seed, "size": args.size,
        "trace": args.trace, "seconds": args.seconds, "task_threads": k,
        "nproc": host.nproc(), "mem_total_mb": host.mem_total_mb(),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }
    starts: list[float] = []

    def cold_start():
        """Launch a fresh JVM and session; the run's TMPDIR holds no engine
        zip at this point, so get_spark ships the package again."""
        t0 = time.perf_counter()
        s = start_spark(k, run_dir)
        starts.append(time.perf_counter() - t0)
        log(f"session started from cold in {starts[-1]:.3f}s")
        return s

    with host.RssSampler() as rss:
        spark = cold_start()
        tracer = Tracer(spark, run_id, enabled=False)
        ctx = Ctx(spark, TracedCatalog(Catalog(str(run_dir / "catalog")), tracer),
                  args.seed, args.size, load_oracle(ROOT), run_id)
        t0 = time.perf_counter()
        wl.generate(ctx)
        record["generate_s"] = time.perf_counter() - t0
        log(f"inputs generated in {record['generate_s']:.3f}s")
        record["spark_conf"] = dict(spark.sparkContext.getConf().getAll())
        record["engine_digest"] = host.check_worker_package(spark, PACKAGE, k)
        t0 = time.perf_counter()
        ctx.expected = load_expected(wl, ctx, record["engine_digest"])
        record["oracle_s"] = time.perf_counter() - t0
        log(f"oracle results ready in {record['oracle_s']:.3f}s")

        passes = [one_pass(wl, ctx, tracer, rss, False, "warmup", i == 0)
                  for i in range(WARMUP_PASSES)]
        if args.trace:  # untraced reference for the tracing overhead
            passes.append(one_pass(wl, ctx, tracer, rss, False, "reference", False))
        measured: list[dict] = []
        while True:
            p = one_pass(wl, ctx, tracer, rss, bool(args.trace), "measured", False)
            measured.append(p)
            # a pass that raised has no wall time: stop rather than retry a
            # call that may fail every time
            if "wall_s" not in p or sum(q["wall_s"] for q in measured) >= args.seconds:
                break
        passes += measured

        # set-up once more from cold, in a fresh JVM that then only reads
        # the inputs: the first launch's read would follow the generation
        spark.stop()
        shutdown_jvm()
        Path(tempfile.gettempdir(), f"{PACKAGE}_pyfiles.zip").unlink()
        spark = cold_start()
        t0 = time.perf_counter()
        for table in wl.inputs:
            ctx.catalog.read(spark, table).count()
        first_read_s = time.perf_counter() - t0
        log(f"first catalog read in {first_read_s:.3f}s")
        spark.stop()
    record["session_start_s"] = starts
    record["first_read_s"] = first_read_s
    setup_s = statistics.median(starts) + first_read_s
    record["passes"] = passes

    failed = sum(1 for p in passes if p["failures"])
    ok = [p for p in measured if "wall_s" in p]
    metrics: dict[str, dict] = {}
    if ok and not args.trace:
        vals = {
            "wall_s": statistics.median(p["wall_s"] for p in ok),
            "setup_s": setup_s,
            "prep_s": statistics.median(p["prep_s"] for p in ok),
            # the lower of the run's pass peaks, warm-up included: on some
            # passes G1 grows the heap by ~500 MB more, whatever the code,
            # and that lands on one pass at a time
            "peak_rss_mb": min(p["peaks_mb"]["total"] for p in passes if "wall_s" in p),
        }
        metrics = {n: {"value": vals[n], "unit": u} for n, u in E2E_UNITS.items()}
    elif ok:
        ref = next(p for p in passes if p["kind"] == "reference")
        lm = {n: statistics.median(p["layer_metrics"][n] for p in ok)
              for n in LAYER_UNITS}
        lm["session.start_s"] = statistics.median(starts)
        if "wall_s" in ref:
            lm["trace.overhead_share"] = (
                statistics.median(p["wall_s"] for p in ok) / ref["wall_s"] - 1.0
            )
        metrics = {n: {"value": lm[n], "unit": u} for n, u in LAYER_UNITS.items()}
    result = {
        "correct": failed == 0 and bool(ok),
        "attempted": len(passes),
        "failed": failed,
        "metrics": metrics,
    }
    record["result"] = result
    out = WORK / "out" / f"{run_id}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(record, indent=1, default=str))
    log(f"raw record: {out}")
    return result


def bench(args) -> int:
    if not (ROOT / PACKAGE).is_dir() or not (ROOT / "tests" / "oracle.py").is_file():
        log(f"no engine sources at {ROOT}: {PACKAGE}/ and tests/oracle.py "
            "are required")
        return 2
    import host

    run_dir = WORK / "runs" / (
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}"
    )
    for sub in ("tmp", "spark-local"):
        (run_dir / sub).mkdir(parents=True)
    # a private TMPDIR per run: the engine ships itself to the workers as
    # $TMPDIR/ps_pagerank_spark_pyfiles.zip and reuses any zip already there
    os.environ["TMPDIR"] = tempfile.tempdir = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # the engine's default driver heap (48g) is sized for a bigger host
    gb = max(1, min(4, int(host.mem_total_mb() / 1024 / 4)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{gb}g"
    sys.path.insert(0, str(ROOT))
    try:
        result = run(args, run_dir)
    finally:
        if "pyspark" in sys.modules:
            shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def smoke() -> int:
    """Every workload at tiny size, untraced and traced: each run must pass
    its checks and print every metric BENCHMARK.json names, with its unit."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    bad = 0
    for name in WORKLOAD_NAMES:
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__).resolve()),
                   "--workload", name, "--seed", "1", "--seconds", "0",
                   "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                                  timeout=600)
            lines = proc.stdout.strip().splitlines()
            problems = []
            if proc.returncode != 0 or not lines:
                problems.append(f"exit code {proc.returncode}")
            else:
                res = json.loads(lines[-1])
                if not res["correct"] or res["failed"]:
                    problems.append(f"{res['failed']} failed passes")
                for metric, unit in want[trace].items():
                    got = res["metrics"].get(metric)
                    if got is None or got.get("unit") != unit:
                        problems.append(f"{metric}: {got}")
            bad += bool(problems)
            log(f"smoke {name} trace={trace}: {'ok' if not problems else problems}")
    return 1 if bad else 0


def main(argv=None) -> int:
    args = parse_args(argv)
    return smoke() if args.smoke else bench(args)


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's workloads: seeded inputs, one pass through the engine's
public functions, and the output checks against the serial oracles in
tests/oracle.py.

Each workload generates its inputs from the seed and stores them through
`plans.catalog` during set-up; a pass reads them back, so the engine only
ever sees the generated tables. Why each workload exists, and which layer
metric should move which end-to-end metric on it, is in README.md.
"""

from __future__ import annotations

import importlib.util
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ps_pagerank_spark.functions.extract import extract_links, normalize_links
from ps_pagerank_spark.operators.components import connected_components
from ps_pagerank_spark.operators.graph import (
    encode_edges,
    dedup_edges,
    encode_vertices,
    vertices_from_edges,
    vertices_from_links,
)
from ps_pagerank_spark.operators.labelprop import label_propagation
from ps_pagerank_spark.operators.pagerank import pagerank
from ps_pagerank_spark.operators.triangles import triangle_counts
from ps_pagerank_spark.plans.metrics import append_metrics, partition_lineage
from ps_pagerank_spark.sources.pages import (
    N_SITES,
    synth_edges_distributed,
    synth_pages_distributed,
    synth_powerlaw_edges,
    url_of,
)

EPS = 1e-6  # PageRank convergence threshold used by every workload
RANK_TOL = 1e-6  # per-vertex |rank - oracle|
SUM_TOL = 1e-9  # |sum(rank) - 1|
LPA_ROUNDS = 5
CHECKPOINT_EVERY = 5
AVG_OUT_DEGREE = 16

# Input sizes. "bench" is what BENCHMARK.json runs: a whole run (JVM starts,
# set-up, one warm-up pass, one measured pass, checks) takes about a minute
# on a 4-CPU host. "tiny" is the smoke test's.
SIZES = {
    "crawl_e2e": {"tiny": 400, "bench": 8_000},
    # (vertices, edges) of each disjoint power-law piece: several pieces
    # give CC and LPA more than one component / label
    "graph_algos": {
        "tiny": [(300, 1_500), (150, 700), (60, 250)],
        # average degree 10: large-star/small-star then takes 3 rounds on
        # every seed tried (at degree 6.5 it took 3 or 4, a 25% swing)
        "bench": [(3_200, 32_000), (1_600, 16_000), (600, 6_000)],
    },
}


def load_oracle(root: Path):
    spec = importlib.util.spec_from_file_location(
        "linkbench_oracle", root / "tests" / "oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Ctx:
    """What a pass needs: the live session, the catalog (wrapped so its
    calls are traced), the seed and size, and the oracle module."""

    spark: object
    catalog: object
    seed: int
    size: str
    oracle: object
    run_id: str
    expected: dict = field(default_factory=dict)


@dataclass
class PassOut:
    """One pass: its timings, the values the end-to-end metrics are made
    of, and handles on the outputs the checks read."""

    wall_s: float = 0.0
    prep_s: float = 0.0
    info: dict = field(default_factory=dict)
    outputs: dict = field(default_factory=dict)


def _set_signature(df: DataFrame, a: str, b: str) -> tuple[int, int, int]:
    """Order-free signature of a set of distinct (a, b) rows: count plus
    two independent 64/32-bit hash XORs."""
    row = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.bit_xor(F.xxhash64(a, b)), F.lit(0)),
        F.coalesce(F.bit_xor(F.hash(a, b).cast("long")), F.lit(0)),
    ).collect()[0]
    return int(row[0]), int(row[1]), int(row[2])


def _url_col(v):
    """Column form of sources.pages.url_of."""
    return F.format_string(
        "https://site%03d.example/p%06d.html",
        (v % N_SITES).cast("int"),
        v.cast("long"),
    )


def _dedup(edges: np.ndarray) -> np.ndarray:
    n = int(edges.max()) + 1
    key = np.unique(edges[:, 0] * n + edges[:, 1])
    return np.stack([key // n, key % n], axis=1)


def _ranks_failures(ranks: DataFrame, ids: np.ndarray, ref: np.ndarray) -> list[str]:
    pdf = ranks.toPandas().sort_values("vertex_id")
    got_ids = pdf["vertex_id"].to_numpy()
    if not np.array_equal(got_ids, ids):
        return [f"rank vertex set differs ({len(got_ids)} vs {len(ids)})"]
    r = pdf["rank"].to_numpy()
    out = []
    err = float(np.max(np.abs(r - ref))) if len(r) else 0.0
    if err > RANK_TOL:
        out.append(f"rank max |diff| {err:.3g} > {RANK_TOL}")
    if abs(r.sum() - 1.0) > SUM_TOL:
        out.append(f"rank sum {r.sum()!r} not within {SUM_TOL} of 1")
    return out


def _pagerank_info(res, n_edges: int) -> dict:
    iters = [m["elapsed_s"] for m in res.metrics]
    steady = iters[1:] or iters
    return {
        "kernel": res.kernel,
        "iterations": res.iterations,
        "partitions": res.ranks.rdd.getNumPartitions(),
        "phases": res.phases,
        "iter_s": iters,
        "n_edges": n_edges,
        "edges_per_s_per_iter": n_edges / statistics.median(steady),
    }


class CrawlE2E:
    """pages -> links -> vertex dictionary -> edges -> PageRank -> metrics."""

    name = "crawl_e2e"
    inputs = ("pages",)

    def __init__(self, size: str):
        self.n_pages = SIZES[self.name][size]

    def generate(self, ctx: Ctx) -> None:
        pages = synth_pages_distributed(
            ctx.spark, self.n_pages, AVG_OUT_DEGREE, ctx.seed
        )
        ctx.catalog.overwrite("pages", pages)

    def expected(self, ctx: Ctx) -> dict:
        gen = (
            synth_edges_distributed(ctx.spark, self.n_pages, AVG_OUT_DEGREE, ctx.seed)
            .select("v", "dst_v")
            .distinct()
            .persist()
        )
        pairs = gen.toPandas().to_numpy(dtype=np.int64)
        links_sig = _set_signature(
            gen.select(
                _url_col(F.col("v")).alias("s"), _url_col(F.col("dst_v")).alias("d")
            ),
            "s",
            "d",
        )
        gen.unpersist()
        vs = np.unique(pairs)
        urls = np.array([url_of(int(v)) for v in vs])
        order = np.argsort(urls, kind="stable")  # ASCII: same order as Spark
        id_of = np.zeros(self.n_pages, dtype=np.int64)
        id_of[vs[order]] = np.arange(len(vs))
        edges = np.stack([id_of[pairs[:, 0]], id_of[pairs[:, 1]]], axis=1)
        edges = edges[np.lexsort((edges[:, 1], edges[:, 0]))]
        ranks, _ = ctx.oracle.pagerank_ref(
            edges.tolist(), len(vs), eps=EPS, dangling_mode="redistribute"
        )
        return {
            "links_sig": np.array(links_sig, dtype=np.int64),
            "urls": urls[order],
            "edges": edges,
            "ranks": ranks,
        }

    def run_pass(self, ctx: Ctx, tr) -> PassOut:
        spark, cat = ctx.spark, ctx.catalog
        out = PassOut()
        t0 = time.perf_counter()
        pages = cat.read(spark, "pages")
        raw = tr.call("functions.extract", extract_links, pages)
        links = tr.call("functions.extract", normalize_links, raw).persist()
        urls = tr.call("operators.graph", vertices_from_links, links)
        vertices = tr.call("operators.graph", encode_vertices, urls)
        cat.overwrite("vertices", vertices)
        vertices = cat.read(spark, "vertices")
        edges = tr.call("operators.graph", encode_edges, links, vertices)
        cat.overwrite("edges", edges)
        edges = cat.read(spark, "edges")
        t_pr = time.perf_counter()
        res = tr.call(
            "operators.pagerank", pagerank, spark, edges,
            eps=EPS, dangling_mode="redistribute",
            checkpoint=cat, checkpoint_every=CHECKPOINT_EVERY,
            out=lambda r: [r.ranks],
        )
        lineage = tr.call("plans.metrics", partition_lineage, res.ranks)
        tr.call(
            "plans.metrics", append_metrics, spark, cat, ctx.run_id,
            res.metrics, lineage,
        )
        out.wall_s = time.perf_counter() - t0
        out.outputs = {
            "links": links, "vertices": vertices, "edges": edges,
            "res": res, "lineage": lineage,
        }
        n_edges = len(ctx.expected["edges"])
        out.info = _pagerank_info(res, n_edges)
        out.prep_s = (
            t_pr - t0 + res.phases.get("prep_s", 0) + res.phases.get("blocks_s", 0)
        )
        out.info["links"] = int(ctx.expected["links_sig"][0])
        out.info["edges"] = n_edges
        return out

    def check(self, ctx: Ctx, p: PassOut) -> list[str]:
        exp, o = ctx.expected, p.outputs
        fails = []
        sig = np.array(_set_signature(o["links"], "src_url", "dst_url"))
        if not np.array_equal(sig, exp["links_sig"]):
            fails.append(f"link set differs: {sig.tolist()} vs {exp['links_sig'].tolist()}")
        v = o["vertices"].toPandas().sort_values("vertex_id")
        if not (
            np.array_equal(v["vertex_id"].to_numpy(), np.arange(len(exp["urls"])))
            and np.array_equal(v["url"].to_numpy().astype(str), exp["urls"])
        ):
            fails.append("vertex dictionary differs from the generator's urls")
        e = o["edges"].toPandas().to_numpy(dtype=np.int64)
        e = e[np.lexsort((e[:, 1], e[:, 0]))]
        if not np.array_equal(e, exp["edges"]):
            fails.append(f"edge set differs ({len(e)} vs {len(exp['edges'])} edges)")
        fails += _ranks_failures(
            o["res"].ranks, np.arange(len(exp["urls"])), exp["ranks"]
        )
        if sum(r["rows"] for r in o["lineage"]) != len(exp["urls"]):
            fails.append("partition lineage does not cover every vertex")
        n_metric_rows = ctx.catalog.read(ctx.spark, "metrics").count()
        if n_metric_rows != o["res"].iterations:
            fails.append(f"{n_metric_rows} metrics rows for {o['res'].iterations} iterations")
        return fails


class GraphAlgos:
    """Connected components, label propagation and triangle counts on one
    power-law graph; no PageRank code runs."""

    name = "graph_algos"
    inputs = ("edges",)

    def __init__(self, size: str):
        self.pieces = SIZES[self.name][size]

    def generate(self, ctx: Ctx) -> None:
        # raw generator output, ~2% duplicate edges included: the pass
        # deduplicates before the operators run
        parts, off = [], 0
        for i, (nv, ne) in enumerate(self.pieces):
            parts.append(synth_powerlaw_edges(nv, ne, seed=ctx.seed * 16 + i) + off)
            off += nv
        raw = np.concatenate(parts)
        pdf = pd.DataFrame({"src_id": raw[:, 0], "dst_id": raw[:, 1]})
        ctx.catalog.overwrite("edges", ctx.spark.createDataFrame(pdf))
        self._edges = _dedup(raw)

    def expected(self, ctx: Ctx) -> dict:
        e = self._edges.tolist()
        ids = np.unique(self._edges)
        vids = ids.tolist()
        orc = ctx.oracle

        def aligned(d: dict) -> np.ndarray:
            return np.array([d[v] for v in vids], dtype=np.int64)

        return {
            "ids": ids,
            "n_edges": np.int64(len(e)),
            "component": aligned(orc.components_ref(e, vids)),
            "label": aligned(orc.label_propagation_ref(e, vids, LPA_ROUNDS)),
            "triangles": aligned(orc.triangles_ref(e, vids)),
        }

    def run_pass(self, ctx: Ctx, tr) -> PassOut:
        spark = ctx.spark
        out = PassOut()
        t0 = time.perf_counter()
        raw = ctx.catalog.read(spark, "edges")
        # one-time per-graph work, shared by the three operators: the
        # deduplicated edge table and the vertex table
        edges = tr.call("operators.graph", dedup_edges, raw, out=lambda r: [r])
        verts = tr.call(
            "operators.graph", vertices_from_edges, edges, out=lambda r: [r]
        )
        out.prep_s = time.perf_counter() - t0
        cc = tr.call(
            "operators.components", connected_components, spark, edges,
            vertices=verts, out=lambda r: [r.components],
        )
        labels = tr.call(
            "operators.labelprop", label_propagation, spark, edges,
            vertices=verts, iterations=LPA_ROUNDS, out=lambda r: [r],
        )
        tris = tr.call(
            "operators.triangles", triangle_counts, spark, edges,
            vertices=verts, out=lambda r: [r],
        )
        out.wall_s = time.perf_counter() - t0
        n_edges = int(ctx.expected["n_edges"])
        out.info = {"rounds": cc.rounds, "n_edges": n_edges, "edges": n_edges}
        out.outputs = {"component": cc.components, "label": labels, "triangles": tris}
        return out

    def check(self, ctx: Ctx, p: PassOut) -> list[str]:
        exp, fails = ctx.expected, []
        for col, df in p.outputs.items():
            pdf = df.toPandas().sort_values("vertex_id")
            if not np.array_equal(pdf["vertex_id"].to_numpy(), exp["ids"]):
                fails.append(f"{col}: vertex set differs")
            elif not np.array_equal(pdf[col].to_numpy(), exp[col]):
                bad = int((pdf[col].to_numpy() != exp[col]).sum())
                fails.append(f"{col}: {bad} vertices differ from the oracle")
        return fails


WORKLOADS = {w.name: w for w in (CrawlE2E, GraphAlgos)}

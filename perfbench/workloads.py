"""The benchmark's workloads.

Each workload has three parts:

- ``setup``: write its inputs (untimed except as ``setup_s``);
- ``run``: the timed part, made only of spanned calls into public linkgraph
  functions, returning what the checks and layer metrics need;
- ``checks``: compare every output with an independent reference, outside
  the timed spans.

No workload passes a partition count: contexts are built through
``Graph(tables, hub_theta=...).ctx``, so the library default
(``linkgraph.graph.DEFAULT_P``) is what gets measured.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
from dataclasses import dataclass, field
from typing import Any

import numpy as np
from pyspark.sql import SparkSession

from linkgraph.checkpoint import CheckpointManager
from linkgraph.derive import build_graph
from linkgraph.graph import Graph
from linkgraph.incremental import ranks_by_key, warm_pagerank_init
from linkgraph.pregel import PageRankProgram, run_program
from linkgraph.ref_single_node import pagerank_ref, triangles_ref
from linkgraph.synth import graph_from_edges
from linkgraph.triangles import count_triangles

from . import inputs
from .spans import Spans

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HUB_THETA = 4096
PR_ATOL = 1e-6


@dataclass
class Env:
    spark: SparkSession
    data: str  # inputs, written by setup
    scratch: str  # per-pass outputs (checkpoints)
    seed: int
    size: dict[str, int]
    spans: Spans = field(default_factory=Spans)


def _edges_np(tables) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    e = tables.edges.select("src", "dst", "w").toPandas()
    return (
        e["src"].to_numpy(np.int64),
        e["dst"].to_numpy(np.int64),
        e["w"].to_numpy(np.float64),
    )


def _by_vid(state, col: str, n: int) -> np.ndarray:
    p = state.select("vid", col).toPandas()
    out = np.zeros(n, dtype=p[col].dtype)
    out[p["vid"].to_numpy(np.int64)] = p[col].to_numpy()
    return out


def _ckpt_footprint(root: str) -> tuple[float, int]:
    """(MB, files) of every committed step directory under a checkpoint root."""
    mb, files = 0.0, 0
    for dirpath, _dirs, names in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        if "step_" not in rel or "._tmp" in rel:
            continue
        for n in names:
            mb += os.path.getsize(os.path.join(dirpath, n)) / 2**20
            files += 1
    return mb, files


# A row over registry code the engine workloads never call: engine_triangles
# (engine_queries) derives its events graph inline and assigns dense ids
# through a global window.  The linkpred rows (adamic_adar, link_negatives,
# ~2.5 s each) are left out to fit the time budget, and the pagerank_naive
# rows (host_pagerank, rank_weighted_sample, decayed_pagerank,
# rank_stability) because each of their unrolled DuckDB oracles takes 9-23 s
# on a 4-core host.
REGISTRY_ROWS = ("engine_triangles",)


def _plan_counts(df) -> dict[str, int]:
    """Plan-shape counts, counted as tools/plan_audit.py counts them."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    return {
        "exchanges": plan.count("Exchange ("),
        "single_partition_exchanges": plan.count("Exchange SinglePartition"),
        "python_eval": plan.count("BatchEvalPython") + plan.count("ArrowEvalPython"),
    }


class RegistryRows:
    """A fixed list of ``__spark_entry__.queries()`` rows, each collected,
    over a seeded ``events`` table in the repo's test-data schema."""

    def setup(self, env: Env) -> None:
        s = env.size
        inputs.events(os.path.join(env.data, "events.parquet"), s["events"], s["users"], env.seed)
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def run(self, env: Env) -> dict[str, Any]:
        got, frames = {}, {}
        for row in REGISTRY_ROWS:
            with env.spans.span("registry." + row):
                frames[row] = self.queries[row](env.spark, env.data)
                got[row] = frames[row].toPandas()
        return dict(got=got, frames=frames)

    def checks(self, env: Env, out: dict[str, Any]) -> dict[str, bool]:
        import duckdb

        sys.path.insert(0, os.path.join(_REPO, "tools"))
        from check_oracle import canon

        checks = {}
        with duckdb.connect() as con:
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM read_parquet('{env.data}/events.parquet')"
            )
            for row, got in out["got"].items():
                want = con.execute(self.oracles[row]).df()
                checks[row] = (
                    len(got) > 0
                    and sorted(got.columns) == sorted(want.columns)
                    and canon(got).equals(canon(want))
                )
        return checks

    def layers(self, env: Env, out: dict[str, Any]) -> dict[str, float]:
        totals = {"exchanges": 0, "single_partition_exchanges": 0, "python_eval": 0}
        for df in out["frames"].values():
            for k, v in _plan_counts(df).items():
                totals[k] += v
        return {f"registry.{k}": v for k, v in totals.items()}


class TranscriptPageRank:
    """Transcripts -> derive -> context -> PageRank (durable checkpoints, then
    a resume) -> triangles -> a warm-start seed by vertex key from the
    resumed ranks -> the registry rows."""

    name = "transcript_pagerank"
    check_names = (
        "pagerank_ref", "resumed_from", "triangles_ref", "warm_seed",
    ) + REGISTRY_ROWS

    def __init__(self) -> None:
        self.registry = RegistryRows()

    def setup(self, env: Env) -> None:
        inputs.transcripts(
            os.path.join(env.data, "transcripts.parquet"), env.size["convs"], env.seed
        )
        self.registry.setup(env)

    def run(self, env: Env) -> dict[str, Any]:
        sp, spark, s = env.spans, env.spark, env.size
        k = s["pr_steps"]
        ck = os.path.join(env.scratch, "ckpt")
        with sp.span("derive"):
            tables = build_graph(
                spark.read.parquet(os.path.join(env.data, "transcripts.parquet")), cache=True
            )
        with sp.span("build"):
            ctx = Graph(tables, hub_theta=HUB_THETA).ctx
        # The first run stops after k-1 supersteps (the "kill"); the restart
        # resumes its durable chain and finishes superstep k.
        with sp.span("pagerank"):
            pr = run_program(ctx, PageRankProgram(tol=0.0), k - 1, ck, fixed_iters=k - 1)
        with sp.span("restart"):
            rs = run_program(ctx, PageRankProgram(tol=0.0), k, ck, resume=True, fixed_iters=k)
        with sp.span("resume_read"):
            mgr = CheckpointManager(
                spark, ck, PageRankProgram.name, ctx.fingerprint, ctx.P,
                ctx.n_vertices, list(PageRankProgram.state_cols),
            )
            t, _manifest = mgr.latest_complete()
            mgr.read_state(t).localCheckpoint(eager=True)
        with sp.span("triangles"):
            tri = count_triangles(tables)
        with sp.span("warm_seed"):
            prev = ranks_by_key(tables, rs.state)
            warm = warm_pagerank_init(ctx, tables, prev).localCheckpoint(eager=True)
        registry = self.registry.run(env)
        return dict(
            tables=tables, ctx=ctx, pr=pr, rs=rs, resume_t=t, tri=tri, warm=warm,
            ckpt=ck, registry=registry,
        )

    def checks(self, env: Env, out: dict[str, Any]) -> dict[str, bool]:
        s, ctx = env.size, out["ctx"]
        n = ctx.n_vertices
        src, dst, w = _edges_np(out["tables"])
        k = s["pr_steps"]
        ref_pr, _ = pagerank_ref(src, dst, w, n, tol=0.0, max_iter=k)
        pr = _by_vid(out["rs"].state, "rank", n)
        checks = {
            "pagerank_ref": bool(np.allclose(pr, ref_pr, rtol=0, atol=PR_ATOL)),
            "resumed_from": out["rs"].resumed_from == k - 1 and out["resume_t"] == k,
            "triangles_ref": out["tri"].total == triangles_ref(src, dst, n)[1],
        }
        # The warm seed is the previous ranks, joined back by (vtype, vkey)
        # and renormalized.
        checks["warm_seed"] = bool(
            np.allclose(_by_vid(out["warm"], "rank", n), pr / pr.sum(), rtol=0, atol=1e-12)
        )
        checks.update(self.registry.checks(env, out["registry"]))
        return checks

    def layers(self, env: Env, out: dict[str, Any]) -> dict[str, float]:
        ctx, tables = out["ctx"], out["tables"]
        steps = out["pr"].supersteps + out["rs"].supersteps - out["rs"].resumed_from
        mb, files = _ckpt_footprint(out["ckpt"])
        return {
            "derive.vertices": ctx.n_vertices,
            "derive.edges": tables.edges.count(),
            "csr.nnz_directed": ctx.nnz_directed,
            "csr.nnz_undirected": ctx.nnz_undirected,
            "skew.hub_edges": ctx.nnz_hub,
            "pagerank.supersteps": steps,
            "_pagerank_span_steps": out["pr"].supersteps,
            "checkpoint.mb_per_step": mb / steps,
            "checkpoint.files_per_step": files / steps,
            **self.registry.layers(env, out["registry"]),
        }

    def histories(self, out: dict[str, Any]) -> list[dict]:
        return out["pr"].stats_history + out["rs"].stats_history



class PowerlawHub:
    """Skewed power-law edges with a planted star -> context with the hub
    split -> fixed-K PageRank with durable checkpoints."""

    name = "powerlaw_hub"
    check_names = ("pagerank_ref", "hub_split_engaged")

    def setup(self, env: Env) -> None:
        s = env.size
        inputs.power_edges(
            os.path.join(env.data, "edges.parquet"), s["vertices"], s["edges"],
            s["star"], env.seed,
        )

    def run(self, env: Env) -> dict[str, Any]:
        sp, s = env.spans, env.size
        ck = os.path.join(env.scratch, "ckpt")
        with sp.span("build"):
            tables = graph_from_edges(
                env.spark.read.parquet(os.path.join(env.data, "edges.parquet")),
                s["vertices"],
            )
            ctx = Graph(tables, hub_theta=HUB_THETA).ctx
        with sp.span("pagerank"):
            pr = run_program(
                ctx, PageRankProgram(tol=0.0), s["pr_steps"], ck, fixed_iters=s["pr_steps"]
            )
        return dict(tables=tables, ctx=ctx, pr=pr, ckpt=ck)

    def checks(self, env: Env, out: dict[str, Any]) -> dict[str, bool]:
        n = out["ctx"].n_vertices
        src, dst, w = _edges_np(out["tables"])
        ref, _ = pagerank_ref(src, dst, w, n, tol=0.0, max_iter=env.size["pr_steps"])
        return {
            "pagerank_ref": bool(
                np.allclose(_by_vid(out["pr"].state, "rank", n), ref, rtol=0, atol=PR_ATOL)
            ),
            # A size change must not silently turn the hub split off.
            "hub_split_engaged": out["ctx"].nnz_hub > 0,
        }

    def layers(self, env: Env, out: dict[str, Any]) -> dict[str, float]:
        ctx, steps = out["ctx"], out["pr"].supersteps
        mb, files = _ckpt_footprint(out["ckpt"])
        return {
            "csr.nnz_directed": ctx.nnz_directed,
            "csr.nnz_undirected": ctx.nnz_undirected,
            "skew.hub_edges": ctx.nnz_hub,
            "pagerank.supersteps": steps,
            "_pagerank_span_steps": steps,
            "checkpoint.mb_per_step": mb / steps,
            "checkpoint.files_per_step": files / steps,
        }

    def histories(self, out: dict[str, Any]) -> list[dict]:
        return out["pr"].stats_history



WORKLOADS = {w.name: w for w in (TranscriptPageRank(), PowerlawHub())}

# Input sizes and superstep counts.  ``smoke`` is the tiny self-test scale.
SIZES = {
    "transcript_pagerank": {
        # 10,000 events over 150 users is the sf0.01 events shape.
        # 14,000 conversations is half the sf0.1 transcript size (~14k
        # vertices, ~32k edges), so that every run fits the time budget
        # (timings in README.md, "What is left out").
        "full": dict(convs=14_000, pr_steps=2, events=10_000, users=150),
        "smoke": dict(convs=60, pr_steps=2, events=2000, users=40),
    },
    "powerlaw_hub": {
        # The star must exceed the library's 65,536-edge hub floor.  1M raw
        # edges, not ~4M, and one superstep, so that every run fits the time
        # budget (timings in README.md, "What is left out").
        "full": dict(vertices=1_000_000, edges=1_000_000, star=70_000, pr_steps=1),
        "smoke": dict(vertices=72_000, edges=10_000, star=70_000, pr_steps=1),
    },
}

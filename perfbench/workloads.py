"""The workloads: inputs, one pipeline run, and its output checks.

Each workload object has
  * ``setup(input_dir, seed)``: write the seeded inputs and compute the
    expected outputs (gen.py, no Spark) into ``inputs``;
  * ``run(spark, out_dir, tracer)``: one pipeline run, the timed part;
  * ``check(spark, handle)``: the untimed output checks of that run,
    returning (ok, problems, stats) where stats holds the quality metrics
    and row counts the run produced;
  * ``release(handle)``: drop what the run pinned.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import functions as F

import graph_etl_spark as getl
from graph_etl_spark.catalog import CatalogStore
from graph_etl_spark.context import Context
from graph_etl_spark.loaders.spark_native import SparkNativeGraphLoader
from graph_etl_spark.operators.dedup import minhash_lsh_pairs
from graph_etl_spark.operators.graph import dedup_clusters
from graph_etl_spark.operators.similarity import ivf_topk, kmeans_fit
from graph_etl_spark.operators.text import quality_score
from graph_etl_spark.session import release_checkpoint

from . import gen

# Input sizes per workload. "tiny" is the smoke-test size.
SIZES = {
    "etl_bulk": {
        "full": {"customer": 2_000, "orders": 10_000, "part": 2_000, "lineitem": 40_000},
        "tiny": {"customer": 60, "orders": 200, "part": 60, "lineitem": 600},
    },
    "corpus_dedup": {
        "full": {"docs": 800, "planted": 360, "low_quality": 30, "vectors": 1_000, "dim": 64, "queries": 200, "k": 10, "blobs": 32},
        "tiny": {"docs": 120, "planted": 12, "low_quality": 6, "vectors": 300, "dim": 16, "queries": 10, "k": 5, "blobs": 8},
    },
}

NOT_APPLICABLE = 1.0  # quality metrics a workload has nothing to measure for


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _fp(df, expr):
    """Spark side of gen.key_fp over an integer expression."""
    k = expr.cast("long")
    row = df.agg(F.count(F.lit(1)), F.sum(k), F.sum((k * gen.FP_P) % gen.FP_M)).first()
    return tuple(int(v or 0) for v in row)


# ---------------------------------------------------------------------------
# ETL workloads
# ---------------------------------------------------------------------------

NODE_PK = {"Customer": "c_custkey", "Order": "o_orderkey", "Part": "p_partkey"}


class EtlWorkload:
    """One parser pass (3 node labels, 2 edge types, a J1 remap and a J2
    natural-key endpoint) then ``load`` into a fresh
    SparkNativeGraphLoader (match)."""

    def __init__(self, size: dict):
        self.size = size
        self.inputs: gen.EtlInputs | None = None

    def setup(self, input_dir: str, seed: int) -> None:
        self.inputs = gen.make_etl(input_dir, seed, self.size)

    def run(self, spark, out_dir: str, tracer):
        f = self.inputs.files
        store = getl.init(spark, output_folder=os.path.join(out_dir, "staging"))

        @getl.Parser(source="perfbench")
        def tpch(ctx):
            with tracer.span("parser.body"):
                read = spark.read.parquet
                ctx.save_nodes(read(f["customer"]), "Customer", primary_key="c_custkey")
                ctx.save_nodes(read(f["orders"]), "Order", primary_key="o_orderkey")
                ctx.save_nodes(read(f["part"]), "Part", primary_key="p_partkey")
                ctx.map_ids(read(f["part_remap"]), "Part:p_partkey")
                ctx.save_edges(read(f["placed"]), "PLACED", "Customer:c_name", "Order:o_orderkey")
                ctx.save_edges(read(f["contains"]), "CONTAINS", "Order:o_orderkey", "Part:p_partkey")

        with tracer.span("pipeline.parse"):
            getl.parse()
        loader = SparkNativeGraphLoader(spark, graph_dir=os.path.join(out_dir, "graph"))
        with tracer.span("pipeline.load"):
            totals = getl.load(loader)
        catalog = {
            kind: {name: sum(fi["count"] for fi in files.values()) for name, files in entries.items()}
            for kind, entries in (
                ("nodes", {label: cfg["files"] for label, cfg in store._configs["nodes"].items()}),
                ("edges", store._configs["edges"]),
            )
        }
        return {"catalog": catalog, "totals": totals, "loader": loader}

    def check(self, spark, handle):
        inp = self.inputs
        problems = []
        if handle["catalog"] != {"nodes": inp.staged_nodes, "edges": inp.staged_edges}:
            problems.append(f"catalog counts {handle['catalog']} != {inp.staged_nodes} / {inp.staged_edges}")
        loader = handle["loader"]
        table_rows = {"nodes": 0, "edges": 0}
        for label, want in inp.expected_nodes.items():
            got = _fp(loader.nodes(label), F.col(NODE_PK[label]))
            table_rows["nodes"] += got[0]
            if got != want:
                problems.append(f"node table {label}: fingerprint {got} != {want}")
        for et, want in inp.expected_edges.items():
            got = _fp(loader.edges(et), F.col("start").cast("long") * gen.EDGE_MUL + F.col("end").cast("long"))
            table_rows["edges"] += got[0]
            if got != want:
                problems.append(f"edge table {et}: fingerprint {got} != {want}")
        if handle["totals"] != table_rows:
            problems.append(f"load() totals {handle['totals']} != rows in the graph tables {table_rows}")
        c = handle["catalog"]
        stats = {
            "staged_rows": sum(c["nodes"].values()) + sum(c["edges"].values()),
            "loaded_rows": sum(handle["totals"].values()),
            # no near-duplicate or ANN step on this workload
            **{m: NOT_APPLICABLE for m in ("dedup_recall", "dedup_precision", "ann_recall_at_k")},
        }
        return not problems, problems, stats

    def release(self, handle) -> None:
        pass


# ---------------------------------------------------------------------------
# Corpus workload
# ---------------------------------------------------------------------------


class CorpusWorkload:
    """quality_score -> minhash_lsh_pairs -> dedup_clusters -> survivors
    over documents with planted near-duplicates; kmeans_fit then
    ivf_topk over clustered embeddings."""

    QUALITY_MIN = 0.5
    NUM_PERM, BANDS = 16, 4
    # the Jaccard at which banded LSH with b bands of r rows is 50/50: (1/b)^(1/r)
    LSH_TARGET = (1 / BANDS) ** (BANDS / NUM_PERM)
    NLIST, NPROBE, KMEANS_ITER = 16, 3, 3

    def __init__(self, size: dict):
        self.size = size
        self.k = size["k"]
        self.inputs: gen.CorpusInputs | None = None
        self._first_outputs: tuple | None = None
        self._shingles: dict = {}

    def setup(self, input_dir: str, seed: int) -> None:
        self.inputs = gen.make_corpus(input_dir, seed, self.size)
        self._shingles = {d: gen.shingles(t) for d, t in self.inputs.texts.items()}

    def run(self, spark, out_dir: str, tracer):
        inp = self.inputs
        docs = spark.read.parquet(inp.docs_path)
        with tracer.span("operators.text.quality_score"):
            kept = (
                quality_score(docs)
                .filter(F.col("quality") >= self.QUALITY_MIN)
                .select("doc_id", "text")
                .localCheckpoint(eager=True)
            )
        with tracer.span("operators.dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(kept, num_perm=self.NUM_PERM, bands=self.BANDS).localCheckpoint(eager=True)
        with tracer.span("operators.graph.dedup_clusters"):
            clusters = dedup_clusters(pairs, kept).localCheckpoint(eager=True)
        clusters.write.parquet(os.path.join(out_dir, "clusters"))
        survivors = kept.join(clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id"), "doc_id")
        survivors.write.parquet(os.path.join(out_dir, "survivors"))

        emb = spark.read.parquet(inp.emb_path)
        queries = spark.read.parquet(inp.queries_path)
        with tracer.span("operators.similarity.kmeans_fit"):
            cents = kmeans_fit(emb, k=self.NLIST, max_iter=self.KMEANS_ITER)
        with tracer.span("operators.similarity.ivf_topk"):
            ivf_topk(emb, queries, k=self.k, nlist=self.NLIST, nprobe=self.NPROBE, centroids=cents).write.parquet(
                os.path.join(out_dir, "topk")
            )
        return {"out_dir": out_dir, "pinned": [kept, pairs, clusters]}

    def check(self, spark, handle):
        inp = self.inputs
        out = handle["out_dir"]
        kept, pairs, _ = handle["pinned"]
        problems = []
        kept_ids = {r[0] for r in kept.select("doc_id").collect()}
        if kept_ids != inp.kept_ids:
            problems.append(f"quality filter kept {len(kept_ids)} docs, expected {len(inp.kept_ids)}")

        # candidate pairs: exact Jaccard computed here, not by the program
        cand = [(r[0], r[1]) for r in pairs.collect()]
        useful = sum(gen.jaccard(self._shingles[a], self._shingles[b]) >= self.LSH_TARGET for a, b in cand)

        # clusters must be the connected components of the candidate pairs
        cluster = {r[0]: r[1] for r in spark.read.parquet(os.path.join(out, "clusters")).collect()}
        if cluster != _components(kept_ids, cand):
            problems.append("dedup clusters differ from the connected components of the candidate pairs")
        survivors = sorted(r[0] for r in spark.read.parquet(os.path.join(out, "survivors")).select("doc_id").collect())
        if survivors != sorted(d for d, c in cluster.items() if d == c):
            problems.append("survivors are not the min-id member of each cluster")

        members: dict = {}
        for d, c in cluster.items():
            members.setdefault(c, []).append(d)
        together = [(a, b) for m in members.values() for i, a in enumerate(m) for b in m[i + 1 :]]
        planted = inp.planted_pairs
        recall = sum(cluster.get(a) is not None and cluster.get(a) == cluster.get(b) for a, b in planted) / len(planted)
        precise = sum(gen.jaccard(self._shingles[a], self._shingles[b]) >= self.LSH_TARGET for a, b in together)

        topk = spark.read.parquet(os.path.join(out, "topk")).collect()
        by_q: dict = {}
        for r in topk:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cos_sim"]))
        if set(by_q) != set(inp.exact_topk) or any(sorted(x[0] for x in v) != list(range(1, self.k + 1)) for v in by_q.values()):
            problems.append("top-k does not hold ranks 1..k for every query")
        for q, hits in by_q.items():
            ids = [n for _, n, _ in sorted(hits)]
            want = gen.cosine_rounded(inp.emb, q, np.array(ids))
            if any(abs(w - s) > 2e-4 for w, (_, _, s) in zip(want, sorted(hits))):
                problems.append(f"query {q}: cos_sim differs from the exact cosine")
                break
        hit = sum(len({n for _, n, _ in by_q.get(q, [])} & set(ex)) for q, ex in inp.exact_topk.items())

        outputs = (survivors, sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in topk))
        if self._first_outputs is None:
            self._first_outputs = outputs
        elif outputs != self._first_outputs:
            problems.append("survivors or top-k differ from this process's first run")
        stats = {
            "dedup_recall": recall,
            "dedup_precision": precise / len(together) if together else 0.0,
            "ann_recall_at_k": hit / (self.k * len(inp.exact_topk)),
            "useful_pair_frac": useful / len(cand) if cand else 0.0,
        }
        return not problems, problems, stats

    def release(self, handle) -> None:
        for df in handle["pinned"]:
            release_checkpoint(df)


def _components(ids, pairs) -> dict:
    """doc id -> min id of its connected component (union-find)."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def make(name: str, scale: str = "full"):
    cls = CorpusWorkload if name == "corpus_dedup" else EtlWorkload
    return cls(SIZES[name][scale])


def _configs_bytes(args) -> dict:
    return {"bytes": os.path.getsize(args[0].configs_path)}


# Layers the traced run wraps: (owner, attribute, span name, counters to
# read after the call). Operators and the pipeline entry points get
# spans at their call sites above.
PATCHES = (
    (Context, "save_nodes", "context.save_nodes", None),
    (Context, "save_edges", "context.save_edges", None),
    (SparkNativeGraphLoader, "load_nodes", "loaders.spark_native.load_nodes", None),
    (SparkNativeGraphLoader, "load_edges", "loaders.spark_native.load_edges", None),
    (CatalogStore, "flush_configs", "catalog.flush", _configs_bytes),
)

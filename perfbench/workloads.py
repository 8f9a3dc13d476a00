"""The benchmark's two workloads.

Each workload builds its inputs from the seed (``generate``), runs one
full pass of its pipeline as a sequence of layer calls (``run``), checks
the outputs of that pass outside the timed region (``check``) and frees
what the pass left behind (``release``). Every layer call materializes
its output inside its own span, so the time a lazy plan spends is
charged to the layer that built it.

- crawl_ingest: raw pages to first answers on the flat DataFrame path.
  It never touches the blocked store, so it is the control for
  blocked-path work.
- rank_refresh: the blocked store. A build and a cold barrier PageRank,
  crawl deltas applied with ``update_blocked`` each followed by a warm
  re-rank, then an undirected build for the job-per-step components,
  label propagation and Louvain. No extraction, dedup or flat joins, so
  it is the control for ingest-side work.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics

import numpy as np
from pyspark.sql import functions as F

from linkgraph import corpus
from linkgraph.caching import release_caches
from linkgraph.community import louvain_communities
from linkgraph.community_csr import louvain_blocked
from linkgraph.components import connected_components
from linkgraph.components_csr import connected_components_blocked
from linkgraph.dedup import lsh_candidate_pairs, minhash_dedup_pairs, minhash_signatures
from linkgraph.extract import build_links, extracted_text
from linkgraph.graph import build_edges, build_vertices, undirected_edges
from linkgraph.iceberg_lite import IcebergLiteTable
from linkgraph.labelprop import label_propagation
from linkgraph.labelprop_csr import label_propagation_blocked
from linkgraph.pagerank import pagerank
from linkgraph.pagerank_csr import build_blocked, pagerank_blocked, update_blocked
from linkgraph.synthgraph import synth_edges, synth_vertices

# Input sizes. "full" is what a benchmark run measures; "tiny" only
# proves that every step and every metric works end to end. A full run
# (session, three input generations, one pass, checks) takes about a
# minute on 4 cores. A pass is bound by per-job overhead, not input size,
# so larger inputs buy little signal per second.
SIZES = {
    "crawl_ingest": {"full": {"pages": 1_000, "docs": 2_000},
                     "tiny": {"pages": 60, "docs": 200}},
    "rank_refresh": {"full": {"vertices": 25_000}, "tiny": {"vertices": 2_000}},
}

# The word list and length range of the repository's documents test
# table: uniform words, 10-100 per document, about 5% exact copies with a
# " dup" suffix. Corpus-template text is not used for dedup: its pages
# share most shingles, which floods LSH with candidates (see NOTES.md).
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
DUP_FRAC = 0.05
DEDUP_SAMPLE = 0.8
REFRESH_DELTAS = 1
DELTA_FRAC = 0.002


def gen_documents(seed: int, n_docs: int) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    docs: list[tuple[int, str]] = []
    for i in range(n_docs):
        if i and rng.random() < DUP_FRAC:
            text = docs[rng.randrange(i)][1] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        docs.append((i, text))
    return docs


def pin(df):
    """Persist ``df`` and compute it now; -> (df, row count)."""
    df = df.persist()
    return df, df.count()


def tree_files(root: str, skip: tuple[str, ...] = ()) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if os.path.join(d, x) not in skip]
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new or changed in ``after``."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def median_step_s(result) -> float:
    return statistics.median(s.seconds for s in result.supersteps if s.seconds > 0)


def ranks_ok(ranks, n: int) -> bool:
    row = ranks.agg(F.sum("rank").alias("s"), F.count("*").alias("c")).collect()[0]
    return row["c"] == n and abs(row["s"] - 1.0) <= 1e-9


def components_ok(comps, edges, n: int) -> bool:
    """Every edge's endpoints share a label, each label <= its vertex id,
    one row per vertex."""
    c = comps.select("id", "component")
    split = (
        edges.join(c.toDF("src", "cs"), "src")
        .join(c.toDF("dst", "cd"), "dst")
        .where(F.col("cs") != F.col("cd"))
        .count()
    )
    row = c.agg(F.count("*").alias("n"),
                F.sum((F.col("component") > F.col("id")).cast("int")).alias("bad")
                ).collect()[0]
    return split == 0 and row["n"] == n and not row["bad"]


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, cores: int, size: str, trace: bool):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.size = SIZES[self.name][size]
        self.trace = trace
        self.input_edges = 0

    def after_check(self) -> list[tuple[str, bool]]:
        """Checks run once after the measured window."""
        return []


class CrawlIngest(Workload):
    name = "crawl_ingest"

    def generate(self) -> None:
        spark = self.spark
        n = self.size["pages"]
        rows, links_by_url = corpus.gen_corpus(self.seed, n)
        self.truth_links = sum(len(v) for v in links_by_url.values())
        self.n_pages = n
        self.table = os.path.join(self.work, "pages")
        shutil.rmtree(self.table, ignore_errors=True)
        pages = spark.createDataFrame(
            [(r.url, r.warc_ts, r.html, r.text, r.lang) for r in rows],
            corpus.PAGES_SCHEMA,
        ).repartition(2 * self.cores)
        IcebergLiteTable.create(self.table, pages.schema).append(pages)
        self.docs_path = os.path.join(self.work, "documents")
        spark.createDataFrame(
            gen_documents(self.seed, self.size["docs"]), "doc_id long, text string"
        ).write.mode("overwrite").parquet(self.docs_path)

    def run(self, spans) -> dict:
        spark, out = self.spark, {}
        with spans.call("iceberg_lite.scan") as r:
            pages, r["rows_out"] = pin(IcebergLiteTable.load(self.table).scan(spark))
        out["pages"] = pages
        with spans.call("extract.build_links") as r:
            links, r["rows_out"] = pin(build_links(pages))
            r["pages"] = self.n_pages
        out["links"], out["n_links"] = links, r["rows_out"]
        with spans.call("extract.extracted_text") as r:
            out["text"], r["rows_out"] = pin(extracted_text(pages))
            r["pages"] = self.n_pages
        with spans.call("graph.build_edges") as r:
            edges, r["rows_out"] = pin(build_edges(links))
        out["edges"] = edges
        self.input_edges = r["rows_out"]
        with spans.call("graph.build_vertices") as r:
            vertices, r["rows_out"] = pin(build_vertices(pages, links))
        out["vertices"], out["n"] = vertices, r["rows_out"]
        with spans.call("dedup.minhash_dedup_pairs") as r:
            docs = spark.read.parquet(self.docs_path).sample(
                fraction=DEDUP_SAMPLE, seed=self.seed)
            out["pairs"], r["verified"] = pin(minhash_dedup_pairs(docs))
        out["docs"], out["dedup_rec"] = docs, r
        with spans.call("components.connected_components"):
            out["comps"], _ = pin(connected_components(spark, edges, vertices))
        with spans.call("labelprop.label_propagation"):
            out["lp"], _ = pin(label_propagation(spark, edges, vertices, iterations=3))
        with spans.call("community.louvain_communities"):
            out["louvain"], _ = pin(louvain_communities(spark, edges, vertices, rounds=2))
        with spans.call("pagerank.pagerank") as r:
            res = pagerank(spark, edges, vertices, tol=0.0, max_iter=10)
            out["ranks"], _ = pin(res.ranks)
            r["iterations"] = res.iterations
            r["step_s_median"] = median_step_s(res)
        out["pagerank_iters"] = res.iterations
        out["step_s"] = r["step_s_median"]
        out["step_edges"] = self.input_edges
        return out

    def check(self, out) -> list[tuple[str, bool]]:
        rec = out["dedup_rec"]
        rec["candidates"] = lsh_candidate_pairs(minhash_signatures(out["docs"])).count()
        min_j = out["pairs"].agg(F.min("jaccard")).collect()[0][0]
        return [
            ("links_match_generator", out["n_links"] == self.truth_links),
            ("components_consistent", components_ok(out["comps"], out["edges"], out["n"])),
            ("pagerank_mass", ranks_ok(out["ranks"], out["n"])),
            ("dedup_verified_jaccard", min_j is not None and min_j >= 0.5),
            ("dedup_verified_le_candidates", 0 < rec["verified"] <= rec["candidates"]),
        ]

    def release(self, out) -> None:
        for v in out.values():
            if hasattr(v, "unpersist"):
                v.unpersist()
        release_caches()


class RankRefresh(Workload):
    name = "rank_refresh"

    def generate(self) -> None:
        spark, n = self.spark, self.size["vertices"]
        self.n = n
        self.edges_path = os.path.join(self.work, "edges")
        synth_edges(spark, n, avg_deg=8, intra_host=0.8, seed=self.seed,
                    num_partitions=2 * self.cores).distinct().write.mode(
            "overwrite").parquet(self.edges_path)
        base = self.edges()
        self.delta_paths, self.delta_edges = [], []
        for k in range(REFRESH_DELTAS):
            # added: reversed edges not yet in the graph; removed: edges of
            # the base graph. Disjoint, so the post-delta graph is
            # (base + every added) - every removed.
            added = (
                base.sample(fraction=DELTA_FRAC, seed=self.seed * 1000 + 2 * k)
                .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                .subtract(base)
            )
            removed = base.sample(fraction=DELTA_FRAC, seed=self.seed * 1000 + 2 * k + 1)
            paths = (os.path.join(self.work, f"delta{k}", "added"),
                     os.path.join(self.work, f"delta{k}", "removed"))
            added.write.mode("overwrite").parquet(paths[0])
            removed.write.mode("overwrite").parquet(paths[1])
            self.delta_paths.append(paths)
            if self.trace:  # only bytes_written_per_delta_edge needs it
                self.delta_edges.append(
                    sum(spark.read.parquet(p).count() for p in paths))

    def edges(self):
        return self.spark.read.parquet(self.edges_path)

    def vertices(self):
        return synth_vertices(self.spark, self.n, num_partitions=2 * self.cores)

    def blocked(self, edges, vertices, label: str):
        return build_blocked(
            self.spark, edges, vertices, n_blocks=self.cores,
            store_path=os.path.join(self.work, "stores", label), blocking="range",
            persist_sidecars=False,
        )

    def rank(self, g, init_ranks=None):
        return pagerank_blocked(self.spark, g, tol=1e-9, transport="barrier",
                                barrier_slots=self.cores, init_ranks=init_ranks)

    def store_bytes(self, g, rec) -> None:
        """Traced runs only: on-disk size of the edge store just built."""
        if self.trace:
            files = tree_files(os.path.join(g.store_path, "edges"))
            rec["store_bytes"] = sum(sz for sz, _ in files.values())
            rec["stored_edges"] = g.sum_od

    def store_files(self, g) -> dict:
        """Traced runs only: the store's files, rank runs left out."""
        if not self.trace:
            return {}
        return tree_files(g.store_path, skip=(os.path.join(g.store_path, "ranks"),))

    def run(self, spans) -> dict:
        spark = self.spark
        out = {"graphs": [], "refresh_s": [], "ranks": []}
        verts = self.vertices()

        # directed store: cold rank, then crawl deltas with warm re-ranks
        with spans.call("pagerank_csr.build_blocked") as r:
            edges = self.edges()  # reading the footer runs a job
            g = self.blocked(edges, verts, "directed")
        build_wall = r["wall_s"]
        self.store_bytes(g, r)
        with spans.call("pagerank_csr.pagerank_blocked") as r:
            res = self.rank(g)
            r["iterations"], r["steps"] = res.iterations, res.supersteps
        out["pagerank_iters"] = res.iterations
        out["step_s"] = median_step_s(res)
        out["step_edges"] = self.input_edges = g.sum_od
        with spans.call("pagerank_csr.decode"):
            ranks, _ = pin(res.ranks)
        out["ranks"].append(ranks)
        for k, (added_path, removed_path) in enumerate(self.delta_paths):
            before = self.store_files(g)
            first = len(spans.records)  # refresh time starts at the update
            with spans.call("pagerank_csr.update_blocked") as r:
                g = update_blocked(spark, g, added=spark.read.parquet(added_path),
                                   removed=spark.read.parquet(removed_path))
            if self.trace:
                r["bytes_written"] = written_bytes(before, self.store_files(g))
                r["delta_edges"] = self.delta_edges[k]
            r["update_vs_build"] = r["wall_s"] / build_wall
            with spans.call("pagerank_csr.pagerank_blocked_warm") as r:
                res = self.rank(g, init_ranks=ranks)
                r["iterations"], r["steps"] = res.iterations, res.supersteps
            with spans.call("pagerank_csr.decode"):
                ranks, _ = pin(res.ranks)
            out["ranks"].append(ranks)
            out["refresh_s"].append(sum(s["wall_s"] for s in spans.records[first:]))
        out["graphs"].append(g)  # the pre-update handles share its store

        # undirected store of the base graph: the blocked label operators
        with spans.call("graph.undirected_edges") as r:
            und, r["rows_out"] = pin(undirected_edges(edges))
        out["und"] = und
        with spans.call("pagerank_csr.build_blocked") as r:
            gu = self.blocked(und, verts, "undirected")
        out["graphs"].append(gu)
        self.store_bytes(gu, r)
        with spans.call("components_csr.connected_components_blocked") as r:
            r["stats"] = {}
            out["comps"], _ = pin(connected_components_blocked(spark, gu, stats=r["stats"]))
        with spans.call("labelprop_csr.label_propagation_blocked") as r:
            r["stats"] = {}
            out["lp"], _ = pin(label_propagation_blocked(
                spark, gu, iterations=3, stats=r["stats"]))
        with spans.call("community_csr.louvain_blocked") as r:
            r["stats"] = {}
            out["louvain"], _ = pin(louvain_blocked(spark, gu, rounds=2, stats=r["stats"]))
        return out

    last_ranks = None

    def check(self, out) -> list[tuple[str, bool]]:
        if self.last_ranks is not None:
            self.last_ranks.unpersist()
        self.last_ranks = out["ranks"][-1]  # kept for after_check
        return [(f"pagerank_mass_{k}", ranks_ok(r, self.n))
                for k, r in enumerate(out["ranks"])] + [
            ("components_consistent", components_ok(out["comps"], out["und"], self.n))]

    def release(self, out) -> None:
        for r in out.pop("ranks")[:-1]:
            r.unpersist()
        for v in out.values():
            if hasattr(v, "unpersist"):
                v.unpersist()
        for g in out["graphs"]:
            g.delete()
        release_caches()

    def after_check(self) -> list[tuple[str, bool]]:
        """The documented ``update_blocked`` invariant: the warm refresh
        after the last delta matches a cold rank of a fresh build of the
        post-delta graph."""
        spark = self.spark
        final = self.edges()
        for added_path, _ in self.delta_paths:
            final = final.union(spark.read.parquet(added_path))
        for _, removed_path in self.delta_paths:
            final = final.subtract(spark.read.parquet(removed_path))
        g = self.blocked(final.distinct(), self.vertices(), "reference")
        try:
            cold = self.rank(g).ranks.toPandas()
        finally:
            g.delete()
        warm = self.last_ranks.toPandas()
        self.last_ranks.unpersist()
        both = cold.merge(warm, on="id", suffixes=("_cold", "_warm"))
        return [("refresh_matches_rebuild",
                 len(both) == len(cold) == self.n
                 and bool(np.allclose(both["rank_warm"], both["rank_cold"],
                                      rtol=0.0, atol=1e-6)))]


WORKLOADS = {w.name: w for w in (CrawlIngest, RankRefresh)}

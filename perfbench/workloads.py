"""The workloads: a fixed operation sequence per pass, the
references each pass's outputs are checked against, and the checks.

A workload class has four parts:

- ``scan()``: the first scan of every input (part of set-up);
- ``run_pass(p)``: one pass of the fixed operation sequence, every call
  made through ``ctx.op`` so it is timed and attributed; it returns the
  collected outputs and does no checking;
- ``verify()``: untimed reads that only a check needs (the IVF
  index's centroids);
- ``check(outputs)``: compares every pass's outputs with references
  computed apart from the engine (``oracle.py``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

import oracle

TPCH = (
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_top_revenue_orders",
    "q4_order_priority",
    "q5_star_join",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q11_important_stock",
    "q12_late_shipments",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_counts",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q20_part_share_suppliers",
    "q21_waiting_suppliers",
    "q22_dormant_balances",
)
SQL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


class SqlAnalytics:
    """The 22 TPC-H shapes of the catalog, then the reference pipeline
    (scan -> derive -> filter -> write)."""

    tables = SQL_TABLES

    def __init__(self, ctx):
        self.ctx = ctx
        from spatially_databricks_etl_spark.catalog import QUERIES

        self.queries = QUERIES

    def scan(self):
        from spatially_databricks_etl_spark.session import load_table

        for t in self.tables:
            load_table(self.ctx.spark, self.ctx.input_dir, t).count()

    def run_pass(self, p: int) -> dict:
        from spatially_databricks_etl_spark.catalog import q_ref_pipeline
        from spatially_databricks_etl_spark.sinks.writers import write_parquet

        ctx, out = self.ctx, {}
        for q in TPCH:
            out[q] = ctx.op(
                "relational.tpch",
                q,
                lambda q=q: self.queries[q](ctx.spark, ctx.input_dir),
                lambda df: df.collect(),
                kind="search",
                family="tpch",
            )
        path = os.path.join(ctx.run_dir, f"ref_pipeline_p{p}")
        ctx.op(
            "sinks.ref_pipeline",
            "ref_pipeline",
            lambda: q_ref_pipeline(ctx.spark, ctx.input_dir),
            lambda df: write_parquet(df, path),
            kind="append",
            family="ref_pipeline",
        )
        out["ref_pipeline"] = path
        return out

    def verify(self):
        pass

    def check(self, outputs: list[dict]) -> list[str]:
        from spatially_databricks_etl_spark.catalog import ORACLES

        names = (*TPCH, "ref_pipeline")
        expected = oracle.duckdb_rows(self.ctx.input_dir, {q: ORACLES[q] for q in names}, self.tables)
        probs = []
        for q in names:
            exp = expected[q]
            for i, out in enumerate(outputs):
                got = out.get(q)
                if got is None:
                    continue  # the call failed and is counted as such
                if q == "ref_pipeline":
                    import duckdb

                    got = duckdb.sql(f"SELECT * FROM read_parquet('{got}/*.parquet')").fetchall()
                probs += oracle.compare_rows(got, exp, f"{q} pass {i}")
        return probs


class LlmCuration:
    """BPE and WordPiece training, MinHash near-dup pairs and the
    curation funnel over one documents corpus with planted copies (the
    first half of the ``llm_pipeline`` workload)."""

    BPE_MERGES = 3
    WP_MERGES = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.docs = None

    def scan(self):
        from spatially_databricks_etl_spark.session import load_table

        self.docs = load_table(self.ctx.spark, self.ctx.input_dir, "documents")
        self.docs.count()

    def run_pass(self, p: int) -> dict:
        from spatially_databricks_etl_spark.operators.curate import (
            bpe_train,
            curate_funnel,
            wordpiece_train_encode,
        )
        from spatially_databricks_etl_spark.operators.dedup import minhash_near_dedup

        ctx, docs, out = self.ctx, self.docs, {}
        out["bpe"] = ctx.op(
            "curate.bpe_train",
            "bpe_train",
            lambda: bpe_train(docs, merges=self.BPE_MERGES),
            lambda df: df.collect(),
        )
        out["wordpiece"] = ctx.op(
            "curate.wordpiece_train_encode",
            "wordpiece_train_encode",
            lambda: wordpiece_train_encode(docs, merges=self.WP_MERGES),
            lambda r: (r[0].collect(), r[1].collect()),
        )
        # kept: the funnel consumes the pairs, then they are released
        pairs = ctx.op(
            "dedup.minhash_near_dedup",
            "minhash_near_dedup",
            lambda: minhash_near_dedup(docs, threshold=0.7, shingle_size=5),
            lambda df: (df, df.collect()),
            keep=True,
        )
        out["minhash"] = pairs and pairs[1]
        # the funnel clusters the pairs just found; without them it
        # finds its own
        out["funnel"] = ctx.op(
            "curate.curate_funnel",
            "curate_funnel",
            lambda: curate_funnel(
                docs, min_quality=0.6, near_threshold=0.7, near_pairs=pairs and pairs[0]
            ),
            lambda df: df.collect(),
        )
        ctx.release("minhash_near_dedup")
        return out

    def verify(self):
        pass

    def check(self, outputs: list[dict]) -> list[str]:
        t = pq.read_table(os.path.join(self.ctx.input_dir, "documents.parquet"))
        ids, texts = t.column("doc_id").to_pylist(), t.column("text").to_pylist()
        text_of = dict(zip(ids, texts))
        freqs = oracle.word_freqs(texts)
        bpe_rows, _ = oracle.bpe_replay(freqs, self.BPE_MERGES)
        bpe_exp = [r[:4] for r in bpe_rows]
        wp_rows, wp_syms = oracle.bpe_replay(freqs, self.WP_MERGES, scoring="likelihood")
        wp_enc = oracle.encode_docs(list(zip(ids, texts)), wp_syms)
        planted = self.ctx.sched["planted_pairs"]
        probs = []
        for i, out in enumerate(outputs):
            if out.get("bpe") is not None:
                probs += oracle.check_merges([tuple(r) for r in out["bpe"]], bpe_exp, f"bpe pass {i}")
            if out.get("wordpiece") is not None:
                m, enc = out["wordpiece"]
                probs += oracle.check_merges(
                    [(r["round"], r["left_sym"], r["right_sym"], r["pair_count"], r["score"]) for r in m],
                    wp_rows,
                    f"wordpiece pass {i}",
                )
                probs += oracle.compare_rows(
                    [(r[0], list(r[1])) for r in enc], wp_enc, f"wordpiece encode pass {i}"
                )
            if out.get("minhash") is not None:
                probs += oracle.check_minhash_pairs(
                    [tuple(r) for r in out["minhash"]], text_of, planted, 0.7
                )
            if out.get("funnel") is not None:
                probs += oracle.check_funnel([tuple(r) for r in out["funnel"]], text_of)
        return probs


class IndexLifecycle:
    """SimHash, BM25 and IVF indexes driven through one loop: build,
    append, tombstone delete, compaction, search (the second half of
    the ``llm_pipeline`` workload). Each pass writes into fresh
    directories."""

    FAMILIES = ("simhash", "bm25", "ivf")
    K = 10
    NPROBE = 8
    N_CENTROIDS = 16
    RECALL_FLOOR = 0.55

    def __init__(self, ctx):
        self.ctx = ctx
        self.ivf_centroids = None

    def scan(self):
        from pyspark.sql import functions as F

        from spatially_databricks_etl_spark.session import load_table

        ctx, s, sp = self.ctx, self.ctx.sched, self.ctx.spark
        docs = load_table(sp, ctx.input_dir, "index_documents").select("doc_id", "text")
        vecs = load_table(sp, ctx.input_dir, "embeddings").select("vec_id", "embedding")
        docs.count()
        vecs.count()
        nb = len(s["base"])
        self.docs_base = docs.filter(F.col("doc_id") < nb)
        self.vecs_base = vecs.filter(F.col("vec_id") < nb)
        self.docs_batches = [docs.filter(F.col("doc_id").between(b[0], b[-1])) for b in s["batches"]]
        self.vecs_batches = [vecs.filter(F.col("vec_id").between(b[0], b[-1])) for b in s["batches"]]
        self.vecs_live = vecs.filter(~F.col("vec_id").isin(s["deletes"]))
        self.doc_dels = sp.createDataFrame([(i,) for i in s["deletes"]], "doc_id long")
        self.vec_dels = sp.createDataFrame([(i,) for i in s["deletes"]], "vec_id long")
        self.text_probes = sp.createDataFrame(s["text_probes"], "doc_id long, text string")
        self.bm25_q = sp.createDataFrame(s["bm25_queries"], "query_id long, query string")
        self.vec_q = sp.createDataFrame(s["vec_probes"], "query_id long, embedding array<float>")

    def _families(self) -> dict:
        """Per family: build, append (of batch ``b``), delete, compact
        and search calls, each taking the index directory."""
        from spatially_databricks_etl_spark.operators import dedup, retrieval, similarity

        ctx = self.ctx

        def ivf_build(path):
            cents = similarity.ivf_build(self.vecs_base, n_centroids=self.N_CENTROIDS)
            similarity.ivf_write_index(self.vecs_base, path, centroids=cents)

        return {
            "simhash": {
                "build": lambda path: dedup.simhash_write_index(self.docs_base, path),
                "append": lambda path, b: dedup.simhash_append_index(self.docs_batches[b], path),
                "delete": lambda path: dedup.simhash_delete_index(self.doc_dels, path),
                "compact": lambda path: dedup.simhash_compact_index(ctx.spark, path),
                "search": lambda path: dedup.simhash_search_index(self.text_probes, path),
            },
            "bm25": {
                "build": lambda path: retrieval.bm25_write_index(self.docs_base, path),
                "append": lambda path, b: retrieval.bm25_append_index(self.docs_batches[b], path),
                "delete": lambda path: retrieval.bm25_delete_index(self.doc_dels, path),
                "compact": lambda path: retrieval.bm25_compact_index(ctx.spark, path),
                "search": lambda path: retrieval.bm25_search_index(self.bm25_q, path, k=self.K),
            },
            "ivf": {
                "build": ivf_build,
                "append": lambda path, b: similarity.ivf_append_index(self.vecs_batches[b], path),
                "delete": lambda path: similarity.ivf_delete_index(self.vec_dels, path),
                "compact": lambda path: similarity.ivf_compact_index(ctx.spark, path),
                "search": lambda path: similarity.ivf_search_index(
                    self.vec_q, path, k=self.K, nprobe=self.NPROBE
                ),
            },
        }

    def run_pass(self, p: int) -> dict:
        ctx, out = self.ctx, {}
        for fam, f in self._families().items():
            path = os.path.join(ctx.run_dir, f"idx_p{p}", fam)

            def step(name, *args, kind=None, f=f, path=path, fam=fam):
                return ctx.op(
                    f"index.{name}", f"{fam}.{name}", lambda: f[name](path, *args), None,
                    kind=kind, family=fam,
                )

            def search(f=f, path=path, fam=fam):
                return ctx.op(
                    "index.search", f"{fam}.search", lambda: f["search"](path), _rows,
                    kind="search", family=fam,
                )

            step("build")
            for b in range(len(self.docs_batches)):
                step("append", b, kind="append")
            step("delete")
            step("compact")
            out[fam] = search()
        return out

    def verify(self):
        """Read the centroids the first pass's IVF index trained: the
        reference search in ``check`` assigns the live vectors to them,
        which is what an index rebuilt after the append and the delete
        holds."""
        from spatially_databricks_etl_spark.operators import similarity

        try:
            self.ivf_centroids = similarity.ivf_read_centroids(
                self.ctx.spark, os.path.join(self.ctx.run_dir, "idx_p0", "ivf")
            )
        except Exception:  # the build failed, and is counted as such
            self.ivf_centroids = None

    def _simhash_codes(self, ids_texts: list) -> dict:
        from spatially_databricks_etl_spark.operators.dedup import simhash_codes

        df = self.ctx.spark.createDataFrame(ids_texts, "__id long, __text string")
        return {r["__id"]: r["__sh"] for r in simhash_codes(df).select("__id", "__sh").collect()}

    def check(self, outputs: list[dict]) -> list[str]:
        s = self.ctx.sched
        t = pq.read_table(os.path.join(self.ctx.input_dir, "index_documents.parquet"))
        deleted = set(s["deletes"])
        text_of = {
            i: x
            for i, x in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
            if i not in deleted
        }
        v = pq.read_table(os.path.join(self.ctx.input_dir, "embeddings.parquet"))
        vec_of = {
            i: np.asarray(e, dtype=np.float32)
            for i, e in zip(v.column("vec_id").to_pylist(), v.column("embedding").to_pylist())
            if i not in deleted
        }
        # SimHash fingerprints come from the engine's own fingerprint
        # function (xxhash64 has no independent Python implementation
        # here); the search itself is replayed as a full Hamming scan
        probe_ids = {p[0] for p in s["text_probes"]}
        codes = self._simhash_codes(sorted(text_of.items()) + [tuple(x) for x in s["text_probes"]])
        probe_codes = {i: c for i, c in codes.items() if i in probe_ids}
        live_codes = {i: c for i, c in codes.items() if i not in probe_ids}
        sim_ref = oracle.simhash_brute(probe_codes, live_codes)
        bm_ref = oracle.bm25_reference(text_of, s["bm25_queries"], k=self.K)
        if self.ivf_centroids is not None:
            ivf_ref, ivf_skipped = oracle.ivf_exact(
                s["vec_probes"], vec_of, self.ivf_centroids, self.NPROBE, self.K
            )
        probs = []
        for i, out in enumerate(outputs):
            lab = f"pass {i} search"
            sim, bm, ivf = (out[fam] for fam in self.FAMILIES)
            if sim is not None:
                probs += oracle.check_exact_set(sim, sim_ref, f"simhash {lab}")
            if bm is not None:
                probs += oracle.check_bm25(bm, bm_ref, s["bm25_queries"], k=self.K)
            if ivf is not None:
                probs += oracle.check_ivf(ivf, s["vec_probes"], vec_of, self.K, self.RECALL_FLOOR)
                if self.ivf_centroids is None:
                    probs.append(f"ivf {lab}: the index's centroids could not be read")
                else:
                    probs += oracle.check_ivf_rebuild(ivf, ivf_ref, ivf_skipped, f"ivf {lab} vs rebuild")
            for fam in self.FAMILIES:
                if out[fam] is not None:
                    ids = [row[1] for row in out[fam]]
                    probs += oracle.check_no_ids(ids, deleted, f"{fam} {lab}")
        return probs


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


class LlmPipeline:
    """Curation, then the index lifecycle, in one pass: every
    LLM-data-pipeline layer shares one session and one JVM warm-up."""

    def __init__(self, ctx):
        self.parts = (LlmCuration(ctx), IndexLifecycle(ctx))

    def scan(self):
        for part in self.parts:
            part.scan()

    def run_pass(self, p: int) -> dict:
        return [part.run_pass(p) for part in self.parts]

    def verify(self):
        for part in self.parts:
            part.verify()

    def check(self, outputs: list) -> list[str]:
        return [
            msg
            for i, part in enumerate(self.parts)
            for msg in part.check([out[i] for out in outputs])
        ]


WORKLOAD_CLASSES = {"sql_analytics": SqlAnalytics, "llm_pipeline": LlmPipeline}

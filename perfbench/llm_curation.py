"""``llm_curation``: the LLM-data curation path plus ANN serving.

Set-up generates the corpus (base docs plus one seeded variant each,
part of them one-token-deletion near-duplicates) and builds a PQ index
once. One pass = exact dedup, the C4 quality filter, PII scrub,
sequence packing, then a seeded query batch served by
``pq_index_search``; each step is one request.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

import datagen
from simple_data_workflow_spark.llmdata import ann_index, dedup, packing, similarity, text
from workload import Workload

BASE_DOCS = {"bench": 300, "smoke": 100}
VECTORS = {"bench": 1_000, "smoke": 500}
QUERIES = 20
#: recall@5 of the PQ search against brute force at or above which the
#: search passes; seeds 1-10 all met it when the benchmark was defined
RECALL_FLOOR = {"bench": 0.9, "smoke": 0.9}


def _rows_hash(rows) -> str:
    return hashlib.md5(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


class LlmCuration(Workload):
    name = "llm_curation"
    n_checks = 2
    prepare_reps = 1  # building the PQ index dominates; once is enough

    def prepare(self) -> None:
        scale, seed = self.ctx.scale, self.ctx.seed
        d = self.fresh_dir("llm")
        self.ctx.info["docs"] = datagen.documents(
            os.path.join(d, "documents.parquet"), BASE_DOCS[scale], seed
        )
        corpus = datagen.embeddings(os.path.join(d, "embeddings.parquet"), VECTORS[scale], seed)
        self.queries_path = os.path.join(d, "queries.parquet")
        datagen.query_batch(self.queries_path, corpus, QUERIES, seed)
        spark = self.spark
        self.docs = spark.read.parquet(os.path.join(d, "documents.parquet")).cache()
        self.docs.count()
        self.emb = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        self.index = os.path.join(d, "pq_index")
        ann_index.build_pq_index(self.emb, self.index, m=16, n_lists=16, seed=seed)
        self.outputs: list[dict] = []

    def run_pass(self) -> None:
        docs, out = self.docs, {}
        with self.request("exact_dedup", "llmdata.dedup"):
            kept = dedup.exact_dedup(docs, ["text"], "doc_id")
            out["exact_dedup"] = _rows_hash(kept.select("doc_id").collect())
        with self.request("c4_clean", "llmdata.text"):
            out["c4"] = text.c4_clean(docs).count()
        with self.request("scrub_pii", "llmdata.text"):
            scrubbed = docs.select(text.scrub_pii(F.col("text")).alias("t"))
            out["pii"] = scrubbed.where(F.col("t").contains("<EMAIL>")).count()
        with self.request("pack_sequences", "llmdata.packing"):
            out["packed"] = packing.pack_sequences(docs, budget=256).count()
        with self.request("pq_search_batch", "llmdata.ann_index"):
            q = self.spark.read.parquet(self.queries_path)
            self.found = ann_index.pq_index_search(
                self.spark, self.index, q, k=5, n_probe=8, rerank=50, corpus=self.emb
            ).collect()
        self.outputs.append(out)

    def _recall(self) -> float:
        q = self.spark.read.parquet(self.queries_path)
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.brute_force_topk(q, self.emb, k=5).collect()
        }
        got = {(r["query_id"], r["neighbor_id"]) for r in self.found}
        return len(got & exact) / max(len(exact), 1)

    def check(self) -> list[str]:
        failures = []
        self.recall = self._recall()
        if self.recall < RECALL_FLOOR[self.ctx.scale]:
            failures.append(f"llm_curation recall@5 {self.recall:.3f} < floor")
        first = self.outputs[0]
        for out in self.outputs[1:]:
            if out != first:
                failures.append(f"llm_curation outputs differ between passes: {first} vs {out}")
                break
        self.ctx.info["recall_at_5"] = self.recall
        self.ctx.info["outputs"] = first
        return failures

    def trace_metrics(self) -> dict[str, float]:
        return {"llmdata.ann_index.recall_at_5": self.recall}


WORKLOAD = LlmCuration

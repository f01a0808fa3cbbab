"""llm_dedup: the LLM-data operators on seeded document batches.

Each cycle is three dedup batches and one top-k batch.  A dedup batch
(400 sampled documents plus 20 planted near-duplicates) runs
``gopher_rules`` -> ``minhash_lsh_pairs`` over the documents that pass
-> ``connected_components``, composed as the package's own curation
pipeline composes them.  A top-k batch asks ``ivf_topk`` for the
10 nearest of 2,000 embeddings to each of 64 queries, probing 4 of 16
cluster-mean centroids.  Import and SQL
never reach these operators, so an operator change should move only
this workload.

Checks: the op's rule flags and candidate pairs are read again after
it; components must equal a union-find over those pairs, every planted
pair whose documents both pass the rules must share a component, and
IVF top-k must agree with brute-force ``cosine_topk``.  Traced runs
time each operator layer by running it once more on its own after the
op, since inside the composed op the layers run lazily within each
other's Spark jobs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from parquet_to_sql_spark.operators.dedup import connected_components, minhash_lsh_pairs
from parquet_to_sql_spark.operators.simsearch import cosine_topk, ivf_topk
from parquet_to_sql_spark.operators.text import gopher_rules
from parquet_to_sql_spark.sources.parquet import ParquetSource

from perfbench import inputs
from perfbench.harness import Workload

MINHASH_K, MINHASH_BANDS = 16, 8
NPROBE = 4
MIN_PLANTED_RECALL = 0.9
MIN_TOPK_RECALL = 0.9
VERIFY_JACCARD = 0.5


def _shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    w = text.split()
    return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}


def _components(nodes, pairs) -> dict[int, int]:
    """Union-find reference: node -> smallest id in its component."""
    root = {n: n for n in nodes}

    def find(x):
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            root[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


class LlmDedup(Workload):
    def setup(self) -> None:
        self.docs = inputs.make_documents(self.seed)
        self.emb_path = os.path.join(self.work, "embeddings.parquet")
        centroids = inputs.write_embeddings(self.seed, self.emb_path)
        self.centroids = self.spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "vec_id long, embedding array<double>",
        )
        for spec in (("dedup", inputs.WARMUP), ("topk", inputs.WARMUP)):  # warm-up
            prepared = self.prepare(spec)
            self.check(spec, prepared, self.run(spec, prepared)[1])

    def cycle(self, n: int) -> list:
        return inputs.llm_cycle(n)

    def shape(self, spec) -> str:
        return spec[0]

    def prepare(self, spec):
        kind, op = spec
        if kind == "dedup":
            batch = inputs.dedup_batch(self.seed, op, self.docs)
            table = pa.table({"doc_id": pa.array(batch.doc_ids, pa.int64()), "text": batch.texts})
        else:
            batch = inputs.topk_batch(self.seed, op)
            table = pa.table({
                "vec_id": pa.array(batch.query_ids, pa.int64()),
                "embedding": pa.array(list(batch.vectors), pa.list_(pa.float32())),
            })
        path = os.path.join(self.work, f"{kind}_{op}.parquet")
        pq.write_table(table, path)
        return path, batch

    def run(self, spec, prepared):
        path, batch = prepared
        if spec[0] == "dedup":
            with self.tracer.span("sources.bind"):
                docs = ParquetSource(self.spark, path).load()
            # composed as the package's curation pipeline composes them
            # (queries/pipelines.py): no barrier between the operators
            verdict = gopher_rules(docs, "doc_id", "text").select("doc_id", "passes")
            kept = docs.join(verdict.filter(F.col("passes")), "doc_id").select("doc_id", "text")
            pairs = minhash_lsh_pairs(
                kept, "doc_id", "text", k=MINHASH_K, bands=MINHASH_BANDS
            ).select("doc1", "doc2")
            comp = connected_components(pairs, kept.select("doc_id")).select(
                F.col("node").alias("doc_id"), F.col("label").alias("component")
            )
            rows = verdict.join(comp, "doc_id", "left").select(
                "doc_id", "passes", F.coalesce("component", F.lit(-1).cast("long")).alias("component")
            ).collect()
            return len(batch.doc_ids), {"verdict": verdict, "pairs": pairs, "rows": rows}
        with self.tracer.span("sources.bind"):
            corpus = ParquetSource(self.spark, self.emb_path).load().select("vec_id", "embedding")
            queries = ParquetSource(self.spark, path).load()
        with self.tracer.span("operators.simsearch.topk"):
            found = ivf_topk(
                corpus, "vec_id", "embedding", queries, self.centroids,
                k=inputs.TOPK_K, nprobe=NPROBE,
            ).collect()
        return len(batch.query_ids), {"corpus": corpus, "queries": queries, "found": found}

    def check(self, spec, prepared, out) -> None:
        batch = prepared[1]
        if spec[0] == "dedup":
            self._check_dedup(batch, out)
            return
        truth = cosine_topk(out["corpus"], "vec_id", "embedding", out["queries"], k=inputs.TOPK_K)
        truth = {(r.query_id, r.neighbor_id): r.cosine for r in truth.collect()}
        found = {(r.query_id, r.neighbor_id): r.cosine for r in out["found"]}
        if len(truth) != len(batch.query_ids) * inputs.TOPK_K:
            raise AssertionError(f"cosine_topk returned {len(truth)} rows")
        for key in found.keys() & truth.keys():
            if not np.isclose(found[key], truth[key], rtol=1e-9):
                raise AssertionError(f"{key}: ivf cosine {found[key]} != {truth[key]}")
        out["recall"] = len(found.keys() & truth.keys()) / len(truth)
        if out["recall"] < MIN_TOPK_RECALL:
            raise AssertionError(f"ivf_topk recall@{inputs.TOPK_K} {out['recall']:.3f}")

    def _check_dedup(self, batch, out) -> None:
        flags = {r.doc_id: r.passes for r in out["verdict"].collect()}
        out["pairs"] = [(r.doc1, r.doc2) for r in out["pairs"].collect()]
        got = {r.doc_id: (r.passes, r.component) for r in out["rows"]}
        if sorted(flags) != sorted(batch.doc_ids) or sorted(got) != sorted(batch.doc_ids):
            raise AssertionError("gopher_rules or the pipeline lost or repeated a document")
        if any(got[d][0] != ok for d, ok in flags.items()):
            raise AssertionError("pipeline verdicts differ from gopher_rules")
        out["kept"] = [d for d, ok in flags.items() if ok]
        want = _components(out["kept"], out["pairs"])
        labels = {d: c for d, (ok, c) in got.items() if ok}
        if labels != want:
            raise AssertionError("components differ from union-find over the pairs")
        if any(c != -1 for ok, c in got.values() if not ok):
            raise AssertionError("a document that fails the rules has a component")
        planted = [(a, b) for a, b in batch.planted if flags[a] and flags[b]]
        recall = sum(labels[a] == labels[b] for a, b in planted) / max(len(planted), 1)
        if planted and recall < MIN_PLANTED_RECALL:
            raise AssertionError(f"planted near-duplicate recall {recall:.3f}")

    def probe(self, spec, prepared, out) -> dict:
        """Each operator layer once more on its own, timed: inside the
        composed op they run lazily within each other's Spark jobs."""
        if spec[0] == "topk":
            return {"recall": out["recall"]}
        docs = ParquetSource(self.spark, prepared[0]).load()
        with self.tracer.span("operators.text.gopher"):
            gopher_rules(docs, "doc_id", "text").select("doc_id", "passes").collect()
        kept = docs.where(F.col("doc_id").isin(out["kept"]))
        with self.tracer.span("operators.dedup.candidates"):
            minhash_lsh_pairs(kept, "doc_id", "text", k=MINHASH_K, bands=MINHASH_BANDS).collect()
        pairs = self.spark.createDataFrame(out["pairs"], "doc1 long, doc2 long")
        nodes = self.spark.createDataFrame([(d,) for d in out["kept"]], "doc_id long")
        with self.tracer.span("operators.dedup.components"):
            connected_components(pairs, nodes).collect()
        text = dict(zip(prepared[1].doc_ids, prepared[1].texts))
        verified = 0
        for a, b in out["pairs"]:
            sa, sb = _shingles(text[a]), _shingles(text[b])
            verified += len(sa & sb) >= VERIFY_JACCARD * len(sa | sb)
        return {"candidates": len(out["pairs"]), "verified": verified}

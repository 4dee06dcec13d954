"""corpus_curation: LLM-data curation of a seeded corpus into training shards.

Each op is one full curation run over the same corpus:
``tables.load_table`` -> ``normalize_text`` -> ``quality_score`` gate ->
``exact_dedup`` keep-first -> ``minhash_dedup_decision`` ->
``sinks.write_training_shards`` (shards + manifest). The gated, exact-
deduplicated frame is persisted once per run, as a pipeline author would,
because the near-dup stage reads it several times.
"""

from __future__ import annotations

import os
import time

import gen
from spans import median

N_DOCS = 1500
ROW_GROUPS = 8
EXACT_SHARE = 0.10
NEAR_SHARE = 0.10
JUNK_SHARE = 0.05
QUALITY_MIN = 0.75
NUM_HASHES = 32
BAND_SIZE = 4
N_SHARDS = 8

PKG = "big_data_project_datapipeline_spark"

# (module, attribute, span name, layer role) wrapped in the traced run; the
# pipeline below looks every one of them up on its module at call time.
TRACED = [
    (f"{PKG}.tables", "load_table", "tables.load_table", "read"),
    (f"{PKG}.functions.text", "normalize_text", "functions.text_build", "plan"),
    (f"{PKG}.functions.text", "quality_score", "functions.text_build", "plan"),
    (f"{PKG}.functions.dedup", "exact_dedup", "functions.dedup_build", "plan"),
    (f"{PKG}.functions.dedup", "minhash_dedup_decision", "functions.dedup_build", "plan"),
    (f"{PKG}.sinks", "write_training_shards", "sinks.write_training_shards", "sink"),
]


class CorpusCuration:
    min_ops = 4  # timed curations per run, whatever --seconds says

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.corpus_dir = os.path.join(work, "corpus")
        self.plan: dict = {}
        self.op_s: list[float] = []
        self.ops: list[str] = []
        self.kept: list[frozenset] = []
        self.failed = 0
        self.verify_yield = 0.0
        self.shard_bytes = 0
        self.tokens: list[int] = []  # sorted document lengths

    def setup(self) -> None:
        rows, self.plan = gen.corpus(
            self.seed, N_DOCS, EXACT_SHARE, NEAR_SHARE, JUNK_SHARE
        )
        self.tokens = sorted(len(r["text"].split()) for r in rows)
        os.makedirs(self.corpus_dir)
        gen.write_corpus(rows, os.path.join(self.corpus_dir, "documents.parquet"), ROW_GROUPS)
        self.op(0, timed=False)  # throwaway warm-up run

    def op(self, i: int, timed: bool = True) -> None:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from big_data_project_datapipeline_spark import sinks, tables
        from big_data_project_datapipeline_spark.functions import dedup, text

        out = os.path.join(self.work, f"shards{i}")
        op = f"run{i}"
        self.tracer.op = op
        t0 = time.perf_counter()
        with self.tracer.span("op.curate"):
            docs = tables.load_table(self.spark, self.corpus_dir, "documents")
            norm = docs.withColumn("text", text.normalize_text(F.col("text")))
            gated = norm.filter(text.quality_score(F.col("text")) >= QUALITY_MIN)
            keep = dedup.exact_dedup(gated).select(F.col("keep_id").alias("doc_id"))
            uniq = gated.join(keep, "doc_id", "left_semi").persist(StorageLevel.MEMORY_AND_DISK)
            decision = dedup.minhash_dedup_decision(
                uniq, num_hashes=NUM_HASHES, band_size=BAND_SIZE
            )
            kept = uniq.join(
                decision.filter("is_kept = 1").select("doc_id"), "doc_id", "left_semi"
            )
            sinks.write_training_shards(kept, out, n_shards=N_SHARDS)
        elapsed = time.perf_counter() - t0
        if self.tracer.enabled and not self.verify_yield:
            self.verify_yield = self._verify_yield(decision)
        uniq.unpersist()
        self.kept.append(self._check(out))
        if timed:
            self.ops.append(op)
            self.op_s.append(elapsed)
            self.shard_bytes = sum(
                os.path.getsize(os.path.join(d, n))
                for d, _, names in os.walk(os.path.join(out, "data"))
                for n in names
            )

    @staticmethod
    def _verify_yield(decision) -> float:
        """Docs confirmed as near duplicates / docs with a verified
        candidate ancestor."""
        r = decision.selectExpr(
            "count(jaccard) AS cand", "count_if(jaccard IS NOT NULL AND is_kept = 0) AS dup"
        ).first()
        return r["dup"] / r["cand"] if r["cand"] else 0.0

    def _check(self, out: str) -> frozenset:
        """Kept ids of one run; the run fails if a planted exact duplicate
        survived or the kept set differs from the first run's."""
        ids = frozenset(
            r[0] for r in self.spark.read.json(os.path.join(out, "data")).select("doc_id").collect()
        )
        if ids & set(self.plan["exact"]) or (self.kept and ids != self.kept[0]):
            self.failed += 1
        return ids

    def check(self) -> int:
        return self.failed

    def properties(self) -> dict:
        lens = self.tokens
        return {
            "corpus_docs": N_DOCS,
            "row_groups": ROW_GROUPS,
            "exact_dup_share": round(len(self.plan["exact"]) / N_DOCS, 4),
            "near_dup_share": round(len(self.plan["near"]) / N_DOCS, 4),
            "junk_share": round(len(self.plan["junk"]) / N_DOCS, 4),
            "tokens_p10_p50_p90": [lens[len(lens) // 10], lens[len(lens) // 2], lens[9 * len(lens) // 10]],
            "kept_docs": len(self.kept[0]) if self.kept else 0,
            "timed_runs": len(self.ops),
        }

    def e2e(self) -> dict:
        return {
            "op_p50_s": median(self.op_s),
            "docs_per_s": N_DOCS / median(self.op_s),
            "bytes_per_row": self.shard_bytes / len(self.kept[-1]),
        }

    def per_layer(self) -> dict:
        return {"dedup.verify_yield": self.verify_yield}

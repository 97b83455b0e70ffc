"""``corpus_x10``: ``run_corpus_prep`` over 50k generated documents,
shard write included, on a fresh JVM (a corpus build is a batch job).

The documents come from ``tools/gen_scale.gen_documents`` at factor 10
(5,000 x 10 docs). That generator draws words and languages from the
profile of a source ``documents`` table; ``write_profile`` writes a
5,000-row table with exactly that profile (the 30-word vocabulary and
the language counts of the sf0.1 test table), so the generated corpus
depends only on the seed.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.harness import CheckFailed

FACTOR = 10
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANG_COUNTS = {"de": 702, "en": 2059, "es": 744, "fr": 742, "zh": 753}
# funnel at seed 42, factor 10 (input, after exact dedup, kept after
# near-dup removal and the quality gate)
SEED42 = {"input_rows": 50_000, "after_exact_dedup": 49_920,
          "after_near_dedup_and_quality": 34_881}


def write_profile(src_dir: str) -> None:
    """A documents table whose vocabulary and language mix are the
    generator's profile."""
    os.makedirs(src_dir, exist_ok=True)
    langs = [lang for lang, n in LANG_COUNTS.items() for _ in range(n)]
    texts = [" ".join(VOCAB)] * len(langs)
    pq.write_table(pa.table({"text": texts, "lang": langs}),
                   os.path.join(src_dir, "documents.parquet"))


class CorpusPrep:
    name = "corpus_x10"
    unit_name = "build"

    def generate(self, work: str, seed: int) -> None:
        from tools.gen_scale import gen_documents
        self.seed = seed
        profile = os.path.join(work, "profile")
        write_profile(profile)
        self.n_docs = gen_documents(work, FACTOR, profile, seed)
        self.docs_path = os.path.join(work, "documents.parquet")
        texts = pq.read_table(self.docs_path, columns=["text"]).column("text").to_pylist()
        self.distinct_texts = len(set(texts))

    def hooks(self):
        from tradingview_data_pipeline_spark.operators import dedup
        from tradingview_data_pipeline_spark.plans import corpus_pipeline
        return [(corpus_pipeline, "run_corpus_prep", "corpus_pipeline.run_corpus_prep"),
                (dedup, "drop_exact_duplicates", "dedup.exact"),
                (dedup, "dedup_clusters", "dedup.clusters")]

    def warmup(self, spark, work: str) -> None:
        """Scan the input once (file listing, parquet reader)."""
        self.work = work
        if spark.read.parquet(self.docs_path).count() != self.n_docs:
            raise CheckFailed("input scan lost documents")

    def unit(self, spark) -> dict:
        from tradingview_data_pipeline_spark.plans import corpus_pipeline
        out = os.path.join(self.work, "shards")
        t0 = time.perf_counter()
        self.funnel = corpus_pipeline.run_corpus_prep(
            spark, spark.read.parquet(self.docs_path), out)
        build_s = time.perf_counter() - t0
        shutil.rmtree(out, ignore_errors=True)
        return {"build_s": build_s, "attempted": 1, "failed": 0}

    def check(self, spark) -> None:
        """The funnel run_corpus_prep returns."""
        m = self.funnel
        want = {"input_rows": self.n_docs, "after_exact_dedup": self.distinct_texts}
        if self.seed == 42:
            want.update(SEED42)
        bad = {k: (m.get(k), v) for k, v in want.items() if m.get(k) != v}
        splits = sum(m[f"{s}_rows"] for s in ("train", "val", "test"))
        if splits != m["after_near_dedup_and_quality"]:
            bad["splits"] = (splits, m["after_near_dedup_and_quality"])
        if not 0 < m["after_near_dedup_and_quality"] <= m["after_exact_dedup"] \
                or m["total_tokens"] <= 0:
            bad["funnel"] = m
        if bad:
            raise CheckFailed(f"corpus funnel (got, want): {bad}")

    def e2e(self, sample) -> dict:
        self.extra = {"corpus_prep_s": f"{sample['build_s']:.4f} s", **self.funnel}
        return {"unit_s": (sample["build_s"], "s")}

    def layers(self, sample, spans, root) -> dict:
        m = self.funnel
        return {"corpus_pipeline.kept_ratio": (
                    m["after_near_dedup_and_quality"] / m["input_rows"], "ratio"),
                "corpus_pipeline.exact_dup_ratio": (
                    m["after_exact_dedup"] / m["input_rows"], "ratio")}

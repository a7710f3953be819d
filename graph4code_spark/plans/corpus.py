"""Checkpointed corpus-hygiene pipeline: the training-data analogue of
`plans/pipeline.py`'s KG spine, with the same resume contract.

    docs ──► 01_redacted ──► 02_decontaminated ──► 03_cleaned ──► 04_packed

Every stage writes parquet + a manifest fingerprint via StageRunner, so
a job killed after stage k resumes by READING stages 1..k back instead
of recomputing them (north rule: per-stage lineage + resumability).
The fingerprints are content-addressed: ``01_redacted`` is keyed on a
digest of the input documents and every later stage chains its
upstream's fingerprint, so new documents, config or code in the same
``out_dir`` recompute every stage they reach instead of resuming it.
The parquet boundaries are also where a 100 TB run wants its barriers:
the redacted table is the reusable corpus-of-record, the cleaned table
is what the tokenizer consumes, the packed table is the training
manifest.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph4code_spark.operators.packing import pack_sequences
from graph4code_spark.operators.scrub import (
    contaminated_doc_ids,
    drop_frequent_lines,
    pii_features,
)
from graph4code_spark.operators.textstats import whitespace_token_count
from graph4code_spark.plans.pipeline import StageRunner, content_hash, frame_digest


@dataclass
class CorpusConfig:
    out_dir: str
    bench_mod: int = 50          # doc_id % bench_mod == 0 is the eval slice
    gram_k: int = 4              # decontamination n-gram size
    line_words: int = 3          # words per CCNet "line" chunk
    min_docs: int = 3            # frequent-line threshold
    min_tokens: int = 10         # quality gate
    seq_len: int = 64            # packing sequence length

    def fingerprint(self) -> str:
        return content_hash({k: v for k, v in self.__dict__.items() if k != "out_dir"})


def run_corpus_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    config: CorpusConfig,
    stats: dict | None = None,
) -> DataFrame:
    """(doc_id, text) → packed training manifest
    (doc_id, n_tokens, sort_key, global_offset, seq_id, straddles)."""
    cfg = config
    runner = StageRunner(spark, cfg.out_dir, cfg.fingerprint())
    if stats is not None:
        stats["executed"] = runner.executed

    src = docs.select("doc_id", "text")
    red = runner.run(
        "01_redacted",
        lambda: pii_features(src, "text").select(
            "doc_id", F.col("text_redacted").alias("rt")
        ),
        key=frame_digest(src),
    )

    def _decontaminate():
        bench = red.where(F.col("doc_id") % cfg.bench_mod == 0)
        corpus = red.where(F.col("doc_id") % cfg.bench_mod != 0)
        hit = contaminated_doc_ids(corpus, bench, "doc_id", "rt", k=cfg.gram_k)
        return corpus.join(hit.select("doc_id"), "doc_id", "left_anti")

    surv = runner.run("02_decontaminated", _decontaminate, deps=["01_redacted"])

    def _clean():
        w = F.split(F.lower(F.trim(F.col("rt"))), r"\s+")
        n = F.size(w)
        c = cfg.line_words
        lines = F.transform(
            F.sequence(F.lit(1), F.ceil(n / F.lit(float(c))).cast("int")),
            lambda i: F.array_join(F.slice(w, (i - 1) * c + 1, c), " "),
        )
        chunked = surv.select("doc_id", lines.alias("lines"))
        return drop_frequent_lines(
            chunked, "doc_id", "lines", min_docs=cfg.min_docs
        ).select("doc_id", F.array_join("lines_kept", " ").alias("ct"))

    cleaned = runner.run("03_cleaned", _clean, deps=["02_decontaminated"])

    def _pack():
        counted = cleaned.select(
            "doc_id", whitespace_token_count(F.col("ct")).alias("nw")
        ).where(F.col("nw") >= cfg.min_tokens)
        return pack_sequences(counted, "doc_id", "nw", seq_len=cfg.seq_len)

    return runner.run("04_packed", _pack, deps=["03_cleaned"])

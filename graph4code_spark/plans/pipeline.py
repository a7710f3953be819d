"""End-to-end KG-construction pipeline with checkpoint/resume.

Stage graph (north_star spine):

    pages ──► qa ──► links ──► forum_triples ─┐
      │                └─► flow_nodes ─► flow_triples ─┤
      catalog ─► doc_triples ──────────────────────────┼─► triples (final)
      class_map ─► cc_mapping ─► sameas_triples ───────┘

Resumability (north rule): every stage, the final ``triples`` included,
writes parquet under ``<out_dir>/<stage>/`` and records a fingerprint +
row count + wall time in ``<out_dir>/manifest.json``.  Fingerprints are
content-addressed (see ``StageRunner``), so a rerun reads back exactly
the stages whose code, config and input contents are unchanged and
recomputes the rest: a job killed after stage k resumes at k+1, and new
pages, catalog or code in the same ``out_dir`` never resume a stale
table (verified by ``tests/test_pipeline_resume``).  The reference's
analogue is its pickle checkpointing and idempotent per-stage reruns.
The parquet stage boundaries double as the shuffle barriers you'd want
at 100 TB anyway.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import pkgutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import graph4code_spark
from graph4code_spark.emitters.analysis import analysis_triples
from graph4code_spark.emitters.docstrings import build_class_alias_map, docstring_triples
from graph4code_spark.emitters.forum import forum_triples
from graph4code_spark.materialize import materialize_triples
from graph4code_spark.operators.canonicalize import canonical_mapping, same_as_triples
from graph4code_spark.operators.flows import extract_flow_nodes
from graph4code_spark.operators.linking import ES_RESULT_CAP, link_entities
from graph4code_spark.schemas import TRIPLE_COLS
from graph4code_spark.sources.qa import extract_qa
from graph4code_spark.synth import FIXED_CATALOG, FIXED_CLASS_MAP, catalog_df, class_map_df
from graph4code_spark.uris import PREFIXES


def content_hash(value) -> str:
    """Short md5 of a JSON-serializable value."""
    basis = json.dumps(value, sort_keys=True)
    return hashlib.md5(basis.encode()).hexdigest()[:12]


def frame_digest(df: DataFrame) -> str:
    """Order-independent content digest of a frame: row count plus the sum
    of every row's xxhash64, in one aggregate."""
    row = df.select(
        F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
    ).first()
    return f"{row[0]}:{row[1]}"


@functools.cache
def source_hash() -> str:
    """Hash of every ``graph4code_spark`` module's source, read through the
    module loaders so a ``--py-files`` zip hashes like the checkout."""
    top = graph4code_spark.__spec__
    sources = {top.name: top.loader.get_source(top.name)}
    for info in pkgutil.walk_packages(graph4code_spark.__path__, top.name + "."):
        sources[info.name] = info.module_finder.find_spec(info.name).loader.get_source(info.name)
    return content_hash(sources)


@dataclass
class PipelineConfig:
    out_dir: str
    forum_prefix: str = PREFIXES["stackoverflow3"]
    cap: int = ES_RESULT_CAP
    buckets: int = 8
    catalog_records: list = field(default_factory=lambda: FIXED_CATALOG)
    class_map_pairs: list = field(default_factory=lambda: FIXED_CLASS_MAP)

    def fingerprint(self) -> str:
        """Shared parameters; catalog, class map and buckets key stages."""
        return content_hash({"forum_prefix": self.forum_prefix, "cap": self.cap})


class StageRunner:
    """Content-addressed, write-once-per-fingerprint stage executor.

    A stage's fingerprint hashes the runner's base (the caller's
    ``fingerprint`` plus ``source_hash()``), the stage name, its own
    ``key`` (a digest of the inputs it reads that no dep covers) and the
    fingerprints of its ``deps``.  Chaining the deps' fingerprints makes a
    rerun kill-safe: after a run over new input dies having rewritten
    stage k, a downstream table of the old input no longer matches.  A
    stage resumes when its manifest fingerprint matches, its ``_SUCCESS``
    marker exists and no dep was recomputed this run (a deleted upstream
    table is rebuilt from unchanged inputs, so only that rule catches it).
    """

    def __init__(self, spark: SparkSession, out_dir: str, fingerprint: str):
        self.spark = spark
        self.out_dir = out_dir
        self.base = content_hash([fingerprint, source_hash()])
        self.manifest_path = os.path.join(out_dir, "manifest.json")
        os.makedirs(out_dir, exist_ok=True)
        self.manifest: dict = {}
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                self.manifest = json.load(f)
        self.fingerprints: dict[str, str] = {}
        self.executed: list[str] = []

    def _save(self) -> None:
        with open(self.manifest_path, "w") as f:
            json.dump(self.manifest, f, indent=2, sort_keys=True)

    def _resume_or_write(self, name: str, write, deps: list[str], key) -> str:
        """The stage's path; ``write(path) -> {"rows": n, ...}`` fills it
        unless the stage resumes, and its fields join the manifest entry."""
        fp = content_hash([self.base, name, key, [self.fingerprints[d] for d in deps]])
        self.fingerprints[name] = fp
        path = os.path.join(self.out_dir, name)
        if (
            self.manifest.get(name, {}).get("fingerprint") == fp
            and os.path.exists(os.path.join(path, "_SUCCESS"))
            and not any(d in self.executed for d in deps)
        ):
            return path
        # no entry may vouch for a table that a killed run overwrote
        if self.manifest.pop(name, None) is not None:
            self._save()
        t0 = time.time()
        measured = write(path)
        self.manifest[name] = {
            "fingerprint": fp,
            **measured,
            "wall_sec": round(time.time() - t0, 3),
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._save()
        self.executed.append(name)
        return path

    def run(self, name: str, build, deps: list[str] | None = None, key=None) -> DataFrame:
        """Resume stage ``name`` or write ``build()`` as its table."""

        def write(path: str) -> dict:
            build().write.mode("overwrite").option("compression", "zstd").parquet(path)
            return {"rows": self.spark.read.parquet(path).count()}

        return self.spark.read.parquet(self._resume_or_write(name, write, deps or [], key))


def run_pipeline(spark: SparkSession, pages: DataFrame, config: PipelineConfig,
                 stats: dict | None = None) -> DataFrame:
    """Pages → final quad table. Returns the materialized triples.

    ``stats``, when given, is filled with {"executed": [stage, ...]} —
    the stages actually recomputed this run (empty on a full resume), so
    callers can assert resume semantics directly instead of inferring
    them from wall-clock."""
    cfg = config
    runner = StageRunner(spark, cfg.out_dir, cfg.fingerprint())
    if stats is not None:
        stats["executed"] = runner.executed
    records = cfg.catalog_records
    catalog = content_hash(records)
    class_map = content_hash(cfg.class_map_pairs)

    qa = runner.run("01_qa", lambda: extract_qa(pages), key=frame_digest(pages))
    links = runner.run("02_links", lambda: link_entities(qa, records, cfg.cap),
                       deps=["01_qa"], key=catalog)
    doc_t = runner.run("03_doc_triples", lambda: docstring_triples(
        catalog_df(spark, records), build_class_alias_map(cfg.class_map_pairs)),
        key=[catalog, class_map])
    forum_t = runner.run("04_forum_triples", lambda: forum_triples(
        links, qa, records, cfg.forum_prefix), deps=["01_qa", "02_links"], key=catalog)
    # fault-barrier lineage: pages the extractor dropped surface in the
    # stage's observed metrics (one bad page must never fail the stage)
    flow_nodes = runner.run("05_flow_nodes", lambda: extract_flow_nodes(
        qa, records, error_observation="flow_extract_05"), deps=["01_qa"], key=catalog)
    flow_t = runner.run("06_flow_triples", lambda: analysis_triples(flow_nodes),
                        deps=["05_flow_nodes"])
    mapping = runner.run("07_cc_mapping", lambda: canonical_mapping(
        class_map_df(spark, cfg.class_map_pairs)), key=class_map)
    sameas_t = runner.run("08_sameas_triples", lambda: same_as_triples(mapping),
                          deps=["07_cc_mapping"])

    def materialize(path: str) -> dict:
        all_t = doc_t.select(*TRIPLE_COLS)
        for t in (forum_t, flow_t, sameas_t):
            all_t = all_t.unionByName(t.select(*TRIPLE_COLS))
        metrics = materialize_triples(all_t, path, buckets=cfg.buckets)
        return {"rows": metrics["n_triples"], "metrics": metrics}

    final_path = runner._resume_or_write(
        "triples", materialize, key=cfg.buckets,
        deps=["03_doc_triples", "04_forum_triples", "06_flow_triples", "08_sameas_triples"])
    return spark.read.parquet(final_path).select(*TRIPLE_COLS)

"""Pipeline end-to-end + checkpoint/resume invariants."""

import glob
import json
import os

from graph4code_spark.materialize import materialize_triples, read_triples
from graph4code_spark.plans.pipeline import PipelineConfig, StageRunner, run_pipeline
from graph4code_spark.synth import synth_pages


def _quadset(df):
    return {
        (r.subj, r.pred, r.obj, r.is_literal, r.arg_pos, r.arg_name, r.graph)
        for r in df.collect()
    }


def test_pipeline_runs_and_resumes(spark, tmp_path):
    out = str(tmp_path / "kg")
    pages = synth_pages(spark, 60, seed=11)
    cfg = PipelineConfig(out_dir=out)

    t1 = run_pipeline(spark, pages, cfg)
    s1 = _quadset(t1)
    assert len(s1) > 500

    manifest = json.load(open(os.path.join(out, "manifest.json")))
    assert set(manifest) >= {"01_qa", "02_links", "04_forum_triples", "triples"}
    assert all(v["rows"] >= 0 for v in manifest.values())

    # simulate kill after stage 2: delete downstream outputs + manifest rows
    for stage in ["04_forum_triples", "06_flow_triples", "triples"]:
        os.system(f"rm -rf {out}/{stage}")
        manifest.pop(stage, None)
    json.dump(manifest, open(os.path.join(out, "manifest.json"), "w"))

    runner = StageRunner(spark, out, cfg.fingerprint())
    t2 = run_pipeline(spark, pages, cfg)
    assert _quadset(t2) == s1
    # upstream stages were reused, not recomputed
    manifest2 = json.load(open(os.path.join(out, "manifest.json")))
    assert manifest2["01_qa"]["completed_at"] == manifest["01_qa"]["completed_at"]
    assert runner is not None


def _assert_layout_and_metrics(spark, path, metrics):
    """One parquet file per (pred_name, subj_bucket) directory, and the
    persisted metrics/lineage agree with the table read back."""
    from pyspark.sql import functions as F

    assert json.load(open(os.path.join(path, "_metrics.json"))) == metrics
    dirs = glob.glob(os.path.join(path, "pred_name=*", "subj_bucket=*"))
    assert dirs
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    assert metrics["n_partitions"] == len(dirs)

    t = spark.read.parquet(path)
    # HLL++ sketches merge order-independently, so the observed
    # approximations equal a recount over the written table exactly
    back = t.select(
        F.count(F.lit(1)).alias("n_triples"),
        F.approx_count_distinct("graph").alias("n_graphs"),
        F.approx_count_distinct("subj").alias("n_subjects"),
    ).first().asDict()
    assert {k: metrics[k] for k in back} == back

    lineage = spark.read.parquet(path + "_lineage")
    assert lineage.count() == metrics["n_partitions"]
    assert lineage.agg(F.sum("rows")).first()[0] == metrics["n_triples"]

    # no duplicate quads in the final table
    assert metrics["n_triples"] == t.dropDuplicates(
        ["subj", "pred", "obj", "is_literal", "arg_pos", "arg_name", "graph"]
    ).count()


def test_materialize_layout_and_metrics(spark, tmp_path):
    out = str(tmp_path / "kg2")
    pages = synth_pages(spark, 40, seed=12)
    run_pipeline(spark, pages, PipelineConfig(out_dir=out))

    path = os.path.join(out, "triples")
    metrics = json.load(open(os.path.join(path, "_metrics.json")))
    assert metrics["n_triples"] > 0
    assert metrics["n_graphs"] >= 2  # docstrings + forum (+ per-page flow graphs)
    _assert_layout_and_metrics(spark, path, metrics)

    # a full self-union collapses back to the same quad set and metrics;
    # uncoalesced shuffle partitions spread the quads over several write
    # tasks, which must still leave one file per directory
    quads = read_triples(spark, path)
    again = str(tmp_path / "again")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        metrics2 = materialize_triples(quads.unionAll(quads), again)
    finally:
        spark.conf.set(key, prev)
    _assert_layout_and_metrics(spark, again, metrics2)
    metrics.pop("wall_sec")
    metrics2.pop("wall_sec")
    assert metrics2 == metrics
    assert _quadset(read_triples(spark, again)) == _quadset(quads)


def test_corpus_pipeline_resume(spark, tmp_path):
    """Corpus-hygiene spine has the same resume contract as the KG
    spine: identical final table on rerun with ZERO recomputed stages,
    and a deleted mid-stage recomputes only itself and its downstream."""
    import shutil

    from graph4code_spark.plans.corpus import CorpusConfig, run_corpus_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = CorpusConfig(out_dir=str(tmp_path / "corpus_out"))

    s1: dict = {}
    first = run_corpus_pipeline(spark, docs, cfg, stats=s1)
    rows1 = sorted(tuple(r) for r in first.collect())
    assert s1["executed"] == [
        "01_redacted", "02_decontaminated", "03_cleaned", "04_packed",
    ]
    assert rows1

    s2: dict = {}
    second = run_corpus_pipeline(spark, docs, cfg, stats=s2)
    assert s2["executed"] == []                       # full resume
    assert sorted(tuple(r) for r in second.collect()) == rows1

    shutil.rmtree(str(tmp_path / "corpus_out" / "03_cleaned"))
    s3: dict = {}
    third = run_corpus_pipeline(spark, docs, cfg, stats=s3)
    assert s3["executed"] == ["03_cleaned", "04_packed"]
    assert sorted(tuple(r) for r in third.collect()) == rows1


def test_resume_is_content_addressed(spark, tmp_path, monkeypatch):
    """One out_dir, 30-page corpora: a stage resumes only when its code,
    config, own inputs and upstream fingerprints all match."""
    import pytest

    from graph4code_spark.plans import pipeline
    from graph4code_spark.synth import FIXED_CATALOG

    shared = str(tmp_path / "shared")

    def run(seed, out=shared, **cfg):
        stats: dict = {}
        quads = _quadset(run_pipeline(
            spark, synth_pages(spark, 30, seed=seed), PipelineConfig(out_dir=out, **cfg),
            stats=stats))
        return quads, stats["executed"]

    seed1, _ = run(1)

    # a seed-2 run dies in 02_links after rewriting 01_qa; the rerun must
    # not resume the seed-1 stages downstream of the rewritten table
    def boom(*args, **kwargs):
        raise RuntimeError("killed in 02_links")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "link_entities", boom)
        with pytest.raises(RuntimeError, match="killed in 02_links"):
            run(2)
    resumed, executed = run(2)
    assert executed == [
        "02_links", "04_forum_triples", "05_flow_nodes", "06_flow_triples", "triples"]
    seed2, _ = run(2, out=str(tmp_path / "fresh"))
    assert resumed == seed2 != seed1

    # different pages recompute every stage that reads them, and only those
    assert run(1) == (seed1, [
        "01_qa", "02_links", "04_forum_triples", "05_flow_nodes", "06_flow_triples",
        "triples"])

    # an identical rerun recomputes nothing
    assert run(1) == (seed1, [])

    # a same-length catalog edit reaches every stage that reads the catalog
    edited = [dict(FIXED_CATALOG[0], class_docstring="An edited docstring."), *FIXED_CATALOG[1:]]
    _, executed = run(1, catalog_records=edited)
    assert executed == [
        "02_links", "03_doc_triples", "04_forum_triples", "05_flow_nodes",
        "06_flow_triples", "triples"]


def test_corpus_resume_keyed_on_docs(spark, tmp_path):
    """Changed input documents recompute the corpus spine from
    ``01_redacted`` instead of resuming it."""
    from pyspark.sql import functions as F

    from graph4code_spark.plans.corpus import CorpusConfig, run_corpus_pipeline

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(20))) for i in range(100)],
        "doc_id long, text string",
    )
    cfg = CorpusConfig(out_dir=str(tmp_path / "corpus_out"))
    assert run_corpus_pipeline(spark, docs, cfg).count() > 0
    stats: dict = {}
    run_corpus_pipeline(spark, docs.where(F.col("doc_id") % 2 == 0), cfg, stats=stats)
    assert stats["executed"] == [
        "01_redacted", "02_decontaminated", "03_cleaned", "04_packed"]

"""N-Quads writer/parser: round-trip identity, golden-file coverage, and
vocabulary parity vs the reference's shipped sample graphs."""

import pyspark.sql.functions as F
import pytest

from __spark_entry__ import _SAMPLE_GRAPH
from graph4code_spark.nq import parse_nq_lines, to_nq_lines
from graph4code_spark.schemas import TRIPLES_SCHEMA

EX1 = str(_SAMPLE_GRAPH / "example1.nq")
EX2 = str(_SAMPLE_GRAPH / "example2.nq")
EX3 = str(_SAMPLE_GRAPH / "example3.nq")
DOCS = str(_SAMPLE_GRAPH / "docstrings_sample.nq")

QUIRK_QUADS = [
    ("http://g/s1", "http://g/p", 'has "quotes", \n newline, \t tab, \\ backslash',
     True, None, None, "http://g/g1"),
    ("http://g/s1", "http://g/p", "http://g/o", False, None, None, "http://g/g1"),
    # RDF* flavors: position, name, and read/write (SIO_000420)
    ("http://g/s2", "http://purl.org/twc/graph4code/flowsTo",
     "http://g/o2", False, 0, None, "http://g/g1"),
    ("http://g/s2", "http://semanticscience.org/resource/SIO_000230",
     "rbf", True, None, "kernel", "http://g/g1"),
    ("http://g/s3", "http://purl.org/twc/graph4code/read",
     "svm", True, None, "svm", "http://g/g1"),
    ("http://g/s3", "http://purl.org/twc/graph4code/write",
     "col", True, None, "col", "http://g/g1"),
]


def test_roundtrip_quirk_quads(spark):
    df = spark.createDataFrame(QUIRK_QUADS, TRIPLES_SCHEMA)
    back = parse_nq_lines(to_nq_lines(df))
    assert set(map(tuple, back.collect())) == set(map(tuple, df.collect()))
    # read/write annotations serialize under SIO_000420, not SIO_000116
    lines = [r.value for r in to_nq_lines(df).collect()]
    access = [l for l in lines if "/read" in l or "/write" in l]
    assert access and all("SIO_000420" in l for l in access)
    assert not any("SIO_000116" in l for l in access)


@pytest.mark.reference
def test_goldens_parse_completely(spark):
    for path, want in [(EX1, 615), (EX2, 692), (EX3, 664), (DOCS, 803)]:
        raw = spark.read.text(path).where(F.trim("value") != "")
        parsed = parse_nq_lines(raw)
        assert parsed.count() == want == raw.count(), path


@pytest.mark.reference
def test_goldens_roundtrip_identity(spark):
    for path in (EX1, EX2, EX3, DOCS):
        g = parse_nq_lines(spark.read.text(path))
        rt = parse_nq_lines(to_nq_lines(g))
        assert set(map(tuple, rt.collect())) == set(map(tuple, g.collect())), path


@pytest.mark.reference
def test_examples_vocabulary_and_rdfstar_shape_parity(spark):
    """example2/3 exercise the reads/slice/unpack node shapes flows.py
    added in r3/r4; all three examples share one predicate vocabulary,
    and every RDF* annotation uses exactly the annotation predicate our
    serializer would pick for that base predicate
    (`PythonTurtleAnalysisEngine.java:400-414` → nq.py mapping)."""
    from graph4code_spark.nq import SIO_ACCESS, SIO_NAME, SIO_POS

    vocab = {}
    shapes = {}
    for path in (EX1, EX2, EX3):
        g = parse_nq_lines(spark.read.text(path)).cache()
        vocab[path] = {r.pred for r in g.select("pred").distinct().collect()}
        # recover the annotation predicate exactly as the parser folded
        # it: arg_pos → SIO_000613; arg_name on read/write → SIO_000420,
        # else SIO_000116 — then assert the file round-trips through the
        # same rule (to_nq_lines uses it), i.e. shape parity.
        ann = g.where(F.col("arg_pos").isNotNull() | F.col("arg_name").isNotNull())
        rows = ann.select("pred", "arg_pos", "arg_name").collect()
        seen = set()
        for r in rows:
            if r.arg_pos is not None:
                seen.add((r.pred, SIO_POS))
            elif r.pred.endswith("/read") or r.pred.endswith("/write"):
                seen.add((r.pred, SIO_ACCESS))
            else:
                seen.add((r.pred, SIO_NAME))
        shapes[path] = seen
    assert vocab[EX1] == vocab[EX2] == vocab[EX3]
    flows_to = "http://purl.org/twc/graph4code/flowsTo"
    sio_arg = "http://semanticscience.org/resource/SIO_000230"
    g4c_read = "http://purl.org/twc/graph4code/read"
    expected = {
        (flows_to, SIO_POS),
        (sio_arg, SIO_POS),
        (sio_arg, SIO_NAME),
        (g4c_read, SIO_ACCESS),
    }
    for path in (EX1, EX2, EX3):
        assert shapes[path] == expected, path


@pytest.mark.reference
def test_flow_vocabulary_parity(spark):
    """Every predicate our analysis emitter produces appears in
    example1.nq's vocabulary — except g4c:write, which the example script
    never exercises (g4c:read IS in the golden, confirming the shape)."""
    from graph4code_spark.emitters.analysis import analysis_triples
    from graph4code_spark.operators.flows import extract_flow_nodes
    from graph4code_spark.sources.qa import extract_qa
    from graph4code_spark.synth import FIXED_CATALOG, synth_pages

    gold = {r.pred for r in parse_nq_lines(spark.read.text(EX1))
            .select("pred").distinct().collect()}
    qa = extract_qa(synth_pages(spark, 200, seed=42))
    ours = {r.pred for r in analysis_triples(extract_flow_nodes(qa, FIXED_CATALOG))
            .select("pred").distinct().collect()}
    assert ours - gold == {"http://purl.org/twc/graph4code/write"}
    assert "http://purl.org/twc/graph4code/read" in gold


@pytest.mark.reference
def test_docstrings_vocabulary_parity(spark):
    """The docstrings golden's predicate vocabulary is fully covered by
    our emitter; our extras are reference vocabulary the small sample
    does not exercise (create_docstrings_graph.py:245,319,372,462)."""
    from graph4code_spark.emitters.docstrings import (
        build_class_alias_map,
        docstring_triples,
    )
    from graph4code_spark.synth import FIXED_CLASS_MAP, catalog_df

    gold = {r.pred for r in parse_nq_lines(spark.read.text(DOCS))
            .select("pred").distinct().collect()}
    ours = {r.pred for r in
            docstring_triples(catalog_df(spark), build_class_alias_map(FIXED_CLASS_MAP))
            .select("pred").distinct().collect()}
    assert gold - ours == set()
    allowed_extra = {
        "http://purl.org/twc/graph4code/ontology/aliasOf",
        "http://purl.org/twc/graph4code/ontology/classMember",
        "http://purl.org/twc/graph4code/ontology/ret_types",
        "http://purl.org/twc/graph4code/ontology/return_type",
    }
    assert ours - gold <= allowed_extra


def test_pipeline_quads_roundtrip(spark, tmp_path):
    """Write the real pipeline's quads as .nq, read back, identical set."""
    from graph4code_spark.emitters.forum import forum_triples
    from graph4code_spark.materialize import dedup_quads
    from graph4code_spark.nq import read_nq, write_nq
    from graph4code_spark.operators.linking import link_entities
    from graph4code_spark.sources.qa import extract_qa
    from graph4code_spark.synth import FIXED_CATALOG, synth_pages

    pages = synth_pages(spark, 60, seed=7)
    qa = extract_qa(pages)
    links = link_entities(qa, FIXED_CATALOG)
    quads = dedup_quads(forum_triples(links, qa, FIXED_CATALOG))
    path = str(tmp_path / "out.nq")
    write_nq(quads, path)
    back = read_nq(spark, path)
    assert set(map(tuple, back.collect())) == set(map(tuple, quads.collect()))

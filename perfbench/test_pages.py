"""Tests for the unique-snippet corpus generator.

Run from the repository root:  python3 -m pytest perfbench/test_pages.py -q
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.pages import PAGES_SCHEMA, rename_locals, synth_pages_pdf, uniquify_pages  # noqa: E402

N_PAGES, SEED = 120, 5


def test_rename_keeps_library_paths_attributes_keywords_and_strings():
    code = (
        "import pandas\nimport sklearn\n"
        "df = pandas.read_csv('df.csv')\n"
        "m = sklearn.svm.SVC(df, kernel='rbf')\n"
        "r = m.fit(df, 3)  # df stays in the comment\n"
        "def clean(d):\n    return d.dropna()\n"
        "out = clean(df)\n"
    )
    assert rename_locals(code, "qq") == (
        "import pandas\nimport sklearn\n"
        "df_qq = pandas.read_csv('df.csv')\n"
        "m_qq = sklearn.svm.SVC(df_qq, kernel='rbf')\n"
        "r_qq = m_qq.fit(df_qq, 3)  # df stays in the comment\n"
        "def clean_qq(d_qq):\n    return d_qq.dropna()\n"
        "out_qq = clean_qq(df_qq)\n"
    )


@pytest.fixture(scope="module")
def corpora():
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from graph4code_spark.session import get_spark
    from graph4code_spark.synth import synth_pages

    spark = get_spark(
        "perfbench-test",
        master="local[2]",
        extra_conf={"spark.driver.memory": "1g", "spark.sql.shuffle.partitions": "4",
                    "spark.ui.showConsoleProgress": "false"},
    )
    source = synth_pages(spark, N_PAGES, seed=SEED).toPandas()
    yield spark, source, uniquify_pages(source, SEED)
    spark.stop()


def _codes(pdf):
    from graph4code_spark.sources.qa import parse_qa_page

    return {u: parse_qa_page(u, h.decode("utf-8"))["codes"] for u, h in zip(pdf["url"], pdf["html"])}


def test_in_process_corpus_equals_synth_pages(corpora):
    _, source, _ = corpora
    mine = synth_pages_pdf(N_PAGES, SEED)
    for col in ("url", "html", "text", "lang"):
        assert list(mine[col]) == list(source[col])
    assert [t.replace(tzinfo=None) for t in mine["warc_ts"]] == list(source["warc_ts"])


def test_text_is_the_canonical_extraction(corpora):
    from graph4code_spark.html_extract import extract_text

    _, _, unique = corpora
    for html, text in zip(unique["html"], unique["text"]):
        assert text == extract_text(html.decode("utf-8"))


def test_snippets_are_distinct(corpora):
    _, source, unique = corpora
    src = [c for cs in _codes(source).values() for c in cs]
    uni = [c for cs in _codes(unique).values() for c in cs]
    assert len(uni) == len(src)
    assert len(set(src)) / len(src) < 0.5  # the standard corpus repeats
    assert len(set(uni)) / len(uni) >= 0.95


def test_library_call_paths_are_kept(corpora):
    from graph4code_spark.operators.flows import build_flow_catalog, extract_page_flow_nodes
    from graph4code_spark.synth import FIXED_CATALOG

    _, source, unique = corpora
    catalog = build_flow_catalog(FIXED_CATALOG)

    def paths(codes):
        return {
            url: Counter(
                ".".join(n["path"]) for n in extract_page_flow_nodes(url, cs, catalog) if n["path"]
            )
            for url, cs in codes.items()
        }

    assert paths(_codes(unique)) == paths(_codes(source))


def test_mentions_and_links_per_page_match(corpora):
    from pyspark.sql import functions as F

    from graph4code_spark.operators.linking import link_entities
    from graph4code_spark.sources.qa import extract_qa
    from graph4code_spark.synth import FIXED_CATALOG

    spark, source, unique = corpora

    def per_page(pdf):
        links = link_entities(extract_qa(spark.createDataFrame(pdf, PAGES_SCHEMA)), FIXED_CATALOG)
        rows = links.groupBy("url").agg(
            F.count(F.lit(1)).alias("mentions"), F.sum(F.col("good_match").cast("int")).alias("links")
        ).collect()
        return {r["url"]: (r["mentions"], r["links"]) for r in rows}

    assert per_page(unique) == per_page(source)

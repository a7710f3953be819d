"""Correctness harness: every registry entry with an oracle
is executed at sf0.01 and compared to DuckDB (row count + column names +
order-insensitive value multiset).  Each case builds only its own oracle;
reference-backed cases skip as unverifiable when the sample graphs are
absent."""

import builtins
import io
import math
import os
from collections import Counter

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def _canon(v):
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def _multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_canon(r[i]) for i in order) for r in rows)


#: registry names with an oracle, read off the registry without building one
ORACLE_NAMES = sorted(n for n, (_, o) in entry_mod.REGISTRY.items() if o is not None)


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=pytest.mark.reference)
    if n in entry_mod.REFERENCE_BACKED else n
    for n in ORACLE_NAMES
])
def test_oracle_parity(spark, con, name):
    sql = entry_mod.build_oracle(name)
    sdf = entry_mod.REGISTRY[name][0](spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    odf = con.sql(sql)
    o_cols = list(odf.columns)
    o_rows = odf.fetchall()

    assert sorted(s_cols) == sorted(o_cols), f"{name}: column mismatch {s_cols} vs {o_cols}"
    assert len(s_rows) == len(o_rows), f"{name}: rowcount {len(s_rows)} vs {len(o_rows)}"
    sm, om = _multiset(s_cols, s_rows), _multiset(o_cols, o_rows)
    if sm != om:
        diff = list((sm - om).items())[:3] + list((om - sm).items())[:3]
        raise AssertionError(f"{name}: value mismatch, e.g. {diff}")


def test_contract_builds_without_reference(monkeypatch, tmp_path):
    """The curated contract builds with the sample graphs pointed at an
    empty directory, and building it opens no file at all."""
    monkeypatch.setattr(entry_mod, "_SAMPLE_GRAPH", tmp_path)
    opened = []

    def spy(real):
        return lambda f, *a, **k: opened.append(f) or real(f, *a, **k)

    monkeypatch.setattr(builtins, "open", spy(builtins.open))
    monkeypatch.setattr(io, "open", spy(io.open))
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    assert len(qs) == 50 and set(qs) == set(osql)
    assert opened == []


def test_reference_backed_entries_are_unverifiable_when_absent(monkeypatch, tmp_path):
    monkeypatch.setattr(entry_mod, "_SAMPLE_GRAPH", tmp_path / "absent")
    for name in entry_mod.REFERENCE_BACKED:
        with pytest.raises(entry_mod.Unverifiable, match="reference absent"):
            entry_mod.build_oracle(name)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    n = df.count()
    assert n > 0
    assert df.columns == ["subj", "pred", "obj", "is_literal", "arg_pos", "arg_name", "graph"]


def test_curated_contract_shape():
    """The driver records at most 50 CORRECTNESS rows: the curated
    contract must hold exactly 50 entries, every one present in the full
    registry, and every one strict (has an oracle)."""
    cur, osql = entry_mod.queries(), entry_mod.oracle_sql()
    full = entry_mod.queries_full()
    assert len(cur) == 50
    assert set(cur) <= set(full)
    assert set(cur) == set(osql)
    for name, fn in cur.items():
        assert full[name] is fn


def test_rows_only_queries_run(spark):
    rows_only = [n for n, (_, o) in entry_mod.REGISTRY.items() if o is None]
    assert rows_only
    for name in rows_only:
        df = entry_mod.REGISTRY[name][0](spark, SF_DIR)
        assert df.count() >= 0, name

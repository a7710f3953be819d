"""Structural parity of the snippet flow extractor against the reference's
shipped golden analysis graphs (`sample_graph/example{1,2,3}`).

The loader path already reproduces the golden graphs quad-for-quad from the
shipped JSON (tests/test_golden_analysis_json.py).  This file checks the
EXTRACTOR itself: running `extract_page_flow_nodes` over the reference's own
example .py sources must produce EXACTLY the dataflow edge set of the
corresponding golden JSON, role-mapped — no edge WALA's interprocedural
analysis does not derive (soundness) and no golden edge missed (recall):
import member-read chains, binding→call DATA-0, ctor receiver edges,
tuple-unpack elements, arg-ordinal flows including kwarg-position field
reads, turtle-path extension through uncataloged methods, inner
read→slice chains of complex subscripts, and binop `.expr` turtles.

Node identities differ (the golden numbering starts after ~74 builtin
import nodes, and golden paths are [root, leaf] while ours keep the full
dotted module path), so nodes are matched by ROLE: (path root, path leaf,
is_import).  An extractor edge (src, ordinal, dst) is golden-matched when
SOME golden edge with the same ordinal connects role-matching nodes.

Reference: PythonTurtleAnalysisEngine.java builds these graphs via WALA;
the sample .py/.json pairs under sample_graph/ are its published output.
"""

from __future__ import annotations

import json

import pytest

from __spark_entry__ import _SAMPLE_GRAPH as SAMPLES
from graph4code_spark.operators.flows import (
    build_flow_catalog,
    extract_page_flow_nodes,
)
from graph4code_spark.synth import FIXED_CATALOG

pytestmark = pytest.mark.reference


def _role(path: list, is_import: bool) -> tuple:
    segs = [str(p) for p in path]
    return (segs[0], segs[-1], bool(is_import))


def _golden(example: str):
    doc = json.loads((SAMPLES / f"{example}.json").read_text())
    nodes = [n for n in doc["turtle_analysis"] if n]
    roles = {}
    edges = set()
    for n in nodes:
        roles[n["nodeNumber"]] = _role(n["path"], n.get("is_import", False))
    for n in nodes:
        for ordinal, dsts in (n["edges"].get("flowsTo") or {}).items():
            for d in dsts:
                if d in roles:
                    edges.add((roles[n["nodeNumber"]], ordinal, roles[d]))
    return roles, edges


def _extracted(example: str):
    cat = build_flow_catalog(FIXED_CATALOG)
    code = (SAMPLES / f"{example}.py").read_text()
    nodes = extract_page_flow_nodes(f"http://golden/{example}", [code], cat)
    roles = {n["node_number"]: _role(n["path"], n.get("is_import", False))
             for n in nodes}
    edges = set()
    for n in nodes:
        for ordinal, dsts in (n["flows_to"] or {}).items():
            for d in dsts:
                edges.add((roles[n["node_number"]], ordinal, roles[d]))
    return roles, edges


@pytest.mark.parametrize("example", ["example1", "example2", "example3"])
def test_extractor_edges_equal_golden(example):
    """Role-mapped EDGE-SET EQUALITY: the extractor derives exactly the
    dataflow edges WALA's shipped graph holds — no extras (soundness)
    and no misses (recall) — on all three reference example sources."""
    _groles, gedges = _golden(example)
    _eroles, eedges = _extracted(example)
    extra = sorted(e for e in eedges if e not in gedges)
    missing = sorted(e for e in gedges if e not in eedges)
    assert not extra, f"extractor edges absent from golden: {extra}"
    assert not missing, f"golden edges not derived: {missing}"


# Core-spine recall, per example.  Roles: (root, leaf, is_import).
_IMP = True
_SPINE = {
    "example1": [
        # import pandas as pd  →0→  pd.read_csv(...)
        (("pandas", "pandas", _IMP), "0", ("pandas", "read_csv", False)),
        # import sklearn.model_selection.train_test_split: member-read
        # chain sklearn →0→ model_selection, binding →0→ the call
        (("sklearn", "sklearn", _IMP), "0",
         ("sklearn", "model_selection", False)),
        (("sklearn", "model_selection", False), "0",
         ("sklearn", "train_test_split", False)),
        # from sklearn import svm: sklearn →0→ svm read →0→ SVC ctor
        (("sklearn", "sklearn", _IMP), "0", ("sklearn", "svm", False)),
        (("sklearn", "svm", False), "0", ("sklearn", "SVC", False)),
        # tuple unpack of train_test_split into 4 element nodes
        (("sklearn", "train_test_split", False), "0", ("sklearn", "0", False)),
        (("sklearn", "train_test_split", False), "0", ("sklearn", "3", False)),
        # unpacked elements feed fit/predict at their arg ordinals
        (("sklearn", "0", False), "1", ("sklearn", "fit", False)),
        (("sklearn", "2", False), "2", ("sklearn", "fit", False)),
        (("sklearn", "1", False), "1", ("sklearn", "predict", False)),
        (("sklearn", "3", False), "2", ("sklearn", "predict", False)),
        # ctor receiver into both methods
        (("sklearn", "SVC", False), "0", ("sklearn", "fit", False)),
        (("sklearn", "SVC", False), "0", ("sklearn", "predict", False)),
        # G1 turtle extension: data.fillna(...) on the read_csv turtle
        (("pandas", "read_csv", False), "0", ("pandas", "fillna", False)),
        # stratify=data['Dataset']: per-occurrence read node flowing at
        # the kwarg's source-order ordinal (golden node 90, '5' → tts)
        (("pandas", "read_csv", False), "0", ("pandas", "Dataset", False)),
        (("pandas", "Dataset", False), "5",
         ("sklearn", "train_test_split", False)),
    ],
    "example2": [
        (("pandas", "pandas", _IMP), "0", ("pandas", "read_csv", False)),
        # from sklearn.svm import SVC: sklearn →0→ svm read →0→ SVC
        (("sklearn", "sklearn", _IMP), "0", ("sklearn", "svm", False)),
        (("sklearn", "svm", False), "0", ("sklearn", "SVC", False)),
        # from sklearn.gaussian_process.kernels import RBF: two reads
        (("sklearn", "sklearn", _IMP), "0",
         ("sklearn", "gaussian_process", False)),
        (("sklearn", "gaussian_process", False), "0",
         ("sklearn", "kernels", False)),
        # data flows into train_test_split at position 1
        (("pandas", "read_csv", False), "1",
         ("sklearn", "train_test_split", False)),
        # stratify=data['Dataset'] at kwarg ordinal 4 (golden node 88)
        (("pandas", "read_csv", False), "0", ("pandas", "Dataset", False)),
        (("pandas", "Dataset", False), "4",
         ("sklearn", "train_test_split", False)),
        (("sklearn", "train_test_split", False), "0",
         ("sklearn", "0", False)),
        (("sklearn", "train_test_split", False), "0",
         ("sklearn", "1", False)),
        # ctor receiver into fit; G1 extension: the fit RESULT is the
        # receiver of predict (golden node 106, sklearn.SVC.fit.predict)
        (("sklearn", "SVC", False), "0", ("sklearn", "fit", False)),
        (("sklearn", "fit", False), "0", ("sklearn", "predict", False)),
    ],
    "example3": [
        # pandas import feeds BOTH read_csv and the uncataloged notnull
        (("pandas", "pandas", _IMP), "0", ("pandas", "read_csv", False)),
        (("pandas", "pandas", _IMP), "0", ("pandas", "notnull", False)),
        # from sklearn.model_selection import train_test_split
        (("sklearn", "sklearn", _IMP), "0",
         ("sklearn", "model_selection", False)),
        (("sklearn", "model_selection", False), "0",
         ("sklearn", "train_test_split", False)),
        (("sklearn", "sklearn", _IMP), "0", ("sklearn", "svm", False)),
        (("sklearn", "svm", False), "0", ("sklearn", "SVC", False)),
        # G1 extension chain: data = data.where(...) REBINDS the turtle —
        # read_csv →0→ where, where-result feeds train_test_split at 1
        (("pandas", "read_csv", False), "0", ("pandas", "where", False)),
        (("pandas", "where", False), "1",
         ("sklearn", "train_test_split", False)),
        # nested args of where: pd.notnull(data) at 1, data.median() at 2
        (("pandas", "read_csv", False), "1", ("pandas", "notnull", False)),
        (("pandas", "notnull", False), "1", ("pandas", "where", False)),
        (("pandas", "median", False), "2", ("pandas", "where", False)),
        (("sklearn", "train_test_split", False), "0", ("sklearn", "0", False)),
        (("sklearn", "0", False), "1", ("sklearn", "fit", False)),
        (("sklearn", "SVC", False), "0", ("sklearn", "fit", False)),
        (("sklearn", "SVC", False), "0", ("sklearn", "predict", False)),
    ],
}


@pytest.mark.parametrize("example", sorted(_SPINE))
def test_extractor_recalls_golden_spine(example):
    """The extractor derives every core-spine edge of the golden graph."""
    _eroles, eedges = _extracted(example)
    missing = [e for e in _SPINE[example] if e not in eedges]
    assert not missing, f"golden spine edges not derived: {missing}"


@pytest.mark.parametrize("example", ["example1", "example2", "example3"])
def test_spine_is_subset_of_golden(example):
    """Guard the fixture itself: every spine edge this file demands is a
    real golden edge (so recall-vs-spine implies recall-vs-golden)."""
    _groles, gedges = _golden(example)
    bogus = [e for e in _SPINE[example] if e not in gedges]
    assert not bogus, f"spine edges not present in golden: {bogus}"

"""The correctness gate, the workload inputs and the benchmark contract."""

import json
from pathlib import Path

import numpy as np
import pytest

from flatnav_spark.reference import ReferenceIndex
from gate import QueryStream, mismatches, reference_answers, term_dfs

DOCS = [
    (10, "def parseIndex(buffer): return buffer"),
    (3, "import os\nclass TokenReader: pass"),
    (7, "parse parse index token buffer read"),
    (21, "token token token"),
    (5, "class IndexWriter: def write(self): return 1"),
]
TEXTS = ["parse index", "token", "buffer class", "write index token", "zzabsent"]


def test_term_dfs_counts_documents_not_occurrences():
    dfs = dict((t, df) for df, t in term_dfs(ReferenceIndex(DOCS)))
    assert dfs["token"] == 3 and dfs["buffer"] == 2


def test_gate_passes_identical_answers():
    ref = ReferenceIndex(DOCS)
    want = reference_answers(ref, TEXTS, 3)
    got = {t: list(h) for t, h in want.items()}
    assert mismatches(got, want) == []


@pytest.mark.parametrize("change", ["score_ulp", "doc_id", "order", "missing"])
def test_gate_flags_a_perturbed_answer(change):
    ref = ReferenceIndex(DOCS)
    want = reference_answers(ref, TEXTS, 3)
    got = {t: list(h) for t, h in want.items()}
    hits = got["parse index"]
    assert len(hits) >= 2
    if change == "score_ulp":
        r, d, s = hits[0]
        hits[0] = (r, d, float(np.nextafter(s, np.inf)))
    elif change == "doc_id":
        r, d, s = hits[0]
        hits[0] = (r, d + 1, s)
    elif change == "order":
        hits[0], hits[1] = (1, hits[1][1], hits[1][2]), (2, hits[0][1], hits[0][2])
    else:
        del got["parse index"]
    assert mismatches(got, want) == ["parse index"]


def test_query_stream_is_deterministic_distinct_and_stratified():
    dfs = sorted((df, f"t{i}") for i, df in enumerate([1] * 600 + [2] * 300 + [50] * 100))
    a, b = QueryStream(dfs, seed=7), QueryStream(dfs, seed=7)
    ta, tb = a.fresh(500), b.fresh(500)
    assert ta == tb and len(set(ta)) == 500
    assert set(a.fresh(50)).isdisjoint(ta)
    hot = set(a.hot)
    led_by_hot = sum(t.split()[0] in hot for t in ta) / len(ta)
    assert 0.15 < led_by_hot < 0.35                # the 25% hot stratum
    assert QueryStream(dfs, seed=8).fresh(20) != ta[:20]


def test_benchmark_json_matches_the_code():
    from layers import PER_LAYER
    from run import E2E_UNITS
    from workloads import WORKLOADS

    bench = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == PER_LAYER
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_an_exception_inside_a_check_counts_as_one_failure():
    from spans import Tracer
    from workloads import Run

    run = Run(None, None, Tracer("write", False), seed=0, seconds=1.0, scratch=".")
    with run.checking("round 0 gate"):
        raise KeyError("a/missing/path.py")
    assert run.failed == 1 and "KeyError" in run.errors[0]

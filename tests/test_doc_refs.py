"""Docs and bench scripts name only files that exist, and every kept
bench script still compiles. Pure Python, no Spark session."""

import glob
import os
import py_compile
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the live docs and code that cite scripts by path; dated records
# (SURVEY, VERDICT, OPTIMIZATION_r06, CHANGES) keep the paths of their day
SOURCES = (["README.md", "ARCHITECTURE.md", "ROADMAP.md",
            "BENCH/BASELINE.md", "bench.py"]
           + sorted(os.path.relpath(p, REPO) for pattern in
                    ("bench/*.py", "flatnav_spark/*.py")
                    for p in glob.glob(os.path.join(REPO, pattern))))

PATH_RE = re.compile(
    r"(?<![\w/.-])((?:bench|flatnav_spark|tests|perfbench)/[\w/.-]*?\.py)\b")


def _named_paths(text):
    return set(PATH_RE.findall(text))


def test_path_pattern():
    assert _named_paths(
        "see bench/scaling.py, `tests/test_x.py`; perfbench/run.py and "
        "flatnav_spark/query.py:942 (not foo/bench/a.py, not mybench/b.py)"
    ) == {"bench/scaling.py", "tests/test_x.py", "perfbench/run.py",
          "flatnav_spark/query.py"}


@pytest.mark.parametrize("source", SOURCES)
def test_named_paths_exist(source):
    with open(os.path.join(REPO, source), encoding="utf-8") as f:
        named = _named_paths(f.read())
    missing = sorted(p for p in named
                     if not os.path.isfile(os.path.join(REPO, p)))
    assert not missing, f"{source} names missing files: {missing}"


@pytest.mark.parametrize("script", sorted(
    os.path.basename(p) for p in glob.glob(os.path.join(REPO, "bench", "*.py"))))
def test_bench_script_compiles(script, tmp_path):
    py_compile.compile(os.path.join(REPO, "bench", script),
                       cfile=str(tmp_path / (script + "c")), doraise=True)

"""Source-scan guards: the tools share bench.py's record reader, session
and timing core, and plan claims live in tests/test_plans.py only.

- no numbered bench-record filename is pinned in bench.py, tools/ or the
  package (``bench.newest_record`` finds the newest round);
- ``SparkSession.builder`` appears only in session.py (``get_spark``);
- no tool times with ``.foreach(``, which ships every output row through
  Python workers (``bench.time_cold`` writes to the noop sink);
- no .py file refers to the retired plan-audit archive or its tool;
- the order-revenue day series is built only by
  ``windows.daily_order_revenue`` (and by ``aggregates.daily_revenue``,
  A1's different coalesced rollup), no operator keys a day on the raw
  ``o_orderdate`` timestamp, and windows.py's recursive smoothers share
  its one ``applyInPandas`` seam;
- the raw-moment Pearson and least-squares closing formulas live only
  in ``functions/scalars.py`` (``pearson_r``, ``ols_fit``), and
  analytics.py builds its pairwise hi/lo product sums in one place
  (``_pairwise_pearson``).
"""

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "doeecommerce_datapipeline_spark")
TOOLS = os.path.join(REPO, "tools")
THIS = os.path.abspath(__file__)


def _py_files(root: str) -> list[str]:
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [
            x for x in dirs
            if not x.startswith(".") and x not in ("__pycache__", "spark-warehouse")
        ]
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _hits(paths: list[str], pattern: str) -> list[str]:
    rx = re.compile(pattern)
    hits = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for i, line in enumerate(f, 1):
                if rx.search(line):
                    hits.append(f"{os.path.relpath(p, REPO)}:{i}: {line.strip()}")
    return hits


def test_no_pinned_bench_record():
    paths = [os.path.join(REPO, "bench.py")] + _py_files(TOOLS) + _py_files(PKG)
    assert not _hits(paths, r"BENCH_LOCAL_r\d")


def test_session_builder_only_in_session_module():
    paths = [
        p for p in _py_files(REPO)
        if p not in (os.path.join(PKG, "session.py"), THIS)
    ]
    assert not _hits(paths, r"SparkSession\.builder")


def test_tools_time_without_foreach():
    assert not _hits(_py_files(TOOLS), r"\.foreach\(")


def test_no_plan_audit_references():
    paths = [p for p in _py_files(REPO) if p != THIS]
    assert not _hits(paths, r"PLANS_AUDIT|plan_audit")


def test_one_order_revenue_day_series():
    ops = os.path.join(PKG, "operators")
    rx = re.compile(r'groupBy\(\s*F\.to_date\("o_orderdate"\)')
    found = {}
    for p in _py_files(ops):
        with open(p, encoding="utf-8") as f:
            n = len(rx.findall(f.read()))
        if n:
            found[os.path.basename(p)] = n
    assert found == {"aggregates.py": 1, "windows.py": 1}
    assert not _hits(_py_files(ops), r'groupBy\(\s*F\.col\("o_orderdate"\)')
    assert len(_hits([os.path.join(ops, "windows.py")], r"applyInPandas\(")) == 1


# n·Σx² − (Σx)² under a square root, and n·Σxy − Σx·Σy (moment sums are
# named s<x><y>), matched on whitespace-collapsed source
PEARSON_DEN = r"F\.sqrt\( ?F\.greatest\( ?\w+ \* [\w(), ]+? - (\w+) \* \1\b"
OLS_NUM = r"\b\w+ \* [\w(), ]+? - s\w+ \* s\w+\b"


def test_one_pearson_and_least_squares_closed_form():
    found = []
    for p in _py_files(PKG):
        with open(p, encoding="utf-8") as f:
            src = re.sub(r"\s+", " ", f.read())
        if re.search(PEARSON_DEN, src) or re.search(OLS_NUM, src):
            found.append(os.path.relpath(p, PKG))
    assert found == [os.path.join("functions", "scalars.py")]
    with open(os.path.join(PKG, "operators", "analytics.py"), encoding="utf-8") as f:
        assert f.read().count(" div {M}") == 1

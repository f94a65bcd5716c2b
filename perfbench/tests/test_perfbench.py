"""Tests of the benchmark's own code (no Spark session is started).

Run: python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_clicklogs  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402
from tracing import Span, plan_counts, self_time_by_name, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_same_seed_gives_identical_tables(tmp_path):
    for d in ("a", "b"):
        gen_tables.generate(str(tmp_path / d), 7, 0.002)
    gen_tables.generate(str(tmp_path / "c"), 8, 0.002)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_same_seed_gives_identical_click_logs(tmp_path):
    res = [gen_clicklogs.generate(str(tmp_path / d), 7, 3000) for d in ("a", "b")]
    other = gen_clicklogs.generate(str(tmp_path / "c"), 8, 3000)
    assert res[0] == res[1]
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert other["expected"] != res[0]["expected"]


def test_click_logs_have_the_planted_properties(tmp_path):
    gen_clicklogs.generate(str(tmp_path), 3, 20_000)
    lines = []
    for kind in ("impressions", "clicks"):
        for name in sorted(os.listdir(tmp_path / kind)):
            lines.extend((tmp_path / kind / name).read_text().splitlines())
    junk = sum(line.startswith("0\t") for line in lines) / len(lines)
    truncated = sum(not line.endswith("}") for line in lines)
    assert 0.27 < junk < 0.33
    assert 0 < truncated < len(lines) * 0.005


def test_java_float_rendering():
    cases = {0.0: "0.0", 1.0: "1.0", 0.5: "0.5", 1 / 3: "0.33333334",
             1e-4: "1.0E-4", 0.00125: "0.00125", 2 / 7: "0.2857143"}
    for value, text in cases.items():
        assert gen_clicklogs.java_float_str(value) == text


def test_benchmark_json_names_match_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert declared == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    names = [w["name"] for w in spec["workloads"]] + list(declared) + list(run.PER_LAYER)
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(u) for u in list(declared.values()) + list(run.PER_LAYER.values()))
    assert [w["name"] for w in spec["workloads"]] == list(run.workloads.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "op", 0.0, 10.0, None),
        Span(1, "operators.build", 1.0, 6.0, 0),
        Span(2, "catalog.load_table", 2.0, 3.0, 1),
        Span(3, "catalog.load_table", 2.5, 4.0, 1),  # overlaps the one above
        Span(4, "spark.exec", 6.0, 9.0, 0),
        Span(5, "catalog.load_table", 8.5, 12.0, 4),  # runs past its parent
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 5.0 - 3.0)
    assert own[1] == pytest.approx(5.0 - 2.0)
    assert own[4] == pytest.approx(3.0 - 0.5)
    by = self_time_by_name(spans)
    assert by["catalog.load_table"] == pytest.approx(1.0 + 1.5 + 3.5)
    # self times add up to the root's duration, plus the 0.5 s where two
    # siblings overlap, plus the 3 s a child runs past its parent's end
    assert sum(own.values()) == pytest.approx(10.0 + 0.5 + 3.0)


def test_plan_counts_reads_formatted_plan_nodes():
    plan = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- ...

(1) Scan parquet
Output [2]: [a#1, b#2]

(2) Filter [codegen id : 1]
(3) Exchange
(4) BroadcastExchange
(5) Scan text
(6) ArrowEvalPython
(7) MapInPandas
(8) BroadcastHashJoin [codegen id : 2]
(9) AdaptiveSparkPlan
"""
    assert plan_counts(plan) == {"exchanges": 1, "broadcasts": 1, "scans": 2, "python_nodes": 2}


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = run.tail(xs)
    assert n == 100 and value == 90.0  # 91..100 lie beyond it
    assert sum(x > value for x in xs) == 10
    # 21 samples: the median is the highest with ten beyond
    assert run.tail(xs[:21]) == (11.0, 50.0, 21)
    # fewer: the maximum, never a value below the median
    for ys in (xs[:20], [3.0, 1.0, 2.0], [2.0, 4.0]):
        value, pct, n = run.tail(ys)
        assert value == max(ys) and pct == 100.0 and n == len(ys)
    assert run.tail([5.0]) == (5.0, 0.0, 1)

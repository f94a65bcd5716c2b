"""The drop-in CLI: same arg contract as the reference's driver
(ClickThru.java:28-42), byte-compatible intermediate + output files."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _fixture(tmp_path):
    imp = tmp_path / "impressions"
    clk = tmp_path / "clicks"
    imp.mkdir()
    clk.mkdir()
    (imp / "part-0000").write_text(
        '{"impressionId": "i1", "referrer": "u1", "adId": "a1"}\n'
        '{"impressionId": "i2", "referrer": "u1", "adId": "a1"}\n'
        '{"impressionId": "i3", "referrer": "u2", "adId": "a2"}\n'
    )
    (clk / "part-0000").write_text('{"impressionId": "i1"}\n')
    return imp, clk


def _run_cli(*args):
    return subprocess.run(
        [sys.executable, "-m", "hadoopmapreduce_spark", *map(str, args)],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=300,
    )


def _lines(path):
    return [line for f in sorted(path.glob("part-*")) for line in f.read_text().splitlines()]


def test_cli_usage_error():
    proc = subprocess.run(
        [sys.executable, "-m", "hadoopmapreduce_spark", "one", "two"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert proc.returncode == 1
    assert "usage:" in proc.stderr


def test_java_float_rendering_golden():
    """Pin Java Float.toString parity, incl. the <1e-3 scientific switch
    the old str(np.float32(x)) path got wrong ('1e-04' vs Java '1.0E-4')."""
    from hadoopmapreduce_spark.functions.javafmt import java_float32_repr as r

    assert r(0.5) == "0.5"
    assert r(1.0) == "1.0"
    assert r(0.0) == "0.0"
    assert r(1 / 3) == "0.33333334"  # shortest float32 round-trip digits
    assert r(0.001) == "0.001"  # decimal form down to exactly 1e-3
    assert r(0.0001) == "1.0E-4"  # below 1e-3: Java scientific, uppercase E
    assert r(1 / 4096) == "2.4414062E-4"  # a CTR < 0.001 (1 click / 4096)
    assert r(1e7) == "1.0E7"  # >= 1e7: scientific, no '+' on exponent
    assert r(9999999.0) == "9999999.0"
    assert r(float("nan")) == "NaN"
    assert r(float("inf")) == "Infinity"
    assert r(-0.5) == "-0.5"


def test_java_float_rendering_column(spark):
    """The CLI's native ``cast(cast(x AS float) AS string)`` renders exactly
    as Java's Float.toString: golden values, every k/n CTR for n <= 300, and
    a seeded sample of float32 bit patterns in [0, 1]."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.functions.javafmt import java_float32_repr

    golden = [0.0, 0.5, 1.0e-4, 1 / 4096, 1.0e7, 9999999.0]
    ratios = [k / n for n in range(1, 301) for k in range(n + 1)]
    bits = np.random.default_rng(20240).integers(
        0, 0x3F800000, size=50_000, endpoint=True, dtype=np.uint32
    )
    sampled = bits.view(np.float32).astype(np.float64).tolist()
    xs = golden + ratios + sampled
    df = spark.createDataFrame(pd.DataFrame({"i": range(len(xs)), "x": xs}))
    got = [
        r.s
        for r in df.select(
            "i", F.col("x").cast("float").cast("string").alias("s")
        ).orderBy("i").collect()
    ]
    assert got[: len(golden)] == [
        "0.0", "0.5", "1.0E-4", "2.4414062E-4", "1.0E7", "9999999.0"
    ]
    mismatches = [
        (x, s) for x, s in zip(xs, got) if s != java_float32_repr(x)
    ]
    assert mismatches == [], mismatches[:5]


def test_cli_end_to_end(tmp_path):
    imp, clk = _fixture(tmp_path)
    combined = tmp_path / "combined"
    output = tmp_path / "out"
    proc = _run_cli(imp, clk, combined, output)
    assert proc.returncode == 0, proc.stderr[-2000:]

    assert sorted(_lines(output)) == ["[u1, a1]\t0.5", "[u2, a2]\t0.0"]
    combined_lines = sorted(_lines(combined))
    # the reference's job-1 byte format: 0\t{url/x1fadId/x1e<flag>
    assert combined_lines == [
        "0\t{u1/x1fa1/x1e0",
        "0\t{u1/x1fa1/x1e1",
        "0\t{u2/x1fa2/x1e0",
    ]


def test_cli_combined_is_job1_of_output(tmp_path):
    """``<combined>`` holds one line per distinct valid impressionId (E3),
    and averaging its flags per (referrer, adId) gives exactly ``<output>``;
    an impression with no adId reaches neither sink (E1)."""
    from collections import defaultdict

    from hadoopmapreduce_spark.functions.javafmt import java_float32_repr

    imp = tmp_path / "impressions"
    clk = tmp_path / "clicks"
    imp.mkdir()
    clk.mkdir()
    (imp / "part-0000").write_text(
        '{"impressionId": "i1", "referrer": "u1", "adId": "a1"}\n'
        'junk\t{"impressionId": "i2", "referrer": "u1", "adId": "a1"}\n'
        '{"impressionId": "i3", "referrer": "u1", "adId": "a1"}\n'
        '{"impressionId": "i4", "referrer": "u1", "adId": "a1"}\n'
        '{"impressionId": "i4", "referrer": "u2", "adId": "a9"}\n'  # E3
        '{"impressionId": "i5", "referrer": "u2", "adId": "a9"}\n'
        '{"impressionId": "i6", "referrer": "u3"}\n'  # no adId
        "this is not json at all\n"  # E1
    )
    (clk / "part-0000").write_text(
        '{"impressionId": "i1"}\n'
        '{"impressionId": "i4"}\n'
        '{"impressionId": "i4"}\n'  # E2: double click
        '{"impressionId": "i6"}\n'
        '{"impressionId": "i999"}\n'  # E4: orphan
    )
    combined, output = tmp_path / "combined", tmp_path / "out"
    proc = _run_cli(imp, clk, combined, output)
    assert proc.returncode == 0, proc.stderr[-2000:]

    combined_lines, out_lines = _lines(combined), _lines(output)
    assert "" not in combined_lines and "" not in out_lines
    # i1..i5: i4 once, i6 (no adId) and the malformed line dropped
    assert len(combined_lines) == 5
    flags = defaultdict(list)
    for line in combined_lines:
        assert line.startswith("0\t{")
        key, _, flag = line[3:].partition("/x1e")
        referrer, _, ad = key.partition("/x1f")
        flags[(referrer, ad)].append(int(flag))
    from_combined = sorted(
        f"[{r}, {a}]\t{java_float32_repr(sum(v) / len(v))}"
        for (r, a), v in flags.items()
    )
    assert sorted(out_lines) == from_combined
    assert from_combined == ["[u1, a1]\t0.33333334", "[u2, a9]\t0.5"]
    assert "(2 groups)" in proc.stdout


def test_cli_list_subcommand():
    """`list` prints every registered query id with its check kind, without
    starting a SparkSession."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-m", "hadoopmapreduce_spark", "list"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    assert len(lines) >= 180
    kinds = {l.split("\t")[1] for l in lines}
    assert kinds == {"oracle", "rows-only"}
    assert any(l.startswith("ctr_flagship\t") for l in lines)


def test_cli_unknown_query_errors():
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-m", "hadoopmapreduce_spark", "run", "nope", "/tmp"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 1
    assert "unknown query id" in proc.stderr

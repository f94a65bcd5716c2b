"""Seeded generator for the reference pipeline's JSON-lines click logs.

Writes ``<out>/impressions/part-*.json`` and ``<out>/clicks/part-*.json``
in the reference's native format (FIXTURES.md section A) and returns the
output the CLI must produce, computed independently under the edge-case
semantics of ``operators/clickthru.py``:

* E1: a malformed (truncated) line contributes nothing;
* E2: an impression clicked twice counts as clicked once;
* E3: a duplicated impressionId keeps the max ``(referrer, adId)`` payload;
* E4: a click whose impressionId has no impression is dropped.

Input properties: ~30 % of lines carry a ``0\\t`` junk prefix, ~2 % of
impressionIds are duplicated, ~8 % of impressions are clicked (a fifth of
those twice), 0.5 % of clicks are orphans, 0.1 % of lines are truncated
before their first complete key, and referrers follow a Pareto-skewed
(power-law) popularity.  The same ``(seed, n_impressions)`` gives
byte-identical files.

Usage: python3 perfbench/gen_clicklogs.py <out_dir> <seed> <n_impressions>
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

import numpy as np

N_REFERRERS = 2000
N_ADS = 40
N_PARTS = 4
JUNK_P = 0.30
DUP_P = 0.02
CLICK_P = 0.08
DOUBLE_CLICK_P = 0.20
ORPHAN_P = 0.005
TRUNC_P = 0.001


def java_float_str(x: float) -> str:
    """Java ``Float.toString((float) x)`` for finite non-negative ``x``:
    shortest round-trip float32 digits, plain form in [1e-3, 1e7),
    ``d.dddE<n>`` otherwise."""
    f = np.float32(x)
    if f == 0:
        return "0.0"
    mant, exp_s = np.format_float_scientific(f, unique=True).split("e")
    digits, exp = mant.replace(".", ""), int(exp_s)
    if exp >= 7 or exp < -3:
        return f"{digits[0]}.{digits[1:] or '0'}E{exp}"
    if exp < 0:
        return "0." + "0" * (-exp - 1) + digits
    digits = digits.ljust(exp + 1, "0")
    return f"{digits[:exp + 1]}.{digits[exp + 1:] or '0'}"


def _lines(rng: np.random.Generator, records: list[str]) -> list[str]:
    """Shuffle, junk-prefix and truncate records into file lines; returns
    the lines plus, per line, whether it survived intact."""
    order = rng.permutation(len(records))
    junk = rng.random(len(records)) < JUNK_P
    trunc = rng.random(len(records)) < TRUNC_P
    cut = rng.integers(1, 14, len(records))
    out, intact = [], []
    for i, j in enumerate(order):
        rec = records[j]
        if trunc[i]:
            rec = rec[: cut[i]]  # cut inside the first key: nothing parses
        out.append(("0\t" if junk[i] else "") + rec)
        intact.append((j, not trunc[i]))
    return out, intact


def _write_parts(path: str, lines: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    step = (len(lines) + N_PARTS - 1) // N_PARTS
    for p in range(N_PARTS):
        with open(os.path.join(path, f"part-{p:05d}.json"), "w") as fh:
            fh.writelines(line + "\n" for line in lines[p * step:(p + 1) * step])


def generate(out_dir: str, seed: int, n_impressions: int) -> dict:
    """Write the logs; returns ``{"lines": n, "expected": [text lines]}``."""
    rng = np.random.default_rng(seed)
    referrers = [f"http://site{r:04d}.example.com/page" for r in range(N_REFERRERS)]
    # power-law referrer popularity: rank r has weight (r + 1) ** -1.1
    pop = (np.arange(1, N_REFERRERS + 1) ** -1.1)
    ref_idx = rng.choice(N_REFERRERS, n_impressions, p=pop / pop.sum())
    ad_idx = rng.integers(0, N_ADS, n_impressions)
    ids = [f"imp-{k:09d}" for k in range(n_impressions)]

    imp = [(ids[k], referrers[ref_idx[k]], f"ad-{ad_idx[k]:03d}") for k in range(n_impressions)]
    dups = np.flatnonzero(rng.random(n_impressions) < DUP_P)
    dup_ref = rng.choice(N_REFERRERS, len(dups), p=pop / pop.sum())
    dup_ad = rng.integers(0, N_ADS, len(dups))
    imp += [(ids[k], referrers[r], f"ad-{a:03d}") for k, r, a in zip(dups, dup_ref, dup_ad)]

    clicked = np.flatnonzero(rng.random(n_impressions) < CLICK_P)
    twice = clicked[rng.random(len(clicked)) < DOUBLE_CLICK_P]
    n_orphan = max(1, int(len(clicked) * ORPHAN_P))
    clk = [ids[k] for k in clicked] + [ids[k] for k in twice]
    clk += [f"imp-x{k:08d}" for k in range(n_orphan)]

    imp_lines, imp_ok = _lines(rng, [
        f'{{"impressionId": "{i}", "referrer": "{r}", "adId": "{a}"}}' for i, r, a in imp
    ])
    clk_lines, clk_ok = _lines(rng, [f'{{"impressionId": "{i}"}}' for i in clk])
    _write_parts(os.path.join(out_dir, "impressions"), imp_lines)
    _write_parts(os.path.join(out_dir, "clicks"), clk_lines)

    payload: dict[str, tuple[str, str]] = {}
    for j, ok in imp_ok:
        if ok:
            i, r, a = imp[j]
            payload[i] = max(payload.get(i, (r, a)), (r, a))  # E3
    clicked_ids = {clk[j] for j, ok in clk_ok if ok}  # E2
    shown: dict[tuple[str, str], int] = defaultdict(int)
    hits: dict[tuple[str, str], int] = defaultdict(int)
    for i, key in payload.items():
        shown[key] += 1
        hits[key] += i in clicked_ids  # orphans never match (E4)
    expected = sorted(
        f"[{r}, {a}]\t{java_float_str(hits[(r, a)] / n)}" for (r, a), n in shown.items()
    )
    return {"lines": len(imp_lines) + len(clk_lines), "expected": expected}


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    res = generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
    print(f"{res['lines']} lines, {len(res['expected'])} CTR groups")

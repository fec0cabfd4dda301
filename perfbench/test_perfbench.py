"""The benchmark's own tests: input determinism, metric names, the
percentile rule. No Spark session is needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from stats import MIN_SAMPLES, TAIL_BEYOND, median, summarize  # noqa: E402

SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


GENERATORS = {
    "archive": lambda seed, out: gen.archive_inputs(seed, out, 300, 3000, 2, 20),
    "viewer": lambda seed, out: gen.viewer_inputs(seed, out, 40, 1.0, 2, 600.0, 100),
    "curate": lambda seed, out: gen.curate_inputs(seed, out, 80, 50, 200),
}


@pytest.mark.parametrize("kind", sorted(GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(kind, tmp_path):
    make = GENERATORS[kind]
    make(7, str(tmp_path / "a"))
    make(7, str(tmp_path / "b"))
    make(8, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert set(a) == set(c) and a != c


def test_archive_slices_replay_in_time_order(tmp_path):
    inp = gen.archive_inputs(3, str(tmp_path), 200, 2000, 3, 10)
    for sub in ("events", "archive_in"):
        files = sorted(os.listdir(tmp_path / sub))
        mtimes = [os.path.getmtime(tmp_path / sub / f) for f in files]
        assert len(files) == 3
        assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    ev = inp["events"]
    assert not ev.duplicated(["pvname", "time"]).any()
    # the sentinel lies past every event by more than the deadtime and
    # moves every PV by more than the deadband
    assert inp["sentinel"]["time"].min() > ev["time"].max() + gen.DEADTIME
    assert (inp["sentinel"]["value"] - ev["value"].abs().max()).min() > gen.DEADBAND


def test_metric_names_and_units():
    with open(SPEC, encoding="utf-8") as fh:
        spec = json.load(fh)
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit_re = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert name_re.match(m["name"]), m
        assert unit_re.match(m["unit"]), m
        assert m["better"] in ("higher", "lower"), m
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in spec["end_to_end"] if m["name"] == "setup_s"
    ).items()
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_percentile_rule_on_hand_built_samples():
    # 20 samples: rank 10 leaves exactly 10 above it, and is the median
    s = summarize(range(1, 21))
    assert (s["p50"], s["tail"], s["n"], s["tail_pct"]) == (10.0, 10.0, 20, 50.0)
    # 40 samples: tail at rank 30 (p75), 10 beyond it
    s = summarize(range(40, 0, -1))
    assert (s["p50"], s["tail"], s["tail_pct"]) == (20.0, 30.0, 75.0)
    # 100 samples: p90
    s = summarize(range(100))
    assert s["tail"] == 89.0 and s["tail_pct"] == 90.0
    assert sum(1 for x in range(100) if x > s["tail"]) == TAIL_BEYOND
    # a bimodal set: p50 and tail come from the same samples, tail >= p50
    xs = [5.0] * 30 + [500.0] * 15
    s = summarize(xs)
    assert s["p50"] == 5.0 and s["tail"] == 500.0 and s["tail"] >= s["p50"]


def test_percentile_rule_gives_small_sets_no_tail():
    s = summarize(range(MIN_SAMPLES - 1, 0, -1))
    assert (s["p50"], s["tail"], s["tail_pct"], s["n"]) == (10.0, None, None, MIN_SAMPLES - 1)
    with pytest.raises(ValueError):
        summarize([])
    assert median([3, 1, 2]) == 2.0
    assert median([1, 2]) == 1.0  # nearest rank, never interpolated

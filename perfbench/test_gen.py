"""The benchmark's inputs are a function of the seed alone.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

SIZES = dict(events=3000, docs=200, epochs=3)


def digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_inputs(tmp_path):
    gen.generate(str(tmp_path / "a"), 11, **SIZES)
    gen.generate(str(tmp_path / "b"), 11, **SIZES)
    a, b = digests(str(tmp_path / "a")), digests(str(tmp_path / "b"))
    assert a == b
    assert {"tables/events.parquet", "tables/documents.parquet",
            "ep_clients.json", "stream_epochs.jsonl"} <= set(a)


def test_other_seed_other_inputs(tmp_path):
    gen.generate(str(tmp_path / "a"), 11, **SIZES)
    gen.generate(str(tmp_path / "b"), 12, **SIZES)
    a, b = digests(str(tmp_path / "a")), digests(str(tmp_path / "b"))
    assert all(a[k] != b[k] for k in a)


def test_inputs_do_not_depend_on_which_others_are_asked_for(tmp_path):
    gen.generate(str(tmp_path / "a"), 11, events=3000)
    gen.generate(str(tmp_path / "b"), 11, **SIZES)
    a, b = digests(str(tmp_path / "a")), digests(str(tmp_path / "b"))
    assert a["tables/events.parquet"] == b["tables/events.parquet"]


def test_late_share_lands_on_earlier_days():
    import numpy as np

    epochs = gen.stream_epochs(np.random.default_rng(5), 10)
    slice_ms = gen.MONTH_US // 10 // 1000
    start_ms = gen.MONTH_START_US // 1000
    late = [
        sum(e["startTime"] < start_ms + i * slice_ms for e in ep) / len(ep)
        for i, ep in enumerate(epochs) if i >= 5
    ]
    assert all(0.05 < x < 0.15 for x in late), late

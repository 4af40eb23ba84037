"""`bench.py` bookkeeping that runs without a Spark session."""

from __future__ import annotations

import bench


def test_round_label_is_max_suffix_plus_one(tmp_path):
    assert bench.round_label(str(tmp_path)) == 1
    # a gap (r02 missing) and files the label must not count
    for name in (
        "CORRECTNESS_r01.json",
        "CORRECTNESS_r03.json",
        "CORRECTNESS_r10.json",
        "CORRECTNESS_rnext.json",
        "BENCH_r12_c8.json",
    ):
        (tmp_path / name).write_text("{}")
    assert bench.round_label(str(tmp_path)) == 11

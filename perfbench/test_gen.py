"""Generator determinism: the same seed gives byte-identical inputs, a
different seed gives different inputs.

    python -m pytest perfbench/test_gen.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for r, _, files in os.walk(root):
        for f in files:
            p = os.path.join(r, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_differs(workload, tmp_path):
    make = gen.GENERATORS[workload]
    a = make(7, str(tmp_path / "a"))
    b = make(7, str(tmp_path / "b"))
    c = make(8, str(tmp_path / "c"))
    da, db, dc = (_digest(str(tmp_path / x)) for x in "abc")
    assert da == db
    assert a["rows"] == b["rows"]
    assert set(da) == set(dc)
    # region and nation are the fixed TPC-H dimensions; every other file is seeded
    fixed = {"region.parquet", "nation.parquet"}
    assert all(da[f] != dc[f] for f in da if f not in fixed)

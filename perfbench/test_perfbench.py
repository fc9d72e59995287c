"""Self-tests of the benchmark. Run from the checkout root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The last test runs the benchmark itself twice (about two minutes).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
from tracing import self_times  # noqa: E402


def _tree_digest(path: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _make_inputs(path: str, seed: int) -> dict:
    gen.write_tables(path, seed)
    fq = gen.fastq(os.path.join(path, "reads.fastq"), seed, 300)
    sm = gen.sam(os.path.join(path, "aln.sam"), seed, 500)
    return {"fastq": fq, "sam": sm}


def test_same_seed_gives_identical_inputs(tmp_path):
    a = _make_inputs(str(tmp_path / "a"), 7)
    b = _make_inputs(str(tmp_path / "b"), 7)
    assert a == b
    da, db = _tree_digest(str(tmp_path / "a")), _tree_digest(str(tmp_path / "b"))
    assert da == db and len(da) == len(gen.TABLES) + 2


def test_different_seed_gives_different_inputs(tmp_path):
    _make_inputs(str(tmp_path / "a"), 7)
    _make_inputs(str(tmp_path / "b"), 8)
    da, db = _tree_digest(str(tmp_path / "a")), _tree_digest(str(tmp_path / "b"))
    # region and nation are fixed dimension tables; everything else differs
    same = {k for k in da if da[k] == db[k]}
    assert same == {"region.parquet", "nation.parquet"}


def test_generated_bam_reader_matches_generator(tmp_path):
    """check.bam_profile reads back what a BGZF BAM writer produced."""
    import gzip
    import struct

    recs = [(0, 99, 10), (1, 4, -1), (0, 16, 41)]  # (ref, flag, 0-based pos)
    payload = bytearray(b"BAM\x01" + struct.pack("<i", 0) + struct.pack("<i", 2))
    for name in (b"r0\x00", b"r1\x00"):
        payload += struct.pack("<i", len(name)) + name + struct.pack("<i", 1000)
    for ref, flag, pos in recs:
        body = struct.pack("<iiBBHHHiiii", ref, pos, 2, 0, 0, 0, flag, 0, -1, -1, 0) + b"q\x00"
        payload += struct.pack("<i", len(body)) + body
    path = tmp_path / "x.bam"
    path.write_bytes(gzip.compress(bytes(payload)))
    prof = check.bam_profile(str(path))
    assert prof == {"n": 3, "by_flag": {99: 1, 4: 1, 16: 1}, "pos_sum": 11 + 42}


def test_digest_ignores_row_order_column_order_and_float_noise():
    a = check.digest_rows([(1, 0.1 + 0.2), (2, 1.5)], ["k", "v"])
    b = check.digest_rows([(1.5, 2), (0.3, 1)], ["v", "k"])
    assert a == b
    assert a != check.digest_rows([(1, 0.31), (2, 1.5)], ["k", "v"])


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent,
            "op": "0:x", "attrs": {}}


def test_self_time_on_synthetic_tree():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "build", 0.0, 4.0, 0),
        _span(2, "query.q", 0.5, 4.0, 1),
        _span(3, "storage.serve", 1.0, 2.0, 2),
        _span(4, "storage.serve", 1.5, 3.0, 2),  # overlaps its sibling
        _span(5, "collect", 4.0, 9.5, 0),
        _span(6, "late", 9.0, 12.0, 5),  # runs past its parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 5.5)
    assert st[1] == pytest.approx(0.5)
    assert st[2] == pytest.approx(3.5 - 2.0)  # children cover [1, 3] once
    assert st[3] == pytest.approx(1.0) and st[4] == pytest.approx(1.5)
    assert st[5] == pytest.approx(5.5 - 0.5)
    assert st[6] == pytest.approx(3.0)
    # the self times of a properly nested op sum to its wall time
    nested = [s for s in spans if s["id"] in (0, 1, 2, 3, 5)]
    assert sum(self_times(nested).values()) == pytest.approx(10.0)


def _run(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=300, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_runs_print_the_declared_metrics_and_agree_across_seeds():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    untraced = _run("batch_compute", 1, 0)
    traced = _run("batch_compute", 2, 1)
    assert set(untraced["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert set(traced["metrics"]) == {m["name"] for m in spec["per_layer"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for res in (untraced, traced):
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        for name, m in res["metrics"].items():
            assert m["unit"] == units[name]
    assert all(untraced["metrics"][m]["value"] > 0 for m in untraced["metrics"])

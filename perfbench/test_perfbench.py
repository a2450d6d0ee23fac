"""Tests for the benchmark's own code (generator, lag reader, tail rule).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import probes  # noqa: E402


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def _headers(d: Path) -> list[tuple[bytes, bytes, bytes]]:
    import pyarrow.parquet as pq

    toks = pq.read_table(d).column("tokens").to_pylist()
    return [(bytes(t[0:4]), bytes(t[5:9]), bytes(t[13:17])) for t in toks]


def test_same_seed_same_bytes(tmp_path):
    a = gen.write_batch_input(ROOT, 3, 7, tmp_path / "a", n_files=2)
    b = gen.write_batch_input(ROOT, 3, 7, tmp_path / "b", n_files=2)
    assert a == b
    assert _files(tmp_path / "a") == _files(tmp_path / "b")


def test_other_seed_other_headers_same_counts(tmp_path):
    a = gen.write_batch_input(ROOT, 3, 7, tmp_path / "a", n_files=1)
    b = gen.write_batch_input(ROOT, 3, 8, tmp_path / "b", n_files=1)
    assert a == b  # expected per-sink counts and event count
    ha, hb = _headers(tmp_path / "a"), _headers(tmp_path / "b")
    assert len(ha) == len(hb)
    for field in range(3):  # timestamp, server_id, log_pos all rewritten
        assert [h[field] for h in ha] != [h[field] for h in hb]


def test_only_header_fields_change(tmp_path):
    """Payload, type byte, event_size and flags are the fixture's own."""
    import pyarrow.parquet as pq

    gen.write_batch_input(ROOT, 2, 5, tmp_path / "a", n_files=1)
    got = pq.read_table(tmp_path / "a").column("tokens").to_pylist()
    fx = pq.read_table(ROOT / "data" / "fixture_events.parquet")
    base = fx.column("tokens").to_pylist()
    assert len(got) == 2 * len(base)
    for g, b in zip(got, base * 2):
        assert g[4] == b[4] and g[9:13] == b[9:13] and g[17:] == b[17:]


def test_mixed_counts_follow_the_type_byte():
    """QUERY and GTID keep their fixture shares (23% and 19%)."""
    base = gen.load_base(ROOT)
    flat, starts, sizes = gen.replicate(base, 10, gen.rng(0))
    c = gen.expected_sinks(flat, starts, sizes)
    assert sum(c.values()) == 1660
    assert c["QUERY"] == 380 and c["GTID"] == 320
    assert "QUARANTINE" not in c


def test_sample_rows_match_written_table(tmp_path):
    import pyarrow.parquet as pq

    gen.write_batch_input(ROOT, 4, 3, tmp_path / "a", n_files=3)
    t = pq.read_table(tmp_path / "a").to_pydict()
    table = {d: bytes(tok) for d, tok in zip(t["doc_id"], t["tokens"])}
    assert len(table) == 4 * 166  # doc_ids are unique
    sample = gen.sample_rows(ROOT, 4, 3, 10)
    assert len(sample) == 10
    assert all(table[d] == b for d, b in sample.items())


def test_binlog_files_split_back_to_events():
    from binlogpipe.binsource import split_binlog_bytes

    a = gen.build_binlog_files(ROOT, 2, 3, 9)
    b = gen.build_binlog_files(ROOT, 2, 3, 9)
    assert [p for p, _ in a] == [p for p, _ in b]
    assert len({len(p) for p, _ in a}) == 1  # fixed size
    events, err = split_binlog_bytes(a[0][0])
    assert err is None and len(events) == 2 * 166
    assert sum(a[0][1].values()) == 2 * 166


def _entry(name: str, batch: int) -> str:
    return json.dumps({"path": f"file:///x/in/{name}", "timestamp": 0,
                       "batchId": batch})


def test_lag_from_synthetic_checkpoint(tmp_path):
    ck = tmp_path / "ck"
    (ck / "commits").mkdir(parents=True)
    (ck / "sources" / "0").mkdir(parents=True)
    src = ck / "sources" / "0"
    src.joinpath("0").write_text("v1\n" + _entry("a.bin", 0) + "\n")
    src.joinpath("1").write_text(
        "v1\n" + _entry("b.bin", 1) + "\n" + _entry("c.bin", 1) + "\n")
    # a compacted log repeats earlier entries; that is not a re-commit
    src.joinpath("1.compact").write_text(
        "v1\n" + "\n".join(_entry(n, b) for n, b in
                           [("a.bin", 0), ("b.bin", 1), ("c.bin", 1)]))
    src.joinpath("2").write_text("v1\n" + _entry("c.bin", 2) + "\n")
    for bid, t in ((0, 1000.0), (1, 1010.0)):
        f = ck / "commits" / str(bid)
        f.write_text("v1\n{}")
        os.utime(f, (t, t))
    drops = {"a.bin": 990.0, "b.bin": 1002.5, "c.bin": 1004.0,
             "d.bin": 1009.0}
    r = probes.file_lags(drops, ck)
    assert r["lags"] == pytest.approx({"a.bin": 10.0, "b.bin": 7.5,
                                       "c.bin": 6.0})
    assert r["missing"] == ["d.bin"]  # never listed by a committed batch
    assert r["twice"] == ["c.bin"]  # listed by batches 1 and 2
    assert r["batch_of"]["b.bin"] == 1


@pytest.mark.parametrize("n,value,pct", [
    (100, 90, 90.0), (11, 1, 9.09), (40, 30, 75.0), (20, 10, 50.0)])
def test_tail_keeps_ten_samples_beyond(n, value, pct):
    xs = list(range(n, 0, -1))  # unsorted input
    t = probes.tail(xs)
    assert t["value"] == value and t["pct"] == pytest.approx(pct, abs=0.01)
    assert sum(1 for x in xs if x > t["value"]) == 10
    assert t["n"] == n and t["beyond"] == 10


def test_tail_with_too_few_samples_reports_max():
    assert probes.tail([3.0, 1.0, 2.0]) == {"value": 3.0, "pct": 100.0,
                                            "n": 3, "beyond": 0}
    assert probes.tail([])["value"] is None


@pytest.mark.parametrize("text,want", [
    ("99,600", {"total": 99600.0}),
    ("total (min, med, max (stageId: taskId))\n5.6 MiB (457.4 KiB, "
     "708.9 KiB, 1035.0 KiB (stage 3.0: task 5))",
     {"total": 5.6 * 2**20, "min": 457.4 * 1024, "med": 708.9 * 1024,
      "max": 1035.0 * 1024}),
    ("total (min, med, max (stageId: taskId))\n13.0 s (3.1 s, 3.3 s, "
     "3.3 s (stage 1.0: task 1))",
     {"total": 13.0, "min": 3.1, "med": 3.3, "max": 3.3}),
    ("38 ms", {"total": 0.038}),
])
def test_parse_metric(text, want):
    assert probes.parse_metric(text) == pytest.approx(want)


def test_steal_clock_takes_steal_out_of_intervals():
    c = probes.StealClock(cpus={0, 1, 2, 3})
    # (t, busy, steal): 2 s idle, 4 s with a quarter of the vCPU time
    # the VM wanted taken by the host, then 4 s busy without steal
    c.samples = [(100.0, 0.0, 50.0), (102.0, 0.0, 50.0),
                 (106.0, 12.0, 54.0), (110.0, 28.0, 54.0)]
    assert c.steal(101.0, 104.0) == pytest.approx(2.0)
    assert c.adjust(101.0, 104.0) == pytest.approx(1.0 + 2.0 * 0.75)
    assert c.adjust(106.0, 110.0) == pytest.approx(4.0)  # no steal
    assert c.adjust(100.0, 110.0) == pytest.approx(2.0 + 3.0 + 4.0)
    # outside the timeline nothing is known: counted in full
    assert c.adjust(110.0, 115.0) == pytest.approx(5.0)
    assert c.steal(90.0, 120.0) == pytest.approx(4.0)


def test_steal_clock_samples_this_host():
    c = probes.StealClock(period=0.01).start()
    time.sleep(0.05)
    c.stop()
    assert len(c.samples) >= 3
    for a, b in zip(c.samples, c.samples[1:]):
        assert b[0] >= a[0] and b[1] >= a[1] and b[2] >= a[2]
    assert c.adjust(c.samples[0][0], c.samples[-1][0]) > 0

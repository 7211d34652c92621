"""Tests of the seeded input generators: `python3 -m pytest perfbench -q`."""

from __future__ import annotations

import datetime as dt
import json
import math
import os

import gen


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_gives_byte_identical_files(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_stream_files(a, seed=5, n_files=3)
    gen.write_stream_files(b, seed=5, n_files=3)
    gen.write_stream_files(c, seed=6, n_files=3)
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)
    assert [os.stat(os.path.join(a, n)).st_mtime for n in sorted(os.listdir(a))] == [
        gen.BASE_MTIME + i * gen.STEP_S for i in range(3)
    ]


def test_tables_same_seed_identical(tmp_path):
    a, b = gen.build_tables(0.001), gen.build_tables(0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["events"].num_rows == 1000 and a["lineitem"].num_rows == 6000


def _classify(path: str, index: int) -> dict[str, int]:
    """Recount each injected class from the file alone."""
    arrival = gen.BASE.timestamp() + index * gen.STEP_S  # naive, same offset on both sides
    counts = dict.fromkeys(["malformed", "out_of_range", "bad_k", "duplicate", "late", "on_time"], 0)
    seen = set()
    with open(path) as f:
        for line in f.read().splitlines():
            if line in seen:
                counts["duplicate"] += 1
                continue
            seen.add(line)
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                counts["malformed"] += 1
                continue
            k = json.loads(e["props"])["k"]
            if not 0 <= e["value"] <= 100:
                counts["out_of_range"] += 1
            elif not isinstance(k, int):
                counts["bad_k"] += 1
            else:
                ts = dt.datetime.strptime(e["ts"], "%Y-%m-%d %H:%M:%S.%f").timestamp()
                counts["late" if ts < arrival else "on_time"] += 1
    return counts


def test_class_counts_are_exact_and_match_rates(tmp_path):
    n_files = 40
    truth = gen.write_stream_files(str(tmp_path), seed=11, n_files=n_files)
    recount: dict[str, int] = {}
    for i, name in enumerate(sorted(os.listdir(tmp_path))):
        for k, v in _classify(str(tmp_path / name), i).items():
            recount[k] = recount.get(k, 0) + v
    late = sum(truth.counts[name] for name, _, _ in gen.LATE_CLASSES)
    assert recount["late"] == late
    for cls in ("malformed", "out_of_range", "bad_k", "duplicate", "on_time"):
        assert recount[cls] == truth.counts[cls], cls
    assert truth.invalid == sum(truth.counts[c] for c in gen.INVALID_CLASSES)
    assert truth.rows == n_files * gen.SENSORS + truth.counts["duplicate"]

    readings = n_files * gen.SENSORS
    rates = {name: share for name, share, _ in gen.LATE_CLASSES} | dict(gen.INVALID_RATES)
    for cls, rate in rates.items():
        sigma = math.sqrt(readings * rate * (1 - rate))
        assert abs(truth.counts[cls] - readings * rate) <= 4 * sigma, cls
    on_time = truth.counts["on_time"]
    sigma = math.sqrt(on_time * gen.DUPLICATE_RATE)
    assert abs(truth.counts["duplicate"] - on_time * gen.DUPLICATE_RATE) <= 4 * sigma


def test_late_readings_fall_in_their_lateness_class(tmp_path):
    lines, counts, valid = gen.stream_file_lines(seed=3, index=500)
    arrival_ms = int((gen.BASE - gen.EPOCH).total_seconds() * 1000) + 500 * gen.STEP_S * 1000
    late = [r for r in valid if r[2] < arrival_ms]
    assert len(late) == sum(counts[name] for name, _, _ in gen.LATE_CLASSES)
    for _, _, ts_ms, _, _ in late:
        assert ts_ms % 2 == 1  # odd millisecond: never equal to a watermark
        assert 60_000 - 10_000 < arrival_ms - ts_ms < 3_600_000

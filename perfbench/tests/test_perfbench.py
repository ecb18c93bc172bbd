"""The benchmark's own checks: seeded inputs, freshness attribution
and the metric catalogue.  Run with ``python -m pytest perfbench/tests``
from the repository root; no Spark session is started."""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen, names
from perfbench.obs import attribute, pctl

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = gen.Traffic(slice_rows=60, serials=50)


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for base, _dirs, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(base, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _make(root: str, seed: int) -> list[str]:
    return [
        gen.stream_inputs(root, seed, 12, SMALL).sf_dir,
        gen.history_inputs(root, seed, 3000, 3, SMALL),
    ]


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _make(str(tmp_path / "a"), 7)
    b = _make(str(tmp_path / "b"), 7)
    c = _make(str(tmp_path / "c"), 8)
    for x, y, z in zip(a, b, c):
        assert _digest(x) == _digest(y)
        assert _digest(x) != _digest(z)
    # the dir name carries (workload, seed, size)
    assert os.path.basename(a[0]) == os.path.basename(b[0]) != os.path.basename(c[0])


def test_hash_keys_collide_only_through_redeliveries(tmp_path):
    inp = gen.stream_inputs(str(tmp_path), 3, 20, SMALL)
    df = pq.read_table(inp.slice_paths).to_pandas()
    df["sec"] = df["ts"].dt.floor("s")
    first = df.drop_duplicates("event_id")
    assert len(first) == 20 * SMALL.slice_rows
    assert not first.duplicated(["user_id", "event_type", "sec"]).any()
    again = df[df.duplicated("event_id")]
    assert len(again) > 0
    # a re-delivery is the identical row, never a new reading
    merged = again.merge(first, on="event_id", suffixes=("", "_first"))
    assert (merged["ts"] == merged["ts_first"]).all()
    assert (merged["value"] == merged["value_first"]).all()
    # landing slices carry UTC-adjusted micros, the table file naive ones
    assert str(pq.read_schema(inp.slice_paths[0]).field("ts").type) == "timestamp[us, tz=UTC]"
    assert str(pq.read_schema(os.path.join(inp.sf_dir, "events.parquet")).field("ts").type) == "timestamp[us]"


def test_freshness_attribution_on_synthetic_progress():
    # slices of 10, 0 and 5 gold rows; batches read 4, 6, 5 rows
    batches = [{"rows": 4, "end": 10.0}, {"rows": 6, "end": 11.5}, {"rows": 5, "end": 13.0}]
    cum = list(np.cumsum([10, 0, 5, 1]))
    assert attribute(batches, cum) == [11.5, 11.5, 13.0, None]
    assert attribute([], [0, 3]) == [0.0, None]


def test_pctl_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert pctl(xs, 50) == 3.0
    assert pctl(xs, 90) == pytest.approx(float(np.percentile(xs, 90)))
    assert pctl([], 50) == 0.0


def test_metric_catalogue_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == names.END_TO_END
    assert layer == names.per_layer()
    assert len(e2e) <= 16 and len(layer) <= 128
    for n in list(e2e) + list(layer):
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    for u in list(e2e.values()) + list(layer.values()):
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", u), u
    assert {w["name"] for w in spec["workloads"]} == {"medallion_stream", "medallion_batch"}


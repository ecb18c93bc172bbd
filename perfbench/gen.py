"""Seeded input generator for the benchmark.

Every table is a pure function of (workload, seed, size), so the same
seed writes byte-identical parquet and a different seed writes
different data.  The traffic dimensions are explicit fields of
:class:`Traffic`:

- rows per slice and the slice rate (rows/s = ``slice_rows * rate``);
- serial skew (Zipf exponent over the serial range);
- the share of exact re-deliveries: rows of an earlier slice (same
  ``event_id``, identical row) delivered again in a later one.

Distinct events never share a bronze hash key (serial, metric, unix
second): the batch twin keeps the lowest ``event_id`` per key and the
stream keeps the first arrival, so only deliberate re-deliveries may
collide or the two would legitimately disagree.

Table files (``events``/``customer``) carry naive micro timestamps
like the shared test data; landing slices carry UTC-adjusted micros,
the type the always-on runner's file source expects.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z, the start of the derived device history
EPOCH_S = 1704067200
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


@dataclasses.dataclass(frozen=True)
class Traffic:
    """The input properties the pipeline's behaviour depends on.

    The defaults are the shapes the workloads use: 2,000-row slices
    (1/50 of the sf0.1 events table) at one a second, 2,000 rows/s,
    and the sf0.1 event population of 1,500 serials.
    """

    slice_rows: int = 2000
    slices_per_s: float = 1.0
    serials: int = 1500
    serial_skew: float = 1.1
    redelivery_share: float = 0.05


def _rng(seed: int, stream: str) -> np.random.Generator:
    salt = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, salt])


def _serials(rng: np.random.Generator, n: int, t: Traffic) -> np.ndarray:
    ranks = np.arange(1, t.serials + 1, dtype=np.float64)
    p = ranks ** -t.serial_skew
    return rng.choice(t.serials, size=n, p=p / p.sum()).astype(np.int64)


def _events(rng: np.random.Generator, n: int, t0_s: int, span_s: int,
            t: Traffic) -> dict[str, np.ndarray]:
    """``n`` distinct events in ``[t0_s, t0_s + span_s)``, sorted by
    time, with unique (serial, type, second) hash keys."""
    m = int(n * 1.3) + 64
    serial = _serials(rng, m, t)
    etype = rng.integers(0, len(EVENT_TYPES), m)
    sec = rng.integers(0, span_s, m)
    key = (serial * len(EVENT_TYPES) + etype) * span_s + sec
    _, first = np.unique(key, return_index=True)
    keep = np.sort(first)[:n]
    if len(keep) < n:
        raise ValueError(f"time span {span_s}s too small for {n} distinct events")
    micros = (t0_s + sec[keep]) * 1_000_000 + rng.integers(0, 1_000_000, n)
    order = np.argsort(micros, kind="stable")
    return {
        "ts_us": micros[order],
        "user_id": serial[keep][order],
        "event_type": EVENT_TYPES[etype[keep][order]],
        "value": np.round(rng.gamma(2.0, 20.0, n), 2),
        "k": rng.integers(0, 100, n),
    }


def _events_table(ev: dict[str, np.ndarray], event_id: np.ndarray, tz: str | None) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ev["ts_us"], pa.timestamp("us", tz=tz)),
            "user_id": pa.array(ev["user_id"], pa.int64()),
            "event_type": pa.array(ev["event_type"], pa.string()),
            "value": pa.array(ev["value"], pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in ev["k"]], pa.string()),
        }
    )


def _customer(t: Traffic) -> pa.Table:
    keys = np.arange(t.serials, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": pa.array(keys % 25, pa.int32()),
            "c_acctbal": (keys * 37 % 10000) / 10.0,
            "c_mktsegment": np.array(["AUTO", "BUILD", "HOUSE"])[keys % 3],
        }
    )


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _with_redeliveries(rng, tables: list[pa.Table], share: float, reach: int) -> list[pa.Table]:
    """Append to each slice exact copies of rows from the ``reach``
    slices before it (``share`` of its own row count)."""
    out = [tables[0]]
    for i in range(1, len(tables)):
        prev = pa.concat_tables(tables[max(0, i - reach):i])
        k = int(round(share * tables[i].num_rows))
        idx = np.sort(rng.choice(prev.num_rows, size=min(k, prev.num_rows), replace=False))
        out.append(pa.concat_tables([tables[i], prev.take(pa.array(idx))]))
    return out


@dataclasses.dataclass
class StreamInputs:
    sf_dir: str
    slice_paths: list[str]
    slice_rows: list[int]
    first_event_id: list[int]


def stream_inputs(root: str, seed: int, n_slices: int, t: Traffic) -> StreamInputs:
    """The feed of ``medallion_stream``: ``n_slices`` time-ordered
    slices of ``t.slice_rows`` new events (event ids ascending across
    slices, so a gold row's slice is found from its ``event_id``),
    each followed by its re-deliveries.  Event time advances 5 min per
    slice, so no row of a feed of up to 576 slices falls behind the
    48 h dedup watermark and the stream keeps exactly what the batch
    twin keeps."""
    if n_slices > 576:
        raise ValueError(f"{n_slices} slices span more than the 48 h dedup watermark")
    d = os.path.join(root, f"medallion_stream-s{seed}-n{n_slices}x{t.slice_rows}")
    slices_dir = os.path.join(d, "slices")
    os.makedirs(slices_dir, exist_ok=True)
    rng = _rng(seed, "stream")
    step = 300
    tables, first_ids = [], []
    next_id = 0
    for i in range(n_slices):
        ev = _events(rng, t.slice_rows, EPOCH_S + i * step, step, t)
        ids = np.arange(next_id, next_id + t.slice_rows, dtype=np.int64)
        first_ids.append(next_id)
        next_id += t.slice_rows
        tables.append(_events_table(ev, ids, "UTC"))
    fed = _with_redeliveries(rng, tables, t.redelivery_share, reach=3)
    paths = []
    for i, tab in enumerate(fed):
        p = os.path.join(slices_dir, f"slice-{i:05d}.parquet")
        _write(tab, p)
        paths.append(p)
    # the feed schema the runner reads from sf_dir/events.parquet
    _write(_events_table(_events(rng, 16, EPOCH_S, 3600, t), np.arange(16), None),
           os.path.join(d, "events.parquet"))
    _write(_customer(t), os.path.join(d, "customer.parquet"))
    return StreamInputs(d, paths, [tab.num_rows for tab in fed], first_ids)


def history_inputs(root: str, seed: int, n_events: int, days: int, t: Traffic) -> str:
    """An event history for ``medallion_batch`` (the backfill's, and
    the drain's smaller one): one ``events.parquet`` (the
    re-deliveries appended after the originals) plus
    ``customer.parquet``."""
    d = os.path.join(root, f"medallion_batch-history-s{seed}-n{n_events}d{days}")
    os.makedirs(d, exist_ok=True)
    rng = _rng(seed, "history")
    ev = _events(rng, n_events, EPOCH_S, days * 86400, t)
    tab = _events_table(ev, np.arange(n_events, dtype=np.int64), None)
    k = int(round(t.redelivery_share * n_events))
    dup = tab.take(pa.array(np.sort(rng.choice(n_events, size=k, replace=False))))
    _write(pa.concat_tables([tab, dup]), os.path.join(d, "events.parquet"))
    _write(_customer(t), os.path.join(d, "customer.parquet"))
    return d

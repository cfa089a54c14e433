"""Seeded input generator for the benchmark.

Everything here is a pure function of its arguments and ``seed``: the same
seed writes byte-identical parquet files. Nothing imports Spark.

* :func:`make_events` draws a clickstream with Zipf item popularity,
  multi-event sessions whose gaps fall on both sides of the 1800 s session
  gap, and a small share of events delivered late (out of order).
* :func:`write_events_parquet` writes it in the fixture shape that
  ``events_from_fixture`` reads (``event_type`` in view/click/purchase,
  ``props`` = ``{"k": item}``).
* :func:`write_chunk` writes one canonical-schema chunk for the file-stream
  source, by temp-file plus rename, with timestamps in microseconds.
* :func:`land` is the open-loop generator process: it lands chunks on a
  fixed schedule (``python3 perfbench/gen.py land ...``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
GAP_S = 1800
BASE_US = 1_704_067_200 * US  # 2024-01-01T00:00:00Z
EVENT_TYPES = np.array(["view", "click", "purchase"])
EVENT_P = np.array([0.72, 0.22, 0.06])
N_ITEMS = 2000
ZIPF_S = 1.1  # item popularity exponent
LATE_SHARE = 0.02  # share of events delivered out of order ...
LATE_MAX_S = 120  # ... up to this many seconds after their event time
#: deterministic file bytes: no pandas metadata, fixed writer options
_WRITE = dict(compression="snappy", use_dictionary=True, write_statistics=True)


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def make_events(seed: int, n_events: int) -> dict[str, np.ndarray]:
    """Column arrays in delivery order (the order a stream would land them).

    Sessions are 1 + geometric(1/4) events long, so about a quarter are
    single-event (bounces). Gaps inside a session are mostly short, with a
    share drawn from 1500..1800 s and some exactly 1800 s (still the same
    session); gaps between sessions are > 1800 s, a share of them just over
    it (1801..1900 s). ``LATE_SHARE`` of events arrive up to ``LATE_MAX_S``
    after their event time, i.e. behind later events in delivery order.
    """
    rng = np.random.default_rng(seed)
    n_users = max(8, n_events // 40)
    sess_len = 1 + rng.geometric(0.25, size=n_events)  # over-draw, then cut
    sess_len = sess_len[: np.searchsorted(np.cumsum(sess_len), n_events) + 1]
    sess_len[-1] -= sess_len.sum() - n_events
    sess_len = sess_len[sess_len > 0]
    n_sess = len(sess_len)
    # heavy visitors own many sessions (mild Zipf over users)
    sess_user = rng.choice(n_users, size=n_sess, p=_zipf_p(n_users, 0.5))
    user = np.repeat(sess_user, sess_len)
    first = np.zeros(n_events, dtype=bool)
    first[np.concatenate(([0], np.cumsum(sess_len)[:-1]))] = True

    # group each user's events together, sessions in draw order
    order = np.argsort(user, kind="stable")
    user, first = user[order], first[order]
    intra = rng.exponential(90.0, n_events) * US
    near = rng.random(n_events)
    intra = np.where(near < 0.05, rng.uniform(1500, GAP_S, n_events) * US, intra)
    intra = np.where(near < 0.01, GAP_S * US, intra)
    inter = rng.uniform(GAP_S + 1, 3 * 3600, n_events) * US
    inter = np.where(near < 0.15, rng.uniform(GAP_S + 1, GAP_S + 100, n_events) * US, inter)
    gap = np.where(first, inter, np.minimum(intra, GAP_S * US)).astype(np.int64)
    new_user = np.concatenate(([True], user[1:] != user[:-1]))
    gap[new_user] = 0
    offsets = rng.integers(0, 24 * 3600 * US, n_users)
    cum = np.cumsum(gap)
    starts = np.maximum.accumulate(np.where(new_user, cum, 0))
    ts = BASE_US + offsets[user] + (cum - starts)

    items = rng.permutation(N_ITEMS) + 1
    item = items[rng.choice(N_ITEMS, size=n_events, p=_zipf_p(N_ITEMS, ZIPF_S))]
    etype = rng.choice(3, size=n_events, p=EVENT_P)
    value = np.round(rng.gamma(2.0, 15.0, n_events) * (1 + 9 * (etype == 2)), 2)

    late = rng.random(n_events) < LATE_SHARE
    arrive = ts + np.where(late, rng.integers(1, LATE_MAX_S * US, n_events), 0)
    deliver = np.lexsort((user, ts, arrive))
    return {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts_us": ts[deliver],
        "user_id": user[deliver].astype(np.int64),
        "event_type": EVENT_TYPES[etype[deliver]],
        "value": value[deliver],
        "item": item[deliver].astype(np.int64),
    }


def describe_events(ev: dict[str, np.ndarray]) -> dict:
    """Input properties recorded in the run record."""
    ts, user = ev["ts_us"], ev["user_id"]
    by = np.lexsort((ts, user))
    t, u = ts[by], user[by]
    same = u[1:] == u[:-1]
    d = (t[1:] // US - t[:-1] // US)[same]
    new_sess = (~same).sum() + 1 + (d > GAP_S).sum()
    counts = np.bincount(ev["item"])
    top = np.sort(counts)[::-1]
    late = int((np.diff(ts) < 0).sum())
    return {
        "events": int(len(ts)),
        "users": int(len(np.unique(user))),
        "items": int((counts > 0).sum()),
        "top1pct_item_share": round(float(top[: max(1, len(top) // 100)].sum() / len(ts)), 4),
        "sessions": int(new_sess),
        "events_per_session": round(len(ts) / new_sess, 3),
        "gaps_1500_1800s": int(((d >= 1500) & (d <= GAP_S)).sum()),
        "gaps_1801_1900s": int(((d > GAP_S) & (d <= 1900)).sum()),
        "out_of_order_events": late,
        "span_s": int((ts.max() - ts.min()) // US),
    }


def events_table(ev: dict[str, np.ndarray]) -> pa.Table:
    """Fixture shape: event_id, ts (timestamp[us], naive), user_id,
    event_type, value, props."""
    props = np.char.add(np.char.add('{"k": ', ev["item"].astype(str)), "}")
    return pa.table(
        {
            "event_id": pa.array(ev["event_id"]),
            "ts": pa.array(ev["ts_us"], pa.timestamp("us")),
            "user_id": pa.array(ev["user_id"]),
            "event_type": pa.array(ev["event_type"].tolist(), pa.string()),
            "value": pa.array(ev["value"]),
            "props": pa.array(props.tolist(), pa.string()),
        }
    )


def canon_table(ev: dict[str, np.ndarray], lo: int = 0, hi: int | None = None) -> pa.Table:
    """Canonical stream schema (``CANON_EVENT_SCHEMA``) for rows lo..hi.
    ``event_time`` is UTC-adjusted microseconds, which Spark reads as
    TimestampType; nanosecond columns would fail the declared schema."""
    s = slice(lo, hi)
    return pa.table(
        {
            "visitorid": pa.array(ev["user_id"][s]),
            "event": pa.array(ev["event_type"][s].tolist(), pa.string()),
            "event_time": pa.array(ev["ts_us"][s], pa.timestamp("us", tz="UTC")),
            "itemid": pa.array(ev["item"][s]),
            "event_id": pa.array(ev["event_id"][s]),
            "value": pa.array(ev["value"][s]),
        }
    )


def write_events_parquet(ev: dict[str, np.ndarray], directory: str) -> str:
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, "events.parquet")
    pq.write_table(events_table(ev), path, **_WRITE)
    return path


def write_chunk(table: pa.Table, directory: str, name: str) -> str:
    """Land one chunk atomically: write a dot-file, which the file source
    ignores, then rename it into place. Chunks land one after another, so
    their modification times increase in delivery order."""
    tmp = os.path.join(directory, f".{name}.tmp")
    dst = os.path.join(directory, name)
    pq.write_table(table, tmp, **_WRITE)
    os.rename(tmp, dst)
    return dst


def land(seed: int, directory: str, chunks: int, chunk_events: int, interval: float, t0: float) -> list[dict]:
    """Open-loop generator: chunk ``i`` is due at ``t0 + i * interval`` and
    lands then, however far the consumer lags. Returns, per chunk, its name,
    scheduled time and actual landing time (epoch seconds)."""
    import time

    ev = make_events(seed, chunks * chunk_events)
    landed = []
    for i in range(chunks):
        due = t0 + i * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = f"chunk_{i:05d}.parquet"
        write_chunk(canon_table(ev, i * chunk_events, (i + 1) * chunk_events), directory, name)
        landed.append({"name": name, "scheduled": due, "landed": time.time()})
    return landed


if __name__ == "__main__":
    import argparse
    import json

    ap = argparse.ArgumentParser(description="Land seeded chunks on a fixed schedule.")
    ap.add_argument("command", choices=["land"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--chunks", type=int, required=True)
    ap.add_argument("--chunk-events", type=int, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    record = land(a.seed, a.dir, a.chunks, a.chunk_events, a.interval, a.t0)
    with open(a.out, "w") as fh:
        json.dump(record, fh)

"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical files, which ``content_hash`` fingerprints.  The
engine only ever sees the files written here; the planted ground truth
(which frames are far late, how many are malformed) stays with the
generator and is used by the reference check.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2023-11-14T22:13:00Z, a whole minute; all event times are offsets from it.
BASE_US = 1_699_999_980_000_000
MINUTE_US = 60_000_000


def content_hash(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes), in
    sorted path order, so two runs on one seed can be shown to share
    identical inputs."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            path = os.path.join(dirpath, fn)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


# ----------------------------------------------------------------- uu_batch


def write_events(
    out_dir: str,
    seed: int,
    n_events: int,
    n_users: int,
    minutes: int,
    disorder_s: int,
    row_group: int,
) -> str:
    """``events.parquet`` for ``catalog.load_table``: Zipf-skewed user ids,
    event times spread over ``minutes`` with ±``disorder_s`` of disorder
    (rows stay in arrival order, so time is not sorted), written as
    several row groups."""
    rng = np.random.default_rng([seed, 1])
    span_us = minutes * MINUTE_US
    arrival = np.sort(rng.integers(0, span_us, n_events))
    jitter = rng.integers(-disorder_s * 1_000_000, disorder_s * 1_000_000 + 1, n_events)
    ts = BASE_US + np.clip(arrival + jitter, 0, span_us - 1)
    uid = rng.zipf(1.2, n_events) % n_users
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    table = pa.table(
        {
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(uid.astype(np.int64)),
        }
    )
    pq.write_table(table, path, row_group_size=row_group)
    return path


# ------------------------------------------------------------- log frames


def frame_value(ts_s: int, uid: int, kind: int) -> str:
    """One log-frame JSON value ``{"ts": <unix-seconds>, "uid": "..."}``;
    ``kind`` 0-3 makes it malformed in one of four ways the parser must
    drop (truncated JSON, no uid, empty uid, non-numeric ts)."""
    if kind == 0:
        return '{"ts": ' + str(ts_s) + ', "uid": "u'
    if kind == 1:
        return json.dumps({"ts": ts_s})
    if kind == 2:
        return json.dumps({"ts": ts_s, "uid": ""})
    if kind == 3:
        return json.dumps({"ts": "n/a", "uid": f"u{uid}"})
    return json.dumps({"ts": ts_s, "uid": f"u{uid}"})


def malformed_kinds(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """-1 for a well-formed frame, else the malformed kind 0-3."""
    return np.where(rng.random(n) < share, rng.integers(0, 4, n), -1)


# ---------------------------------------------------------------- uu_stream


@dataclass(frozen=True)
class StreamPlan:
    """Open-loop schedule of the ``uu_stream`` source: JSON log-frame files.

    File ``k`` is due at wall time ``start + k * interval_s``.  Event time
    runs ``speed`` times faster than wall time, so windows close and the
    watermark advances within a short run: file ``k`` carries frames at
    scheduled event time ``E_k = BASE + k * interval_s * speed`` seconds,
    a share ``ooo_share`` of them up to ``disorder_s`` earlier (inside the
    watermark) and, from file ``late_from`` on, a share ``late_share``
    placed ``late_s`` or more earlier (far beyond the watermark, so the
    engine must drop them).  A share ``malformed_share`` is malformed."""

    seed: int
    rate: int  # offered frames per wall second
    interval_s: float
    speed: int
    n_users: int
    disorder_s: int
    ooo_share: float
    late_share: float
    late_s: int
    late_from: int
    malformed_share: float

    @property
    def per_file(self) -> int:
        return max(1, round(self.rate * self.interval_s))

    def event_time_s(self, k: int) -> int:
        return BASE_US // 1_000_000 + round(k * self.interval_s * self.speed)

    def late_cutoff_s(self, k: int) -> int:
        """Frames of file ``k`` older than this are the far-late ones."""
        return self.event_time_s(k) - (self.late_s - 60)

    def file_frames(self, k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(ts seconds, uid, malformed kind) of file ``k``; depends only on
        the seed and ``k``."""
        rng = np.random.default_rng([self.seed, 2, k])
        n = self.per_file
        e_k = self.event_time_s(k)
        step = max(1, round(self.interval_s * self.speed))
        ts = e_k - rng.integers(0, step, n)
        ooo = rng.random(n) < self.ooo_share
        ts[ooo] = e_k - rng.integers(0, self.disorder_s, int(ooo.sum()))
        if k >= self.late_from:
            late = rng.random(n) < self.late_share
            ts[late] = e_k - self.late_s - rng.integers(0, 60, int(late.sum()))
        uid = rng.zipf(1.2, n) % self.n_users
        return ts, uid, malformed_kinds(rng, n, self.malformed_share)

    def write_file(self, stage_dir: str, src_dir: str, k: int) -> str:
        """Write file ``k`` to ``stage_dir`` and atomically rename it into
        ``src_dir``; returns the final path."""
        ts, uid, kind = self.file_frames(k)
        name = f"part-{k:06d}.jsonl"
        staged = os.path.join(stage_dir, name)
        with open(staged, "w") as f:
            f.write("".join(frame_value(t, u, m) + "\n"
                            for t, u, m in zip(ts.tolist(), uid.tolist(), kind.tolist())))
        final = os.path.join(src_dir, name)
        os.rename(staged, final)
        return final


# ------------------------------------------- uu_stream, source-layer topic


def write_logframes(
    topic_dir: str,
    seed: int,
    n_records: int,
    n_users: int,
    minutes: int,
    disorder_s: int,
    malformed_share: float,
) -> int:
    """A Kafka-wire topic directory (``partition=N.jsonl``, one JSON record
    ``{key, value, timestamp}`` per line, 4 partitions by md5 of the key)
    of log frames keyed by minute, as the reference's producer keys them
    (key = 60 * floor(ts / 60)).  A share of the values is malformed in
    one of four ways the parser must drop.  Returns the malformed count."""
    rng = np.random.default_rng([seed, 3])
    span_s = minutes * 60
    arrival = np.sort(rng.integers(0, span_s, n_records))
    ts = BASE_US // 1_000_000 + np.clip(
        arrival + rng.integers(-disorder_s, disorder_s + 1, n_records), 0, span_s - 1
    )
    uid = rng.zipf(1.2, n_records) % n_users
    kind = malformed_kinds(rng, n_records, malformed_share)
    os.makedirs(topic_dir, exist_ok=True)
    parts: list[list[str]] = [[] for _ in range(4)]
    for t, u, k in zip(ts.tolist(), uid.tolist(), kind.tolist()):
        key = str(60 * (t // 60))
        p = int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % 4
        parts[p].append(json.dumps({"key": key, "value": frame_value(t, u, k), "timestamp": t}))
    for p, lines in enumerate(parts):
        with open(os.path.join(topic_dir, f"partition={p}.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n" if lines else "")
    return int((kind >= 0).sum())

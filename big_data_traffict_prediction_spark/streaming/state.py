"""Stateful streaming: per-camera IoU dedup + accumulators
(SURVEY.md §2.9 St2-St3).

The reference keeps per-camera mutable dicts guarded by a global lock
(``app/globals.py:4,13-14``) and suppresses a detection whose bbox
overlaps the previous frame's bbox at IoU > 0.5
(``app/services/camera.py:239-256``); accumulated counts are ``+=``
under the GIL (``:287-290``). Here the same semantics are ONE
``applyInPandasWithState`` operator keyed by camera_id: state =
(previous bbox, accumulated counts); locks, GIL and the dual-store
sync script all disappear — the state store + checkpoint give
exactly-once.

Rows within each micro-batch are processed in (ts, id) order, so the
suppressed-set matches the batch operator q_iou_dedup exactly — that
equivalence is pinned by tests/test_streaming.py. Both state functions
here are column operations on the sorted micro-batch frame; their
per-row reference loops live in the tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, GroupedData
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

IOU_THRESHOLD = 0.5

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("camera_id", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("new_count", T.LongType()),
        T.StructField("iou_prev", T.DoubleType()),
        T.StructField("suppressed", T.BooleanType()),
        T.StructField("accumulated_count", T.LongType()),
    ]
)

# state: last seen bbox + running accumulator
STATE_SCHEMA = T.StructType(
    [
        T.StructField("x1", T.LongType()),
        T.StructField("y1", T.LongType()),
        T.StructField("x2", T.LongType()),
        T.StructField("y2", T.LongType()),
        T.StructField("accumulated", T.LongType()),
        T.StructField("has_prev", T.BooleanType()),
    ]
)


_BOX = ("x1", "y1", "x2", "y2")


def _iou(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise IoU of two (n, 4) int64 arrays of (x1, y1, x2, y2)
    boxes; 0.0 where the union is empty."""
    ix = np.maximum(0, np.minimum(a[:, 2], b[:, 2]) - np.maximum(a[:, 0], b[:, 0]))
    iy = np.maximum(0, np.minimum(a[:, 3], b[:, 3]) - np.maximum(a[:, 1], b[:, 1]))
    inter = ix * iy
    union = (a[:, 2] - a[:, 0]) * (a[:, 3] - a[:, 1]) + (b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1]) - inter
    return np.divide(inter, union, out=np.zeros(len(a)), where=union > 0)


def _sorted_batch(pdfs: Iterator[pd.DataFrame], *names: str) -> dict[str, np.ndarray] | None:
    """Columns ``ts``, ``id``, ``new_count`` and ``names`` of one group's
    whole micro-batch as numpy arrays, sorted ONCE by (ts, id): Arrow
    delivers a group as multiple chunks in no guaranteed order, so
    per-chunk sorting would pick the wrong predecessor across chunk
    seams. None when the state function fires without rows."""
    chunks = [c for c in pdfs if len(c)]
    if not chunks:
        return None
    batch = {n: np.concatenate([c[n].to_numpy() for c in chunks]) for n in ("ts", "id", "new_count", *names)}
    nulls = [n for n, col in batch.items() if col.dtype.kind == "f"]  # NULL turns a long column to float
    if nulls:
        raise ValueError(f"NULL in state function input column(s) {nulls}")
    order = np.lexsort((batch["id"], batch["ts"]))
    return {n: col[order] for n, col in batch.items()}


def dedup_fn(
    key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-camera state function, one column pass per micro-batch.

    Every row becomes the next row's ``prev``, suppressed or not, so
    row i is compared with row i-1 and row 0 with the state's box (the
    empty box (0, 0, 0, 0) when there is none: its IoU with any box is
    0); the accumulator is the state's value plus a cumsum of the
    unsuppressed counts."""
    (camera_id,) = key
    prev, accumulated, has_prev = [0, 0, 0, 0], 0, False
    if state.exists:
        x1, y1, x2, y2, accumulated, has_prev = state.get
        if has_prev:
            prev = [x1, y1, x2, y2]

    batch = _sorted_batch(pdfs, *_BOX)
    out = None
    if batch is not None:
        box = np.column_stack([batch[c] for c in _BOX]).astype(np.int64)
        iou = _iou(box, np.vstack([np.asarray(prev, np.int64), box[:-1]]))
        suppressed = iou > IOU_THRESHOLD
        new_count = batch["new_count"].astype(np.int64)
        acc = accumulated + np.cumsum(np.where(suppressed, 0, new_count))
        out = pd.DataFrame(
            {
                "camera_id": [camera_id] * len(box),
                "id": batch["id"].astype(np.int64),
                "ts": batch["ts"],
                "new_count": new_count,
                "iou_prev": iou,
                "suppressed": suppressed,
                "accumulated_count": acc,
            }
        )
        prev, accumulated, has_prev = box[-1].tolist(), int(acc[-1]), True

    state.update((*prev, accumulated, has_prev))
    if out is not None:
        yield out


def _keyed_input(stream: DataFrame, *names: str) -> GroupedData:
    """``stream`` cut down to what a state function reads (camera_id,
    ts, id, new_count and ``names``), grouped by camera_id.

    applyInPandasWithState converts every input column of every
    (camera, micro-batch) group to pandas, a fixed cost that outweighs
    the kernels here when groups are small, so only the read columns
    are sent, and ``ts`` goes as TIMESTAMP_NTZ: the same session-local
    wall clock pyspark hands over for a TIMESTAMP, without its
    time-zone conversion per group."""
    ts = F.col("ts").cast(T.TimestampNTZType()).alias("ts")
    return stream.select("camera_id", ts, "id", "new_count", *names).groupBy("camera_id")


def stateful_dedup(stream: DataFrame) -> DataFrame:
    """Wire the state function onto a (possibly streaming) detection
    frame keyed by camera_id."""
    return _keyed_input(stream, *_BOX).applyInPandasWithState(
        dedup_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- congestion episodes ------------------------------------------------
#
# Detect sustained congestion EPISODES per camera (consecutive
# observations ≥ EPISODE_THRESHOLD) and emit one row when an episode
# CLOSES (a below-threshold observation arrives). An episode still open
# at end-of-stream stays in state — exactly the long-running-job
# semantics: the next feed file resumes it from the checkpoint.

EPISODE_THRESHOLD = 300

EPISODE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("camera_id", T.StringType()),
        T.StructField("episode_start", T.TimestampType()),
        T.StructField("episode_end", T.TimestampType()),
        T.StructField("n_obs", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("total", T.LongType()),
    ]
)

# state: the open episode, with is_open=False when none is open
_EPISODE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n_obs", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("total", T.LongType()),
        T.StructField("is_open", T.BooleanType()),
    ]
)


def _fold_episodes(cur, pdfs):
    """The episode fold as run-length segmentation of the sorted
    micro-batch over ``new_count >= EPISODE_THRESHOLD``: a high run
    starting at row 0 extends the open episode ``cur``; every high run
    that a low row ends closes; a trailing high run stays open.
    Returns (open_episode_or_None, closed_episode_tuples), each episode
    (start_us, end_us, n_obs, peak, total) of Python ints."""
    batch = _sorted_batch(pdfs)
    if batch is None:  # state fn can fire without rows (e.g. timeout modes)
        return cur, []
    us = batch["ts"].astype("datetime64[ns]").view(np.int64) // 1000
    nc = batch["new_count"].astype(np.int64)
    rows = np.flatnonzero(nc >= EPISODE_THRESHOLD)
    if not len(rows):  # row 0 is low: it closes the open episode
        return None, [] if cur is None else [cur]
    # each run's first and last position in ``rows``: a run starts
    # where the row index jumps
    first = np.flatnonzero(np.diff(rows, prepend=-2) != 1)
    last = np.append(first[1:] - 1, len(rows) - 1)
    episodes = list(
        zip(
            us[rows[first]].tolist(),
            us[rows[last]].tolist(),
            (last - first + 1).tolist(),
            np.maximum.reduceat(nc[rows], first).tolist(),
            np.add.reduceat(nc[rows], first).tolist(),
        )
    )
    if cur is not None and rows[0] == 0:
        _, end, n, peak, total = episodes[0]
        episodes[0] = (cur[0], end, cur[2] + n, max(cur[3], peak), cur[4] + total)
    elif cur is not None:
        episodes.insert(0, cur)
    if rows[-1] == len(nc) - 1:
        return episodes[-1], episodes[:-1]
    return None, episodes


def _closed_frame(camera_id, closed):
    start_us, end_us, n_obs, peak, total = np.array(closed, np.int64).T
    return pd.DataFrame(
        {
            "camera_id": [camera_id] * len(closed),
            "episode_start": (start_us * 1000).astype("datetime64[ns]"),
            "episode_end": (end_us * 1000).astype("datetime64[ns]"),
            "n_obs": n_obs,
            "peak": peak,
            "total": total,
        }
    )


def episodes_fn(
    key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-camera episode state function: state = (start_us, end_us,
    n_obs, peak, total, is_open) of the open episode."""
    (camera_id,) = key
    cur: tuple | None = None
    if state.exists:
        start_us, end_us, n_obs, peak, total, is_open = state.get
        if is_open:
            cur = (start_us, end_us, n_obs, peak, total)
    cur, closed = _fold_episodes(cur, pdfs)
    if cur is None:
        state.update((0, 0, 0, 0, 0, False))
    else:
        state.update((*cur, True))
    if closed:
        yield _closed_frame(camera_id, closed)


def congestion_episodes(stream: DataFrame) -> DataFrame:
    return _keyed_input(stream).applyInPandasWithState(
        episodes_fn,
        outputStructType=EPISODE_OUTPUT_SCHEMA,
        stateStructType=_EPISODE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

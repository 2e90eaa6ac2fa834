"""Seeded benchmark fixtures, built from hash arithmetic (no RNG).

Every value is a splitmix64 hash of ``(seed, row id, field tag)``, so a
fixture is a pure function of its arguments: the same ``(rows, seed,
id_offset)`` always gives the same bytes, and tables with disjoint id ranges
never share a ``doc_id``. Fixtures are written with pyarrow (no Spark job),
so generating them leaves the Spark status store untouched.

Tables:

- sequences ``(doc_id, tokens array<int>, n_tok int, source string)`` —
  16-48 tokens per row, 32 sources with ``src0`` holding ~20% of rows, and
  three injected defect families: 1/97 rows duplicated, 1/113 rows with
  ``n_tok`` off by one, 1/131 rows with an unknown source. A delta table
  additionally routes 1/7 of its rows to a new partition and 1/23 to a
  NULL source.
- events ``(event_id, ts, user_id, event_type, value, props)`` — the
  schema of the driver's ``events`` fixture: 1500 users over January 2024,
  exponential-looking values with mean ~50.

Files are cached under ``cache_dir`` keyed by every generator argument; a
file is written to a temporary name and renamed, so an interrupted run never
leaves a torn fixture behind.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
N_SOURCES = 32
ALLOWED_SOURCES = [f"src{i}" for i in range(N_SOURCES)]
NEW_SOURCE = f"src{N_SOURCES}"      # delta-only partition, not in ALLOWED
DUP_EVERY, BAD_NTOK_EVERY, BAD_SOURCE_EVERY = 97, 113, 131
MIN_ROWS = 1000                     # refuse toy fixtures (see require_rows)

_CHUNK = 100_000

# field tags: each derived column hashes a different stream
_T_NTOK, _T_TOK, _T_SRC, _T_DUP, _T_BADN, _T_BADS, _T_DELTA = range(1, 8)
_T_TS, _T_USER, _T_TYPE, _T_VAL, _T_PROP = range(11, 16)

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_T0 = 1704067200              # 2024-01-01 00:00:00 UTC
EVENTS_SPAN_S = 30 * 86400          # up to ENDEP (2024-01-31)
N_USERS = 1500


def require_rows(name: str, value, minimum: int = MIN_ROWS) -> int:
    """Validate a row-count argument: present, integral and not a toy size.

    A missing or tiny count must fail loudly rather than silently produce a
    fixture on which timings mean nothing."""
    if value is None:
        raise ValueError(f"{name}: row count is required")
    if isinstance(value, bool) or not isinstance(value, (int, np.integer)):
        raise ValueError(f"{name}: row count must be an int, got {value!r}")
    if value < minimum:
        raise ValueError(f"{name}: {value} rows is below the {minimum}-row floor")
    return int(value)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _hash(seed: int, ids: np.ndarray, tag: int) -> np.ndarray:
    key = _mix(np.array([(seed * 1_000_003 + tag) & 0xFFFFFFFFFFFFFFFF],
                        dtype=np.uint64))[0]
    return _mix(ids.astype(np.uint64) ^ key)


def _unit(h: np.ndarray) -> np.ndarray:
    """Hash → float in (0, 1] from the top 53 bits."""
    return ((h >> np.uint64(11)).astype(np.float64) + 1.0) / float(1 << 53)


def _seq_chunk(seed: int, ids: np.ndarray, delta: bool) -> pa.Table:
    n_tok = (16 + _hash(seed, ids, _T_NTOK) % np.uint64(33)).astype(np.int32)
    offsets = np.zeros(len(ids) + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    row_of_tok = np.repeat(np.arange(len(ids)), n_tok)
    pos = np.arange(offsets[-1], dtype=np.int64) - offsets[:-1][row_of_tok]
    tok_key = ids[row_of_tok].astype(np.uint64) * np.uint64(64) + pos.astype(np.uint64)
    tokens = (_hash(seed, tok_key, _T_TOK) % np.uint64(VOCAB)).astype(np.int32)

    hs = _hash(seed, ids, _T_SRC)
    src_idx = np.where(hs % np.uint64(5) == 0, 0,
                       (hs >> np.uint64(8)) % np.uint64(N_SOURCES)).astype(np.int64)
    source = np.array(ALLOWED_SOURCES + ["src_unknown", NEW_SOURCE, None],
                      dtype=object)
    bad_src = _hash(seed, ids, _T_BADS) % np.uint64(BAD_SOURCE_EVERY) == 0
    src_idx[bad_src] = N_SOURCES
    if delta:
        hd = _hash(seed, ids, _T_DELTA)
        src_idx[hd % np.uint64(7) == 0] = N_SOURCES + 1
        src_idx[hd % np.uint64(23) == 1] = N_SOURCES + 2

    declared = n_tok.copy()
    declared[_hash(seed, ids, _T_BADN) % np.uint64(BAD_NTOK_EVERY) == 0] += 1

    doc_id = np.char.add(f"doc-{seed}-", ids.astype("U12"))
    table = pa.table({
        "doc_id": pa.array(doc_id, type=pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(tokens)),
        "n_tok": pa.array(declared, type=pa.int32()),
        "source": pa.array(source[src_idx], type=pa.string()),
    })
    dup = np.flatnonzero(_hash(seed, ids, _T_DUP) % np.uint64(DUP_EVERY) == 0)
    return pa.concat_tables([table, table.take(pa.array(dup))])


def _events_chunk(seed: int, ids: np.ndarray) -> pa.Table:
    ts_us = (EVENTS_T0 * 1_000_000
             + (_hash(seed, ids, _T_TS) % np.uint64(EVENTS_SPAN_S * 1_000_000))
             .astype(np.int64))
    order = np.argsort(ts_us, kind="stable")
    user = (_hash(seed, ids, _T_USER) % np.uint64(N_USERS)).astype(np.int64)
    etype = np.array(EVENT_TYPES, dtype=object)[
        (_hash(seed, ids, _T_TYPE) % np.uint64(len(EVENT_TYPES))).astype(np.int64)]
    value = np.round(-50.0 * np.log(_unit(_hash(seed, ids, _T_VAL))), 2)
    props = np.char.add(np.char.add('{"k": ', (_hash(seed, ids, _T_PROP)
                                             % np.uint64(100)).astype("U3")), "}")
    return pa.table({
        "event_id": pa.array(ids.astype(np.int64)),
        "ts": pa.array(ts_us[order], type=pa.timestamp("us")),
        "user_id": pa.array(user[order]),
        "event_type": pa.array(etype[order], type=pa.string()),
        "value": pa.array(value[order]),
        "props": pa.array(props[order], type=pa.string()),
    })


def _write(path: str, chunks) -> str:
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    writer = None
    try:
        for t in chunks:
            if writer is None:
                writer = pq.ParquetWriter(tmp, t.schema)
            writer.write_table(t, row_group_size=_CHUNK // 4)
    finally:
        if writer is not None:
            writer.close()
    os.replace(tmp, path)
    return path


def sequences(cache_dir: str, *, rows: int, seed: int, id_offset: int,
              delta: bool = False) -> str:
    """Parquet file of ``rows`` base sequences (plus injected duplicates),
    ids ``[id_offset, id_offset + rows)``. ``delta=True`` adds the
    new-partition and NULL-source rows of an appended delta."""
    rows = require_rows("sequences", rows)
    name = f"seq_r{rows}_s{seed}_o{id_offset}{'_delta' if delta else ''}.parquet"

    def chunks():
        for lo in range(0, rows, _CHUNK):
            ids = np.arange(id_offset + lo, id_offset + min(rows, lo + _CHUNK),
                            dtype=np.int64)
            yield _seq_chunk(seed, ids, delta)
    return _write(os.path.join(cache_dir, name), chunks())


def events(cache_dir: str, *, rows: int, seed: int) -> str:
    """Directory holding ``events.parquet`` (the layout ``load_table`` and
    the DuckDB oracle expect), one time-ordered row group series."""
    rows = require_rows("events", rows)
    d = os.path.join(cache_dir, f"events_r{rows}_s{seed}")
    _write(os.path.join(d, "events.parquet"),
           [_events_chunk(seed, np.arange(rows, dtype=np.int64))])
    return d

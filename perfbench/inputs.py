"""Seeded benchmark inputs: an events table and the stored transcript corpus.

The events table has the shape of the repository's sf test tables
(``event_id, ts, user_id, event_type, value, props``; 100k rows per 0.1 of
scale factor, 30 days of timestamps, one user per ~67 events) and is drawn
from a fixed generator, so it is the same for every seed. The corpus is
``cca_spark.transcripts.TRANSCRIPTS_SQL`` over those events, run in DuckDB
(the derivation is written in the dialect both engines share), and stored
the way ``cca_spark.bench_corpus.ensure_bench_corpus`` stores it: 128
parquet files hashed on ``conv_id``, each sorted by ``(conv_id, turn_idx)``.

The seed salts ``conv_id`` with a fixed-width suffix, so sizes do not
depend on it. Every file lives under the benchmark's work directory, never
under ``.bench_corpus/``, which belongs to ``bench.py``.
"""

from __future__ import annotations

import hashlib
import os
import shutil

EVENT_TYPES = ("click", "view", "signup", "purchase", "error")
N_FILES = 128
EVENTS_SEED = 20240101  # fixed: the seed must not change sizes or shapes


def seed_salt(seed: int) -> str:
    """Eight hex digits derived from the seed."""
    return hashlib.sha256(f"perfbench:{seed}".encode()).hexdigest()[:8]


def ensure_events(work_dir: str, sf: float) -> str:
    """Write ``<work>/sf<sf>/events.parquet`` once; return the sf directory."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir = os.path.join(work_dir, f"sf{sf:g}")
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.exists(path):
        return sf_dir
    n = int(round(1_000_000 * sf))
    if n < 1:
        raise ValueError(f"scale factor {sf} gives no events")
    rng = np.random.default_rng(EVENTS_SEED)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n * 3 // 200), n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return sf_dir


def ensure_corpus(work_dir: str, sf_dir: str, seed: int) -> str:
    """Write the salted, sorted 128-file corpus once per (sf, seed,
    derivation version); return its directory."""
    import duckdb
    import pyarrow.parquet as pq

    from cca_spark.transcripts import TRANSCRIPTS_SQL, duckdb_transcripts_sql

    dv = hashlib.md5(TRANSCRIPTS_SQL.encode()).hexdigest()[:8]
    tag = os.path.basename(sf_dir)
    path = os.path.join(work_dir, "corpus", f"{tag}_s{seed}_{dv}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    salt = seed_salt(seed)
    sql = f"""
        SELECT conv_id || '#{salt}' AS conv_id, turn_idx, role, text, tool, ts
        FROM ({duckdb_transcripts_sql(sf_dir)})
    """
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb_tmp')}'")
        table = con.execute(
            f"SELECT *, hash(conv_id) % {N_FILES} AS part FROM ({sql}) "
            "ORDER BY part, conv_id, turn_idx"
        ).fetch_arrow_table()
    finally:
        con.close()
    parts = table.column("part").to_numpy()
    table = table.drop(["part"])
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    bounds = [0, *(int(i) for i in (parts[1:] != parts[:-1]).nonzero()[0] + 1), len(parts)]
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        pq.write_table(
            table.slice(lo, hi - lo),
            os.path.join(tmp, f"part-{int(parts[lo]):05d}.parquet"),
        )
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def corpus_signature(path: str) -> str:
    """Digest of the stored corpus bytes (file names and contents)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]

"""Seeded change-event (WAL) generator for the benchmark.

Keeps the stream semantics of ``data_exchange_hl7_spark.datagen`` — op mix out
of 32 (10 INSERT, 14 UPDATE, 3 DELETE, 3 RENAME, 2 schema DDL of which 99% are
demoted to UPDATE), one hot repo holding ~30% of events, ~1% rejects (empty
``commit``), ~2% BOM/whitespace pollution, lsn == event index — but every
draw comes from ``numpy.random.default_rng(seed)``. ``datagen.change_events``
salts only the content bytes with its seed: key assignment, the op draw and
the hot repo use fixed hash salts, so a fresh seed there replays the same key
traffic. Here the seed moves keys, ops and the hot repo.

The key space is smaller than datagen's (``lang`` is a function of the key,
not a per-event draw) so that updates, deletes and renames hit live keys and
the MoR delete/resolve path is exercised, not just inserts.

Pure Python + pyarrow: the generator never touches Spark, so the inputs the
engine reads and the inputs the DuckDB reference reads are the same files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["py", "kt", "scala", "go", "java", "md", "json", "txt"]
N_REPOS = 50
N_DIRS = 4
PATHS_PER_DIR = 100
HOT_REPO_SHARE = 0.30
REJECT_SHARE = 0.01
POLLUTED_SHARE = 0.02
SCHEMA_KEEP_SHARE = 0.01  # datagen keeps 1 in 100 drawn schema events
MAX_LINES = 40

_OPS = ["INSERT", "UPDATE", "DELETE", "RENAME", "SCHEMA_ADD", "SCHEMA_RENAME"]
_OP_WEIGHTS = np.array([10, 14, 3, 3, 1, 1], dtype=float) / 32.0
_EPOCH0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

# canonical WAL envelope: data_exchange_hl7_spark.sources.WAL_FIELDS
WAL_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("lsn", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("repo", pa.string()),
        ("path", pa.string()),
        ("new_path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
        ("schema_field", pa.string()),
        ("supporting_metadata", pa.map_(pa.string(), pa.string())),
        ("batch_id", pa.string()),
        ("message_index", pa.int32()),
        ("event_id", pa.string()),
        ("content_sha256", pa.string()),
    ]
)


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def repo_name(i: int) -> str:
    return f"org-{i:04d}/proj"


def generate(seed: int, n_events: int) -> pa.Table:
    """The first ``n_events`` events of the stream for ``seed`` (lsn 0..n-1).

    The same seed gives the same table byte for byte."""
    rng = np.random.default_rng(seed)
    hot = int(rng.integers(N_REPOS))
    lang_of = rng.integers(len(LANGS), size=(N_REPOS, N_DIRS, PATHS_PER_DIR))

    n = n_events
    is_hot = rng.random(n) < HOT_REPO_SHARE
    cold = rng.integers(N_REPOS - 1, size=n)
    repo_id = np.where(is_hot, hot, cold + (cold >= hot))  # skip the hot id
    dir_id = rng.integers(N_DIRS, size=n)
    path_id = rng.integers(PATHS_PER_DIR, size=n)
    new_path_id = rng.integers(PATHS_PER_DIR, size=n)
    op_id = rng.choice(len(_OPS), size=n, p=_OP_WEIGHTS)
    keep_schema = rng.random(n) < SCHEMA_KEEP_SHARE
    op_id = np.where((op_id >= 4) & ~keep_schema, 1, op_id)  # demote to UPDATE
    attr_id = rng.integers(3, size=n)
    reject = rng.random(n) < REJECT_SHARE
    polluted = rng.random(n) < POLLUTED_SHARE
    n_lines = 1 + rng.integers(MAX_LINES, size=n)
    fn_id = rng.integers(1 << 62, size=n)
    producer = rng.integers(20, size=n)
    meta0 = rng.integers(1 << 62, size=n)
    meta1 = rng.integers(1 << 62, size=n)

    cols: dict[str, list] = {f.name: [] for f in WAL_SCHEMA}
    for i in range(n):
        op = _OPS[op_id[i]]
        r, d, p = int(repo_id[i]), int(dir_id[i]), int(path_id[i])
        repo = repo_name(r)
        path = f"src/d{d}/mod_{p:03d}.{LANGS[lang_of[r, d, p]]}"
        new_path = None
        if op == "RENAME":
            q = int(new_path_id[i])
            new_path = f"src/d{d}/mod_{q:03d}.{LANGS[lang_of[r, d, q]]}"
        content = None
        if op != "DELETE":
            line = f"def fn_{int(fn_id[i]):x} (x): {_sha(f'{i}:{seed}')}"
            content = "\n".join([line] * int(n_lines[i]))
            if polluted[i]:
                content = "﻿  " + content + "  \n"
        commit = "" if reject[i] else _sha(f"{repo}|{path}|{i}")[:40]
        schema_field = None
        if op == "SCHEMA_ADD":
            schema_field = f"attr_{attr_id[i]}"
        elif op == "SCHEMA_RENAME":
            schema_field = "attr_0"
        cols["op"].append(op)
        cols["lsn"].append(i)
        cols["ts"].append(_EPOCH0 + dt.timedelta(seconds=7 * i))
        cols["repo"].append(repo)
        cols["path"].append(path)
        cols["new_path"].append(new_path)
        cols["commit"].append(commit)
        cols["lang"].append(path.rsplit(".", 1)[1])
        cols["content"].append(content)
        cols["schema_field"].append(schema_field)
        cols["supporting_metadata"].append(
            [
                ("producer", f"src{producer[i]}"),
                ("attr_0", f"{int(meta0[i]):x}"),
                ("attr_1", f"{int(meta1[i]):x}"),
            ]
        )
        cols["batch_id"].append(f"b{i // 16}")
        cols["message_index"].append(i % 16 + 1)
        cols["event_id"].append(_sha(f"{repo}|{path}|{i}"))
        cols["content_sha256"].append(_sha(content or ""))
    return pa.table(cols, schema=WAL_SCHEMA)


def write_files(table: pa.Table, out_dir: str, bounds: list[int]) -> list[str]:
    """Write one parquet WAL file per lsn range ``[bounds[k], bounds[k+1])``.

    File modification times increase with the range, so a directory tail
    (Spark's file stream source orders by mtime) delivers them in lsn order.
    Returns the file paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    lsn = table.column("lsn").to_numpy()
    paths = []
    base = 1_700_000_000
    for k, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        idx = np.nonzero((lsn >= lo) & (lsn < hi))[0]
        path = os.path.join(out_dir, f"wal-{lo:010d}-{hi:010d}.parquet")
        pq.write_table(table.take(pa.array(idx)), path)
        os.utime(path, (base + k, base + k))
        paths.append(path)
    return paths


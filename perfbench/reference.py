"""Independent correctness reference: DuckDB over the same WAL files.

Re-derives the final table state from the raw WAL with none of the engine's
code: the reject rule, BOM/whitespace cleanup, RENAME as delete + upsert, the
latest row per key by (lsn, ts, event_id), tombstones dropped. States are
compared by row count plus an order-independent digest of
(repo, path, content_sha256, last_lsn).
"""

from __future__ import annotations

import hashlib

import duckdb

# operators.normalize.TRIM_SET: BOM + ASCII whitespace
_TRIM = "﻿ \t\n\x0b\f\r"
_KNOWN_OPS = (
    "INSERT", "UPDATE", "DELETE", "RENAME",
    "SCHEMA_ADD", "SCHEMA_RENAME", "SCHEMA_WIDEN",
)

# Structure errors reject an event (operators.validate: missing commit on a
# data event, unknown op, RENAME without new_path, upsert without content).
_STATE_SQL = """
WITH ev AS (
    SELECT op, lsn, ts, repo, path, new_path, event_id, commit,
           trim(content, $trim) AS content
    FROM read_parquet($files)
    WHERE lsn < $max_lsn
), accepted AS (
    SELECT * FROM ev
    WHERE NOT (
        (coalesce(trim(commit), '') = '' AND NOT starts_with(op, 'SCHEMA'))
        OR NOT list_contains($known_ops, op)
        OR (op = 'RENAME' AND new_path IS NULL)
        OR (op NOT IN ('DELETE', 'SCHEMA_ADD', 'SCHEMA_RENAME', 'SCHEMA_WIDEN')
            AND coalesce(content, '') = '')
    )
    AND NOT starts_with(op, 'SCHEMA')
), flat AS (
    SELECT repo, path, op = 'DELETE' AS tomb, lsn, ts, event_id, content
    FROM accepted WHERE op <> 'RENAME'
    UNION ALL
    SELECT repo, path, true, lsn, ts, event_id, NULL
    FROM accepted WHERE op = 'RENAME' AND new_path <> path
    UNION ALL
    SELECT repo, new_path, false, lsn, ts, event_id, content
    FROM accepted WHERE op = 'RENAME'
), latest AS (
    SELECT * FROM flat
    QUALIFY row_number() OVER (
        PARTITION BY repo, path ORDER BY lsn DESC, ts DESC, event_id DESC
    ) = 1
)
SELECT repo, path, tomb, sha256(coalesce(content, '')) AS content_sha256,
       lsn AS last_lsn, strlen(coalesce(content, '')) AS content_bytes
FROM latest
"""


class ReferenceState:
    """Per-key final state of a WAL prefix: live rows and tombstoned keys."""

    def __init__(self, files: list[str], max_lsn: int):
        with duckdb.connect() as con:
            rows = con.execute(
                _STATE_SQL,
                {
                    "files": files,
                    "max_lsn": max_lsn,
                    "trim": _TRIM,
                    "known_ops": list(_KNOWN_OPS),
                },
            ).fetchall()
        self.live: dict[tuple[str, str], tuple[str, int]] = {}
        self.deleted: set[tuple[str, str]] = set()
        self.live_bytes = 0
        for repo, path, tomb, sha, lsn, nbytes in rows:
            if tomb:
                self.deleted.add((repo, path))
            else:
                self.live[(repo, path)] = (sha, lsn)
                self.live_bytes += row_bytes(repo, path, nbytes)

    def rows(self) -> list[tuple[str, str, str, int]]:
        return [(r, p, sha, lsn) for (r, p), (sha, lsn) in self.live.items()]

    def digest(self) -> tuple[int, str]:
        return state_digest(self.rows())


def row_bytes(repo: str, path: str, content_bytes: int) -> int:
    """Logical bytes of one live row: key + content + sha hex + commit hex
    (40) + lang (~4) + size/lsn/ts (4 + 8 + 8)."""
    return len(repo) + len(path) + content_bytes + 64 + 40 + 4 + 20


def state_digest(rows) -> tuple[int, str]:
    """Order-independent digest of (repo, path, content_sha256, last_lsn)
    rows: row count and the sum mod 2**64 of each row's sha256 prefix."""
    acc = 0
    n = 0
    for repo, path, sha, lsn in rows:
        h = hashlib.sha256(f"{repo}\x1f{path}\x1f{sha}\x1f{int(lsn)}".encode())
        acc = (acc + int.from_bytes(h.digest()[:8], "big")) % (1 << 64)
        n += 1
    return n, f"{acc:016x}"


def bad_content_hashes(arrow_table) -> int:
    """Rows of a table read whose content_sha256 is not sha256(content)."""
    with duckdb.connect() as con:
        con.register("t", arrow_table)
        return con.execute(
            "SELECT count(*) FROM t "
            "WHERE sha256(coalesce(content, '')) <> content_sha256"
        ).fetchone()[0]

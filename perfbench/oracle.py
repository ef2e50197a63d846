"""Independent expected state: a DuckDB last-writer-wins query over the
generated change events, sharing no code with the engine.

The fingerprint is the repository's oracle definition: an
order-insensitive sha256 over ``(repo, path, sha256(content), commit,
lang)`` of every live row.
"""

from __future__ import annotations

import hashlib

import duckdb

# Live rows of repos.files after replaying ``ev`` (a DuckDB relation of
# CHANGE_SCHEMA rows) in gtid order. TRUNCATE of the observed table kills
# every earlier row; an UPDATE that changes the key deletes the old key.
_STATE_SQL = """
WITH ev AS (
  SELECT * FROM {src} WHERE gtid <= {max_gtid}
    AND schema_name = 'repos' AND table_name = 'files'
),
t AS (SELECT coalesce(max(gtid), -1) AS tg FROM ev WHERE op = 'TRUNCATE'),
recs AS (
  SELECT after.repo AS repo, after.path AS path, gtid, true AS live,
         after.commit AS commit, after.lang AS lang, after.content AS content
  FROM ev, t WHERE gtid > t.tg AND op IN ('INSERT', 'UPDATE')
  UNION ALL
  SELECT before.repo, before.path, gtid, false, NULL, NULL, NULL
  FROM ev, t WHERE gtid > t.tg AND (op = 'DELETE' OR (op = 'UPDATE' AND (
    before.repo IS DISTINCT FROM after.repo
    OR before.path IS DISTINCT FROM after.path)))
),
win AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY gtid DESC) AS rn
  FROM recs
)
SELECT repo, path, commit, lang, sha256(content) AS csha
FROM win WHERE rn = 1 AND live
"""


def fingerprint(rows) -> str:
    """rows: (repo, path, commit, lang, content_sha256_hex_or_None)."""
    lines = sorted(
        "|".join((r[0], r[1], r[4] if r[4] is not None else "null", r[2] or "", r[3] or ""))
        for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update((ln + "\n").encode())
    return h.hexdigest()


class Oracle:
    """Expected table state over the change events of a parquet archive
    (a path, read with pyarrow: DuckDB lacks the engine's default Hadoop
    LZ4 codec) or of an in-memory Arrow table."""

    def __init__(self, events):
        if isinstance(events, str):
            import pyarrow.parquet as pq

            events = pq.read_table(events)
        self.con = duckdb.connect()
        self.con.register("events", events)
        self.src = "events"

    def state(self, max_gtid: int | None = None) -> dict[tuple[str, str], tuple]:
        """{(repo, path): (commit, lang, content_sha)} of live rows after
        every event with gtid <= ``max_gtid`` (all events when None)."""
        bound = "9223372036854775807" if max_gtid is None else str(int(max_gtid))
        rows = self.con.execute(_STATE_SQL.format(src=self.src, max_gtid=bound)).fetchall()
        return {(r[0], r[1]): (r[2], r[3], r[4]) for r in rows}

    def rows_as_of(self, probes: list[tuple[str, str, int]]) -> list[tuple | None]:
        """Per (repo, path, max_gtid) probe: the key's live row
        ``(commit, lang, content_sha)`` after events <= max_gtid, or None."""
        if not probes:
            return []
        self.con.execute("CREATE OR REPLACE TEMP TABLE probes "
                         "(i INTEGER, repo VARCHAR, path VARCHAR, g BIGINT)")
        self.con.executemany("INSERT INTO probes VALUES (?, ?, ?, ?)",
                             [(i, r, p, g) for i, (r, p, g) in enumerate(probes)])
        q = f"""
        WITH ev AS (SELECT * FROM {self.src}
                    WHERE schema_name = 'repos' AND table_name = 'files'),
        recs AS (
          SELECT after.repo AS repo, after.path AS path, gtid, true AS live,
                 after.commit AS commit, after.lang AS lang, after.content AS content
          FROM ev WHERE op IN ('INSERT', 'UPDATE')
          UNION ALL
          SELECT before.repo, before.path, gtid, false, NULL, NULL, NULL
          FROM ev WHERE op = 'DELETE' OR (op = 'UPDATE' AND (
            before.repo IS DISTINCT FROM after.repo
            OR before.path IS DISTINCT FROM after.path))
        ),
        trunc AS (SELECT gtid FROM ev WHERE op = 'TRUNCATE'),
        hit AS (
          SELECT p.i, r.live, r.commit, r.lang, sha256(r.content) AS csha,
                 row_number() OVER (PARTITION BY p.i ORDER BY r.gtid DESC) AS rn
          FROM probes p JOIN recs r
            ON r.repo = p.repo AND r.path = p.path AND r.gtid <= p.g
          WHERE r.gtid > coalesce((SELECT max(t.gtid) FROM trunc t WHERE t.gtid <= p.g), -1)
        )
        SELECT i, commit, lang, csha FROM hit WHERE rn = 1 AND live
        """
        found = {r[0]: (r[1], r[2], r[3]) for r in self.con.execute(q).fetchall()}
        return [found.get(i) for i in range(len(probes))]

    def close(self) -> None:
        self.con.close()

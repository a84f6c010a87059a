"""Independent oracle: the expected tables, computed in DuckDB from the
generated log, and the comparison against what the engine wrote.

Nothing here imports the engine. The fold is the binlog's last-writer-wins
rule stated declaratively: per key, the newest reset (I or D) bounds the
live events; per cell, the newest live write wins; a key whose last event
is a D is absent.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa


class Oracle:
    def __init__(self, events: pa.Table, columns: list[str]):
        self.columns = columns
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        ordered = events.append_column("_ord", pa.array(np.arange(events.num_rows, dtype=np.int64)))
        self.con.register("ev_all", ordered)
        self.con.execute(
            "CREATE TABLE ev AS SELECT repo, path, op, after, gtid_seq, schema_version, ts, _ord "
            "FROM ev_all WHERE op IN ('I', 'U', 'D')"
        )

    def expected_sql(self, max_gtid: int | None = None) -> str:
        bound = "" if max_gtid is None else f"WHERE gtid_seq <= {int(max_gtid)}"
        cells = ",\n".join(
            f"arg_max(r.after['{c}'][1], r._ord) FILTER "
            f"(WHERE r._ord >= k.reset AND len(r.after['{c}']) > 0) AS \"{c}\""
            for c in self.columns
        )
        return f"""
            WITH r AS (SELECT * FROM ev {bound}),
            k AS (
                SELECT repo, path,
                       arg_max(op, _ord) AS row_status,
                       arg_max(gtid_seq, _ord) AS gtid_seq,
                       arg_max(schema_version, _ord) AS schema_version,
                       coalesce(max(_ord) FILTER (WHERE op IN ('I', 'D')), -1) AS reset
                FROM r GROUP BY repo, path
            )
            SELECT r.repo, r.path, {cells},
                   any_value(k.row_status) AS row_status,
                   any_value(k.gtid_seq) AS gtid_seq,
                   any_value(k.schema_version) AS schema_version
            FROM r JOIN k USING (repo, path)
            WHERE k.row_status <> 'D'
            GROUP BY r.repo, r.path
        """

    def live_count(self, max_gtid: int | None = None) -> int:
        bound = "" if max_gtid is None else f"WHERE gtid_seq <= {int(max_gtid)}"
        return self.con.execute(
            f"SELECT count(*) FROM (SELECT arg_max(op, _ord) AS o FROM ev {bound} "
            "GROUP BY repo, path) WHERE o <> 'D'"
        ).fetchone()[0]

    def changelog_count(self, day: str) -> int:
        return self.con.execute(
            "SELECT count(*) FROM ev WHERE strftime(ts AT TIME ZONE 'UTC', '%Y%m%d') = ?", [day]
        ).fetchone()[0]

    def days(self) -> list[str]:
        return [
            r[0]
            for r in self.con.execute(
                "SELECT DISTINCT strftime(ts AT TIME ZONE 'UTC', '%Y%m%d') d FROM ev ORDER BY d"
            ).fetchall()
        ]

    def compare(self, got: pa.Table, expected_sql: str | None = None) -> dict:
        """Row count, per-row sha256(content), every business cell and the
        lineage columns the fold defines. Returns mismatch counts (all zero
        when the tables agree)."""
        self.con.register("got", got)
        exp = expected_sql or self.expected_sql()
        cell_diff = " OR ".join(f'e."{c}" IS DISTINCT FROM g."{c}"' for c in self.columns)
        row = self.con.execute(
            f"""
            WITH e AS ({exp})
            SELECT
              (SELECT count(*) FROM e) AS n_expected,
              (SELECT count(*) FROM got) AS n_got,
              count(*) FILTER (WHERE e.repo IS NULL) AS extra,
              count(*) FILTER (WHERE g.repo IS NULL) AS missing,
              count(*) FILTER (WHERE e.repo IS NOT NULL AND g.repo IS NOT NULL
                               AND sha256(e.content) IS DISTINCT FROM sha256(g.content)) AS sha_diff,
              count(*) FILTER (WHERE e.repo IS NOT NULL AND g.repo IS NOT NULL
                               AND ({cell_diff})) AS cell_diff,
              count(*) FILTER (WHERE e.repo IS NOT NULL AND g.repo IS NOT NULL
                               AND (e.row_status IS DISTINCT FROM g.row_status
                                    OR e.gtid_seq IS DISTINCT FROM g.gtid_seq)) AS lineage_diff
            FROM e FULL OUTER JOIN got g ON e.repo = g.repo AND e.path = g.path
            """
        ).fetchone()
        self.con.unregister("got")
        n_exp, n_got, extra, missing, sha, cells, lin = row
        return {
            "n_expected": n_exp,
            "n_got": n_got,
            "extra_rows": extra,
            "missing_rows": missing,
            "sha256_mismatch": sha,
            "cell_mismatch": cells,
            "lineage_mismatch": lin,
        }

    def epoch_status_counts(self, bounds: list[int]) -> dict[str, int]:
        """Expected sink lineage totals: each committed epoch holds the
        row events with gtid in (previous bound, bound]; per epoch, a key
        counts once, under the op of its last event."""
        edges = pa.table({"b": pa.array(sorted(bounds), type=pa.int64())})
        self.con.register("edges", edges)
        rows = self.con.execute(
            """
            WITH e AS (
              SELECT ev.repo, ev.path, ev.op, ev._ord, edges.b AS epoch
              FROM ev ASOF JOIN edges ON ev.gtid_seq <= edges.b
            )
            SELECT status, count(*) FROM (
              SELECT arg_max(op, _ord) AS status FROM e WHERE epoch IS NOT NULL
              GROUP BY epoch, repo, path
            ) GROUP BY status
            """
        ).fetchall()
        self.con.unregister("edges")
        out = {"n_I": 0, "n_U": 0, "n_D": 0}
        for status, n in rows:
            out["n_" + status] = n
        return out

    def close(self) -> None:
        self.con.close()

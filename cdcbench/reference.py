"""Independent correctness check: replay the changelog parquet with DuckDB.

The reference shares no code with the engine. It applies last-writer-wins
per (repo, path) by LSN, drops deleted keys, ignores redelivered
(key, LSN) rows and poison rows, and applies DDL in LSN order. The engine's
table is compared row by row on sha256(content), commit and lang, and on the
final column list.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

BASE_COLUMNS = ["repo", "path", "commit", "lang", "content"]
_DATA_OPS = "('insert', 'update', 'delete')"
# the engine's poison rule: a non-DDL row with a null key part or an op it
# does not know (null-safe: a NULL op is poison, not DDL)
_POISON = ("op IS DISTINCT FROM 'schema_change' AND (repo IS NULL OR "
           "path IS NULL OR op IS NULL OR op NOT IN "
           "('insert', 'update', 'delete', 'upsert'))")


class Reference:
    def __init__(self, log_files: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        files = ", ".join(f"'{p}'" for p in log_files)
        self.con.execute(f"CREATE VIEW log AS SELECT * FROM read_parquet([{files}])")

    def close(self) -> None:
        self.con.close()

    def columns(self, bound: int) -> list[str]:
        extras: list[str] = []
        rows = self.con.execute(
            "SELECT DISTINCT lsn, sc_kind, sc_column, sc_new_name FROM log "
            "WHERE op = 'schema_change' AND lsn <= ? ORDER BY lsn",
            [bound]).fetchall()
        for _lsn, kind, col, new in rows:
            if kind == "add_column" and col not in extras:
                extras.append(col)
            elif kind == "rename_column" and col in extras:
                extras[extras.index(col)] = new
        return BASE_COLUMNS + extras

    def count(self, slices: list[tuple[int, int]], poison: bool) -> int:
        """Rows delivered in the ``(lo, hi]`` slices, every delivery
        counted; ``poison=True`` counts only poison rows."""
        total = 0
        where = f" AND {_POISON}" if poison else ""
        for lo, hi in slices:
            total += self.con.execute(
                f"SELECT count(*) FROM log WHERE lsn > ? AND lsn <= ?{where}",
                [lo, hi]).fetchone()[0]
        return total

    def compare(self, engine: pa.Table, engine_columns: list[str],
                bound: int) -> list[str]:
        """Problems found comparing the engine's table with the replay up to
        ``bound``; an empty list means they agree.

        ``engine`` holds repo, path, commit, lang, ``h`` (hex sha256 of
        content) and ``extras_set`` (how many DDL-added columns are
        non-null in the row; the changelog carries no values for them)."""
        problems = []
        expected_columns = self.columns(bound)
        if engine_columns != expected_columns:
            problems.append(f"columns {engine_columns} != {expected_columns}")
        self.con.register("engine", engine)
        try:
            exp_rows, dup_keys, bad = self.con.execute(f"""
                WITH ev AS (
                    SELECT DISTINCT lsn, op, repo, path, commit, lang, content
                    FROM log
                    WHERE lsn <= ? AND op IN {_DATA_OPS}
                      AND repo IS NOT NULL AND path IS NOT NULL),
                last AS (
                    SELECT * FROM ev QUALIFY row_number() OVER (
                        PARTITION BY repo, path ORDER BY lsn DESC) = 1),
                ref AS (
                    SELECT repo, path, commit, lang, sha256(content) AS h
                    FROM last WHERE op <> 'delete'),
                eng AS (SELECT * FROM engine)
                SELECT (SELECT count(*) FROM ref),
                       (SELECT count(*) FROM (SELECT repo, path FROM eng
                          GROUP BY repo, path HAVING count(*) > 1)),
                       (SELECT count(*) FROM ref FULL OUTER JOIN eng
                          USING (repo, path)
                        WHERE ref.h IS DISTINCT FROM eng.h
                           OR ref.commit IS DISTINCT FROM eng.commit
                           OR ref.lang IS DISTINCT FROM eng.lang
                           OR coalesce(eng.extras_set, 0) <> 0)
            """, [bound]).fetchone()
        finally:
            self.con.unregister("engine")
        if dup_keys:
            problems.append(f"{dup_keys} keys appear more than once")
        if bad:
            problems.append(f"{bad} of {exp_rows} expected rows differ "
                            f"(engine has {engine.num_rows})")
        return problems


def engine_digest(spark, df, columns: list[str]) -> pa.Table:
    """The engine table in the shape ``Reference.compare`` takes; content is
    hashed in Spark so only digests leave the JVM."""
    from pyspark.sql import functions as F
    extras = [c for c in columns if c not in BASE_COLUMNS]
    set_count = F.lit(0)
    for c in extras:
        set_count = set_count + F.col(c).isNotNull().cast("int")
    return df.select("repo", "path", "commit", "lang",
                     F.sha2(F.col("content"), 256).alias("h"),
                     set_count.alias("extras_set")).toArrow()

"""DuckDB oracles over the generated files.

Query answers come from the registry's own oracle SQL. The IVF-PQ
oracle embeds centroids fitted from a list of known corpus
directories at import time; the generated corpus is not on that
list, so its oracle is rebuilt by the same registry generator with
the generated directory as the one known corpus.

The ingest checks restate the batch pipeline's rules in SQL over the
landed CSV files and compare, file by file, with what the archive,
quarantine and ledger roots hold.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pandas as pd

#: Cleaning and validation constants shared with the ingest batch.
PROCESSED_AT = "2026-01-01 00:00:00"
VALUE_RANGE = (0, 150)
ALERT_MIN_SUCCESS = 90.0


def connect(data_dir: Path, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')"
        )
    return con


def oracle_sql(names: list[str], data_dir: Path) -> dict[str, str]:
    from etl_jobs_spark import registry

    oracles = registry.all_oracles()
    out = {n: oracles[n] for n in names}
    if "embed_ivfpq_topk" in out:
        from etl_jobs_spark.queries import similarity

        known = similarity._ORACLE_SF_DIRS
        similarity._ORACLE_SF_DIRS = (str(data_dir),)
        try:
            out["embed_ivfpq_topk"] = similarity._ivfpq_oracle()
        finally:
            similarity._ORACLE_SF_DIRS = known
    return out


def answers(con, sql: dict[str, str]) -> dict[str, pd.DataFrame]:
    return {n: con.sql(q).df() for n, q in sql.items()}


# ---------------------------------------------------------------- ingest

class IngestOracle:
    """The landed CSV files, read once, judged by the batch rules and
    joined to the batch each file was committed in."""

    def __init__(self, landed: list[Path], file_batch: dict[str, int]):
        self.con = con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        listed = ", ".join(f"'{f}'" for f in landed)
        lo, hi = VALUE_RANGE
        con.execute(
            f"""CREATE TABLE feed AS
            SELECT event_id, ts, user_id, event_type, value,
                   parse_filename(filename) AS file,
                   coalesce(value IS NOT NULL, false) AS ok_required,
                   coalesce(trim(event_type) <> '', false) AS ok_nonempty,
                   coalesce(value BETWEEN {lo} AND {hi}, false) AS ok_range
            FROM read_csv([{listed}], header = true, filename = true, auto_detect = false,
                delim = ',', quote = '"', escape = '"',
                columns = {{'event_id': 'BIGINT', 'ts': 'TIMESTAMP', 'user_id': 'BIGINT',
                           'event_type': 'VARCHAR', 'value': 'DOUBLE'}})"""
        )
        con.execute("CREATE TABLE placed (file VARCHAR, batch BIGINT)")
        if file_batch:
            con.executemany("INSERT INTO placed VALUES (?, ?)", list(file_batch.items()))

    def quality(self) -> dict[int, tuple[int, int, float, bool]]:
        """batch -> (total, valid, success rate, should alert): the
        oracle of each batch's quality-metrics and alert step."""
        rows = self.con.sql(
            """SELECT batch, count(*),
                      count(*) FILTER (WHERE ok_required AND ok_nonempty AND ok_range)
               FROM feed JOIN placed USING (file) GROUP BY batch"""
        ).fetchall()
        out = {}
        for batch, total, valid in rows:
            rate = round(valid * 100.0 / total, 6)
            out[batch] = (total, valid, rate, rate < ALERT_MIN_SUCCESS)
        return out

    def _mismatched_files(self, expected: str, actual: str, cols: list[str]) -> set[str]:
        """Files whose expected rows differ from the rows found, by a
        symmetric difference keyed back to the file via event_id."""
        sel = ", ".join(cols)
        rows = self.con.sql(
            f"""WITH e AS (SELECT {sel} FROM ({expected})),
                     a AS (SELECT {sel} FROM ({actual})),
                     diff AS ((SELECT * FROM e EXCEPT ALL SELECT * FROM a)
                              UNION ALL
                              (SELECT * FROM a EXCEPT ALL SELECT * FROM e))
                SELECT DISTINCT coalesce(f.file, '?') FROM diff
                LEFT JOIN feed f USING (event_id)"""
        ).fetchall()
        return {r[0] for r in rows}

    def mismatched_files(self, archive: Path, quarantine: Path, ledger: Path) -> set[str]:
        """Names of landed files whose rows are wrong in any output root
        (content, batch placement, or missing); '?' marks rows that no
        landed file explains."""
        ok = "ok_required AND ok_nonempty AND ok_range"
        expected_archive = f"""
            SELECT event_id, ts, user_id, upper(event_type) AS event_type, value,
                   round(1.0 - ((event_id IS NULL)::INT + (ts IS NULL)::INT + (user_id IS NULL)::INT
                                + (event_type IS NULL)::INT + (value IS NULL)::INT) / 5.0, 6)::DOUBLE
                     AS quality_score,
                   TIMESTAMP '{PROCESSED_AT}' AS processed_at, batch
            FROM feed JOIN placed USING (file) WHERE {ok}"""
        expected_quarantine = f"""
            SELECT event_id, ts, user_id, event_type, value,
                   concat_ws(',',
                     CASE WHEN NOT ok_required THEN 'required_value' END,
                     CASE WHEN NOT ok_nonempty THEN 'nonempty_event_type' END,
                     CASE WHEN NOT ok_range THEN 'range_value' END) AS reject_reasons,
                   batch
            FROM feed JOIN placed USING (file) WHERE NOT ({ok})"""
        expected_ledger = f"""SELECT event_id, user_id, upper(event_type) AS event_type, value
                              FROM feed WHERE {ok}"""
        parquet = "SELECT * FROM read_parquet('{}/*/*.parquet', hive_partitioning = true)"
        actual_ledger = f"""SELECT * FROM read_json('{ledger}/*.json', format = 'newline_delimited',
            columns = {{'event_id': 'BIGINT', 'user_id': 'BIGINT', 'event_type': 'VARCHAR',
                       'value': 'DOUBLE'}})"""
        bad: set[str] = set()
        for exp, act, cols in (
            (expected_archive, parquet.format(archive),
             ["event_id", "ts", "user_id", "event_type", "value", "quality_score", "processed_at", "batch"]),
            (expected_quarantine, parquet.format(quarantine),
             ["event_id", "ts", "user_id", "event_type", "value", "reject_reasons", "batch"]),
            (expected_ledger, actual_ledger, ["event_id", "user_id", "event_type", "value"]),
        ):
            bad |= self._mismatched_files(exp, act, cols)
        return bad

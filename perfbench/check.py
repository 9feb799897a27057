"""Final-state checks against the engine-independent DuckDB oracle.

The engine's user-visible state is written to parquet (outside any timed
region) and compared with ``cdc.oracle.expected_state_sql`` evaluated by
DuckDB over the feed parquet the engine read: row counts, exact multiset
equality in both directions, and a digest of each conversation's turn texts
concatenated in turn order.
"""

from __future__ import annotations

import duckdb

from openmrs_module_epts_etl_spark.cdc.oracle import expected_state_sql

KEY = ("conv_id", "turn_idx")


def _cols(payload: list[str]) -> str:
    # timestamps compare as epoch micros: Spark writes them UTC-adjusted
    # (TIMESTAMPTZ to DuckDB) whatever the source parquet carried
    return ", ".join(["conv_id", "turn_idx"] + [f"epoch_us({c}) AS {c}" if c == "ts" else c for c in payload])


def _compare(con, left: str, right: str, payload: list[str]) -> dict:
    cols = _cols(payload)
    con.execute(f"CREATE OR REPLACE TEMP VIEW l AS SELECT {cols} FROM ({left})")
    con.execute(f"CREATE OR REPLACE TEMP VIEW r AS SELECT {cols} FROM ({right})")
    digest = (
        "SELECT md5(string_agg(d, '|' ORDER BY conv_id)) FROM ("
        " SELECT conv_id, string_agg(turn_idx || '=' || coalesce(text, '<null>'), ','"
        " ORDER BY turn_idx) AS d FROM {} GROUP BY conv_id)"
    )
    row = con.execute(
        "SELECT (SELECT count(*) FROM l), (SELECT count(*) FROM r),"
        " (SELECT count(*) FROM (SELECT * FROM l EXCEPT ALL SELECT * FROM r)),"
        " (SELECT count(*) FROM (SELECT * FROM r EXCEPT ALL SELECT * FROM l)),"
        f" ({digest.format('l')}) = ({digest.format('r')})"
    ).fetchone()
    out = {
        "rows_engine": row[0], "rows_expected": row[1],
        "missing_or_wrong": row[3], "unexpected": row[2], "turn_text_digest_equal": bool(row[4]),
    }
    out["ok"] = (
        row[0] == row[1] and row[2] == 0 and row[3] == 0 and out["turn_text_digest_equal"]
    )
    return out


def check_against_oracle(state_parquet: str, feed_glob: str, payload: list[str],
                         max_delivery_seq: int | None = None, scratch: str | None = None,
                         threads: int = 2) -> dict:
    """``state_parquet``: the engine's user-visible state. ``feed_glob``: every
    event the engine was given. ``max_delivery_seq`` restricts the oracle to
    the epochs actually applied (a time-bounded replay stops early); the
    applied prefix is then copied to ``scratch`` first."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {int(threads)}")
        if scratch is not None:
            con.execute(f"SET temp_directory = '{scratch}.tmp'")
        if max_delivery_seq is not None:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{feed_glob}') WHERE delivery_seq < {int(max_delivery_seq)})"
                f" TO '{scratch}' (FORMAT parquet)"
            )
            feed_glob = scratch
        return _compare(
            con, f"SELECT * FROM read_parquet('{state_parquet}')",
            expected_state_sql(feed_glob, payload), payload,
        )
    finally:
        con.close()


def check_tables_equal(left_parquet: str, right_parquet: str, payload: list[str], threads: int = 2) -> dict:
    """The follower's downstream state against the upstream's."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {int(threads)}")
        return _compare(
            con, f"SELECT * FROM read_parquet('{left_parquet}')",
            f"SELECT * FROM read_parquet('{right_parquet}')", payload,
        )
    finally:
        con.close()

"""End-to-end verify driver: exercises the public package surface.

Flow 1: CDC end-to-end — generate a 20k-event feed (schema evolution
mid-stream, 2000-lsn out-of-order window), run the pipeline with
kill/resume, fenced-replay check, DuckDB oracle final-state equality.
Flow 2: driver contract — entry(spark) + spot-check queries vs oracle_sql.
Run: PYTHONPATH=/root/repo python tools/verify_drive.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from openmrs_module_epts_etl_spark.session import get_spark
from openmrs_module_epts_etl_spark.cdc import (
    CdcPipeline,
    FeedSpec,
    PipelineConfig,
    generate_feed,
    transcript_schema,
)
from openmrs_module_epts_etl_spark.cdc.schemas import payload_columns
from openmrs_module_epts_etl_spark.lake import LakeTable, bucket, days

import __spark_entry__ as entrymod


def flow1_cdc(spark, root: str) -> None:
    spec = FeedSpec(n_events=20_000, n_convs=120, max_turns=40,
                    out_of_order_window=2000, schema_evolution_lsn=10_000)
    feed = generate_feed(spark, spec)
    feed_dir = os.path.join(root, "feed")
    feed.write.parquet(feed_dir)
    feed = spark.read.parquet(feed_dir)

    tbl_dir = os.path.join(root, "tbl")
    ckpt = os.path.join(root, "ckpt")
    LakeTable.create(spark, tbl_dir, transcript_schema(evolved=False),
                     [days("ts"), bucket(8, "conv_id")])

    cfg = PipelineConfig(table_path=tbl_dir, checkpoint_dir=ckpt, batch_size=4000)
    r1 = CdcPipeline(spark, cfg).run(feed, max_epochs=2)
    assert len(r1) == 2, r1
    # Fresh pipeline object, same checkpoint: must CONTINUE, not redo.
    r2 = CdcPipeline(spark, cfg).run(feed)
    assert len(r2) >= 1, "resume must continue"
    v_done = LakeTable(spark, tbl_dir).version

    # Replay with a FRESH checkpoint: every epoch fenced, version unchanged.
    cfg2 = PipelineConfig(table_path=tbl_dir, checkpoint_dir=os.path.join(root, "ckpt2"),
                          batch_size=4000)
    CdcPipeline(spark, cfg2).run(feed)
    assert LakeTable(spark, tbl_dir).version == v_done, "version moved on fenced replay"

    # Oracle: DuckDB max-lsn reduction of the raw feed.
    table = LakeTable(spark, tbl_dir)
    pcols = [
        c for c in payload_columns(table.schema)
        if c not in ("conv_id", "turn_idx") and not c.startswith("_")
    ]
    got = (
        table.read(include_hidden=False)
        .select("conv_id", "turn_idx", *pcols)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    cols = ", ".join(pcols)
    want = con.execute(f"""
        WITH ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
            FROM read_parquet('{feed_dir}/*.parquet', union_by_name=true))
        SELECT conv_id, turn_idx, {cols}
        FROM ranked WHERE rn = 1 AND op IN ('I','U')
        ORDER BY conv_id, turn_idx
    """).df().reset_index(drop=True)
    for df in (got, want):
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    print(f"flow1 OK: {len(got)} final rows match DuckDB oracle; replay fenced at v{v_done}")

    # MoR with per-epoch dedupe-appends: same oracle state from the other
    # ingest mode + the PipelineConfig.mor_dedupe_appends knob.
    from openmrs_module_epts_etl_spark.cdc import read_state

    mor_dir = os.path.join(root, "tbl-mor-dd")
    LakeTable.create(spark, mor_dir, transcript_schema(evolved=False),
                     [days("ts"), bucket(8, "conv_id")])
    cfg3 = PipelineConfig(
        table_path=mor_dir, checkpoint_dir=os.path.join(root, "ckpt3"),
        batch_size=4000, mode="mor", compact_every=3, mor_dedupe_appends=True,
    )
    CdcPipeline(spark, cfg3).run(feed)
    got_mor = (
        read_state(LakeTable(spark, mor_dir))
        .select("conv_id", "turn_idx", *pcols)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    for c in got_mor.columns:
        if pd.api.types.is_datetime64_any_dtype(got_mor[c]):
            got_mor[c] = got_mor[c].astype("datetime64[us]")
    pd.testing.assert_frame_equal(got_mor, want, check_dtype=False)
    print(f"flow1 OK: MoR dedupe-appends replay matches the same oracle ({len(got_mor)} rows)")


def flow2_driver_contract(spark) -> None:
    df = entrymod.entry(spark)
    n = df.count()
    assert n >= 0
    print(f"flow2 entry(): {n} rows, schema {[f.name for f in df.schema.fields]}")

    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    spot = os.environ.get(
        "VERIFY_SPOT", "user_sessions,doc_stats_by_lang,latest_event_per_user"
    ).split(",")
    for name in spot:
        got = qs[name](spark, sf).toPandas()
        exp = con.execute(osql[name]).df()
        got = got[sorted(got.columns)].sort_values(by=sorted(got.columns)).reset_index(drop=True)
        exp = exp[sorted(exp.columns)].sort_values(by=sorted(exp.columns)).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)
        print(f"flow2 {name}: {len(got)} rows match oracle")


def main() -> None:
    root = tempfile.mkdtemp(prefix="verify_drive_")
    spark = get_spark()  # local[$SPARK_GRAFT_CPUS] when set
    try:
        flow1_cdc(spark, root)
        flow2_driver_contract(spark)
        print("VERIFY_DRIVE_OK")
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

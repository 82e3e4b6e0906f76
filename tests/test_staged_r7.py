"""Oracle parity for the eight round-7 batch queries and the sixteen
real-codec multimodal queries — the exact Spark-vs-DuckDB compare the
driver gate runs, executed in pytest.
The round-7 queries were implemented in round 6 behind a staging map
(the driver window was full), registered in round 7, and moved
verbatim to their home modules in round 8; this test reads them
straight from the registry so the pytest-level parity gate survives
the move. The codec queries share one decode skeleton in
``queries/llm.py``; their oracles recompute the decoded statistics
arithmetically, so any codec or skeleton defect breaks EXACT here."""

from __future__ import annotations

import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo/tools")
from check_parity import TABLES, compare  # noqa: E402

from local_stream_stack_spark.queries import QUERIES  # noqa: E402

SF = "/root/testdata/sf0.01"

R7_BATCH = [
    "orders_backlog_aging",
    "event_transition_matrix",
    "session_entropy_per_user",
    "hhi_market_concentration",
    "weekday_activity_profile",
    "embedding_dim_variance_audit",
    "ship_lag_quantiles",
    "dedup_rate_by_source",
]

CODEC_DECODE = [
    "multimodal_png_decode",
    "multimodal_jpeg_decode",
    "multimodal_gif_decode",
    "multimodal_wav_decode",
    "multimodal_video_frames",
    "multimodal_bmp_decode",
    "multimodal_qoi_decode",
    "multimodal_tga_decode",
    "multimodal_pcx_decode",
    "multimodal_ico_decode",
    "multimodal_midi_decode",
    "multimodal_au_g711_decode",
    "multimodal_pnm_decode",
    "multimodal_tiff_decode",
    "multimodal_mp3_meta",
    "multimodal_flac_meta",
]


@pytest.mark.parametrize("name", R7_BATCH + CODEC_DECODE)
def test_r7_batch_query_is_exact_vs_oracle(spark, name):
    spec = QUERIES[name]
    sdf = spec.fn(spark, SF)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    assert spark_rows, f"{name} returned no rows at sf0.01"

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    rel = con.sql(spec.oracle)
    duck_cols = list(rel.columns)
    duck_rows = rel.fetchall()
    issues, exact, close = compare(
        spark_rows, spark_cols, duck_rows, duck_cols
    )
    assert exact, f"{name}: {issues[:5]}"

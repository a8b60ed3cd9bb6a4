"""Checkpointed high-watermark incremental runs (SURVEY §1.4, M4).

The reference's incremental story is "pass a bigger --startTime next
run" (HanaToBQ.java:206-218) — manual, and its endTime is ignored.
Done right: persist the high watermark (max ingested event time) in a
JSON state file next to the sink; each run copies
``[watermark, now)``, then advances the watermark atomically
(write-new + rename).  Re-running after a crash before the rename
re-copies the same window — paired with an append-only sink keyed for
downstream dedup, that's at-least-once; the half-open window
guarantees no gaps.  A run is the plain copy (pipeline) from the
watermark and starts no Spark action of its own.
"""

from __future__ import annotations

import dataclasses
import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from hana_bq_beam_connector_spark.config import PipelineConfig
from hana_bq_beam_connector_spark.pipeline import (
    append_observed,
    run_copy_pipeline,
)


def read_watermark(state_path: str, default: float) -> float:
    if not os.path.exists(state_path):
        return default
    with open(state_path) as f:
        return json.load(f)["watermark"]


def write_watermark(state_path: str, watermark: float) -> None:
    """Atomic watermark advance: temp file + rename."""
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(state_path) or ".", suffix=".tmp"
    )
    with os.fdopen(fd, "w") as f:
        json.dump({"watermark": watermark}, f)
    os.replace(tmp, state_path)


def incremental_copy(
    spark: SparkSession,
    config: PipelineConfig,
    state_path: str,
    source_df: DataFrame | None = None,
) -> int:
    """One incremental run: copy [watermark, end_time), advance the
    watermark to max(ts)+1 of the rows the sink received (canonical
    integer domain: a double would round and re-copy the max row
    forever).  Returns rows copied; an empty window writes nothing."""
    window = dataclasses.replace(
        config, start_time=read_watermark(state_path, config.start_time)
    )
    result, intervals = run_copy_pipeline(spark, window, source_df)
    if intervals.rows == 0:
        return 0
    n, mx = append_observed(result, window)
    if n:
        write_watermark(state_path, mx + 1)
    return n

"""Driver-side size gates for text formatters.

The table/text/json/pretty-ZSON/csv-text formatters render on the
driver (the reference's zio text writers are single-goroutine too:
zio/tableio, zio/textio, zio/jsonio) — correct for display-sized
result sets, wrong for bulk data. These gates mirror the VNG
(512 MiB) and ZSON-ingest (256 MiB) gates: past the limit the call
fails fast with conversion advice instead of OOM-ing the driver.

The gate is the formatter's own collect, `df.limit(N+1).collect()`:
CollectLimit short-circuits (Spark computes partitions incrementally
until the limit is hit), so an oversized frame fails after touching
a fraction of its input, and a frame under the gate is evaluated
once, not probed and then collected.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_DEFAULT_MAX_ROWS = 2_000_000  # mirrors the VNG 2M-row gate


def _max_rows() -> int:
    # read at call time so tests/operators can lower it per-call
    return int(
        os.environ.get("SPARK_GRAFT_TEXT_FORMAT_MAX_ROWS", str(_DEFAULT_MAX_ROWS))
    )


def collect_driver_rows(df: DataFrame, what: str) -> list:
    """`df.collect()`, raising when `df` exceeds the driver-side
    formatting row gate."""
    limit = _max_rows()
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"{what}: result exceeds {limit} rows — this format "
            f"renders on the driver; write parquet/csv/json via the "
            f"distributed writers for data at scale, cap the result "
            f"with head/limit, or raise SPARK_GRAFT_TEXT_FORMAT_MAX_ROWS"
        )
    return rows

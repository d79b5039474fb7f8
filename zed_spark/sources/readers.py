"""File readers — the engine's input formats.

Reference format dispatch: zio/anyio/lookup.go:24-56 (arrows, csv,
json, line, parquet, tsv, zeek, …). Our at-scale binary columnar
format IS parquet (the reference's VNG spec, docs/formats/vng.md,
explicitly compares itself to parquet); ZNG binary and ZSON/ZJSON
text are read natively; VNG reads/writes through sources/vng.py as a
driver-side interop on-ramp behind size gates.

Formats here:
  parquet   — spark.read.parquet (pushdown + pruning)
  json      — ndjson with schema inference or explicit schema
  csv / tsv — header + type inference options
  line      — one string column `value` (zio/lineio)
  zeek      — zeek TSV logs with '#fields'/'#types' headers
              (zio/zeekio): parsed into typed columns
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# tables whose parquet files carry TIMESTAMP(NANOS) — Spark reads them
# as LongType ns (legacy nanosAsLong); convert to µs TimestampType.
_NS_TS_COLS = {"events": ["ts"]}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # set defensively at runtime: a caller-provided session (e.g. the
    # round driver's) may lack both; without nanosAsLong the events
    # scan fails with PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS), and a
    # non-UTC session TZ shifts date extraction vs the DuckDB oracle
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name in _NS_TS_COLS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for c in _NS_TS_COLS.get(name, []):
        if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
            # integer division: ns are ~2^60, double division would
            # lose precision before the floor
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


# parquet schemas memoized per (application, path): given a schema,
# spark.read.parquet plans without its 1-task footer (schema-inference)
# job. Each entry is stamped with the file's size and mtime, so a
# rewritten file infers again and replaces its path's one entry. Like
# the split-count memo below, it holds plans, not results.
_SCHEMA_MEMO: dict = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
    except OSError:  # not a local path: nothing to stamp the entry with
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path)
    stamp = (st.st_size, st.st_mtime_ns)
    hit = _SCHEMA_MEMO.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[key] = (stamp, df.schema)
    return df


# scan split counts memoized per (application, data dir, table): the
# probe builds the scan's RDD plan driver-side (analysis + physical
# planning + a py4j conversion, ~10-30 ms) and its answer is a pure
# function of the on-disk file layout plus the session's split config,
# both fixed for a given application + directory. This is a plan-shape
# decision memo, NOT a result cache — every invocation still computes
# from the parquet inputs. Keyed on applicationId (not id(spark):
# CPython can reuse an id after a session is GC'd — round-11 ADVICE).
_SCAN_PARTS_MEMO: dict = {}


def table_scan_partitions(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Number of scan splits for a test table — memoized per
    (application, dir, table) so plan-shape heuristics (fan-out,
    uniq's single-partition fast path) don't re-pay the RDD probe on
    every invocation."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    n = _SCAN_PARTS_MEMO.get(key)
    if n is None:
        n = read_table(spark, sf_dir, name).rdd.getNumPartitions()
        _SCAN_PARTS_MEMO[key] = n
    return n


def read_any(spark: SparkSession, path: str, fmt: str = "auto", **options) -> DataFrame:
    from zed_spark.sources import fsio

    path = fsio.normalize_uri(path)
    if fmt == "auto":
        fmt = _sniff_format(path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "json":
        return spark.read.options(**options).json(path)
    if fmt == "csv":
        options.setdefault("header", True)
        options.setdefault("inferSchema", True)
        return spark.read.options(**options).csv(path)
    if fmt == "tsv":
        options.setdefault("header", True)
        options.setdefault("inferSchema", True)
        options.setdefault("sep", "\t")
        return spark.read.options(**options).csv(path)
    if fmt == "line":
        return spark.read.text(path)
    if fmt == "zeek":
        return read_zeek_tsv(spark, path)
    if fmt == "zson":
        from zed_spark.sources.zson import read_zson_fused

        return read_zson_fused(spark, path)
    if fmt == "zjson":
        from zed_spark.sources.zjson import read_zjson_fused

        return read_zjson_fused(spark, path)
    if fmt == "arrows":
        from zed_spark.sources.arrow_io import read_arrows

        return read_arrows(spark, path)
    if fmt == "zng":
        from zed_spark.sources.zng import read_zng_fused

        return read_zng_fused(spark, path)
    raise ValueError(f"unknown format {fmt!r}")


_EXT_FORMATS = [
    (".parquet", "parquet"), (".json", "json"), (".ndjson", "json"),
    (".csv", "csv"), (".tsv", "tsv"), (".log", "zeek"), (".txt", "line"),
    (".zson", "zson"), (".zjson", "zjson"), (".arrows", "arrows"),
    (".arrow", "arrows"), (".zng", "zng"),
]


def _sniff_format(path: str) -> str:
    for ext, fmt in _EXT_FORMATS:
        if path.endswith(ext):
            return fmt
    # extension-less directory (a Spark text/parquet output dir, a
    # lake object, a ZSON export): sniff the first data file's
    # content. fsio routes URIs (s3a://, file://) through Hadoop
    # FileSystem, so sniffing works on object storage too.
    import json as _json

    from zed_spark.sources import fsio

    if fsio.is_dir(path):
        files = [
            fsio.join(path, name)
            for name in sorted(fsio.listdir(path))
            if not name.startswith(("_", ".")) and not name.endswith(".crc")
        ]
        files = [f for f in files if fsio.is_file(f)]
        if files:
            for ext, fmt in _EXT_FORMATS:
                if files[0].endswith(ext) and ext != ".txt":
                    return fmt
            head = fsio.read_head(files[0], 4096)
            if head[:4] == b"PAR1":
                return "parquet"
            if head[:6] == b"ARROW1" or head[:4] == b"\xff\xff\xff\xff":
                # Arrow IPC file magic / stream continuation marker
                return "arrows"
            first = head.decode("utf-8", errors="replace").lstrip().splitlines()
            line = first[0] if first else ""
            if line.startswith("#separator"):
                return "zeek"
            if line.startswith("{"):
                try:
                    obj = _json.loads(line)
                    # ZJSON frames are {"type":..,"value":..} JSON
                    if isinstance(obj, dict) and set(obj) == {"type", "value"}:
                        return "zjson"
                    return "json"
                except ValueError:
                    return "zson"  # records with unquoted names
            return "line"
    return "parquet"


# --- zeek TSV (zio/zeekio) -------------------------------------------------
# moved to zed_spark/sources/zeek.py (reader + writer, container
# semantics, multi-block support); re-exported here for callers
from zed_spark.sources.zeek import read_zeek_tsv  # noqa: E402,F401

"""SparkSession construction tuned for the zed_spark engine.

The reference engine parallelizes with goroutine scatter replicas
(reference: compiler/optimizer/parallelize.go:19-82); Spark's analog is
partitioned execution, so the session pins shuffle parallelism to the
core count, enables AQE (runtime re-planning, skew-join splitting,
partition coalescing) and Arrow transfer for the Pandas-UDF slow path.

Scale notes (100 TB design point):
  - ``spark.sql.shuffle.partitions`` here is sized for local[N] test
    runs. On a real cluster AQE coalescing makes the initial number a
    ceiling, not a target; set it ~3x total cores there.
  - ``spark.sql.files.maxPartitionBytes`` stays at the 128 MiB default
    so a 100 TB scan fans out to ~800k input splits — fine for a
    1000-executor cluster.
  - Session timezone is pinned to UTC so timestamp semantics are
    stable across engines (and match the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return os.cpu_count() or 8


def build_spark(
    app_name: str = "zed_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # parquet TIMESTAMP(NANOS) (the reference's native ns precision,
        # nano.Ts value.go:84) is read as ns-since-epoch LongType;
        # sources.readers converts to TimestampType (µs) on load.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # zed expression errors are VALUES, not exceptions
        # (docs/language/expressions.md:23-45): divide-by-zero and
        # invalid casts must not kill the job. Classic (non-ANSI)
        # evaluation nulls them, matching the engine's null+__zed_error
        # convention (errors.py).
        .config("spark.sql.ansi.enabled", "false")
        # zed map normalization keeps the LAST value per key
        # (complex.go NormalizeMap; agg/collectmap.go overwrites)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.ui.enabled", "false")
        # PySpark wraps every DataFrame/Column API call to capture the
        # Python call site for error messages; each wrapped call costs a
        # conf RPC + traceback walk + two extra py4j round-trips, which
        # dominates plan construction for the expression-heavy text
        # operators (measured: simhash build 0.54 s -> 0.31 s). Error
        # CONTENT is unchanged — only the "called from file:line"
        # enrichment is dropped.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class ZedSession:
    """Engine session: a thin wrapper owning a SparkSession.

    Mirrors the role of the reference's runtime context + compiler
    entry (reference: compiler/job.go:92-135 parse→analyze→optimize→
    build→run), except steps 3-5 are Catalyst/Tungsten.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    @classmethod
    def build(cls, **kwargs) -> "ZedSession":
        return cls(build_spark(**kwargs))

    # --- sources ----------------------------------------------------
    def from_parquet(self, path: str):
        from zed_spark.zframe import ZFrame

        return ZFrame(self.spark.read.parquet(path))

    def from_json(self, path: str, schema=None):
        from zed_spark.zframe import ZFrame

        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return ZFrame(reader.json(path))

    def from_csv(self, path: str, **options):
        from zed_spark.zframe import ZFrame

        options.setdefault("header", True)
        return ZFrame(self.spark.read.options(**options).csv(path))

    def from_df(self, df):
        from zed_spark.zframe import ZFrame

        return ZFrame(df)

    def sql(self, query: str):
        from zed_spark.zframe import ZFrame

        return ZFrame(self.spark.sql(query))

    def query(
        self,
        text: str,
        sf_dir: str | None = None,
        tables: dict | None = None,
        allow_paths: bool = True,
        lake=None,
    ):
        """Run a zed-language query (SURVEY §3.1 entry point).

        `from NAME` resolves against `tables` (name → DataFrame/
        ZFrame), then lake refs when `lake` (a Lake or root path) is
        given — `pool`, `pool@branch`, `pool:log|objects|branches`,
        `:pools` (the reference's commitish/meta syntax) — then
        `{sf_dir}/NAME.parquet`, then — only when allow_paths — NAME
        as a filesystem path. Network-facing callers (the query
        service) pass allow_paths=False so a query can never read
        arbitrary host files.
        """
        from zed_spark.lang import compile_query
        from zed_spark.zframe import ZFrame

        def resolve(name: str, fmt: str | None = None, ordered: bool = True):
            if tables and name in tables:
                t = tables[name]
                return t.df if isinstance(t, ZFrame) else t
            if lake is not None:
                from zed_spark.sources.lake import Lake

                lk = lake if isinstance(lake, Lake) else Lake(self.spark, lake)
                if name == ":pools":
                    return lk.meta_pools()
                if name == ":branches":
                    return lk.meta_branches()
                base, _, meta = name.partition(":")
                if meta in ("log", "objects", "branches") and base in lk.pools():
                    pool = lk.pool(base)
                    return {
                        "log": pool.meta_commits,
                        "objects": pool.meta_objects,
                        "branches": pool.meta_branches,
                    }[meta]()
                if name.partition("@")[0] in lk.pools():
                    return lk.scan_ref(name, ordered=ordered)
            if sf_dir is not None:
                import os

                p = f"{sf_dir}/{name}.parquet" if not name.endswith(".parquet") else f"{sf_dir}/{name}"
                if os.path.exists(p):
                    from zed_spark.sources.readers import read_table

                    return read_table(self.spark, sf_dir, name.removesuffix(".parquet"))
            if not allow_paths:
                raise ValueError(f"unknown source {name!r} (registered tables only)")
            from zed_spark.sources.readers import read_any

            return read_any(self.spark, name, fmt=fmt or "auto")

        lk = None
        if lake is not None:
            from zed_spark.sources.lake import Lake

            lk = lake if isinstance(lake, Lake) else Lake(self.spark, lake)
        return ZFrame(compile_query(self.spark, text, resolve, lake=lk))

    def table(self, sf_dir: str, name: str):
        """Load one of the standard test tables from a scale-factor dir.

        ns-precision timestamp columns (read as LongType ns via the
        nanosAsLong legacy mode) are converted to TimestampType (µs) —
        the documented precision compromise of SURVEY §1.2.
        """
        from zed_spark.sources.readers import read_table

        return self.from_df(read_table(self.spark, sf_dir, name))

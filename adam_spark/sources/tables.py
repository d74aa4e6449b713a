"""Loaders for the driver's synthetic testdata tables (TESTDATA.md).

The parquet files store timestamps as TIMESTAMP(NANOS); with
``spark.sql.legacy.parquet.nanosAsLong`` those columns arrive as longs.
:func:`load_table` converts them back to proper timestamps
(microsecond-aligned, verified lossless) so engine queries and the
DuckDB oracle see identical values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: columns stored as TIMESTAMP(NANOS) in the testdata parquet
_NANOS_COLS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}


_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

#: The driver's testdata files are written as ONE parquet row group per
#: table. Parquet is only splittable at row-group boundaries, so however
#: many byte-range splits Spark creates, exactly one task decodes rows
#: and every scan-rooted stage runs single-threaded (measured: the
#: interval-join probe stage put 3.47 s of CPU on one task while 31
#: sat at ~8 ms — optimization guide §2.5 "input skew: one huge
#: unsplittable file → repartition immediately after the read").
#: ``load_table(..., spread=True)`` therefore hash-repartitions tables
#: whose footer shows fewer row groups than the session's parallelism
#: AND at least _SPLIT_MIN_ROWS rows. Catalyst pushes filters and
#: column pruning THROUGH a Repartition node, so the added exchange
#: carries only post-filter, post-prune bytes. On a real cluster the
#: inputs are split-rich (many row groups / many files), the footer
#: probe says no, and plans are unchanged — the knob is
#: data-layout-adaptive, not local-tuned.
#:
#: ``spread`` is OPT-IN per call site because the exchange only pays
#: for itself when the downstream amplifies rows (explode + join:
#: interval joins went 4.15→1.34 s / 3.36→1.84 s at sf0.1). For plain
#: scan→filter→aggregate pipelines the single-threaded decode is
#: cheaper than shuffling the table (q1 0.43→0.64, top_parts
#: 0.51→1.43 measured) — those call sites keep the default.
_SPLIT_MIN_ROWS = 50_000
#: footer metadata memo (path → (row_groups, rows)); file metadata, not
#: query results — re-probing the same immutable footer every call
#: would add a driver I/O per load_table
_FOOTER_CACHE: dict[str, tuple[int, int]] = {}


def _single_rowgroup_starved(
    path: str, parallelism: int, min_rows: int = _SPLIT_MIN_ROWS
) -> bool:
    """True when ``path`` is a plain parquet file whose row-group count
    can't feed ``parallelism`` scan tasks but whose row count merits
    them (driver-side footer read, O(footer) bytes)."""
    if path not in _FOOTER_CACHE:
        try:
            if not os.path.isfile(path):
                return False  # directory tables: layout is writer-controlled
            import pyarrow.parquet as pq

            md = pq.ParquetFile(path).metadata
            _FOOTER_CACHE[path] = (md.num_row_groups, md.num_rows)
        except Exception:
            _FOOTER_CACHE[path] = (0, 0)
    groups, rows = _FOOTER_CACHE[path]
    return 0 < groups < max(2, parallelism // 4) and rows >= min_rows


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    spread: bool = False,
    spread_min_rows: int = _SPLIT_MIN_ROWS,
    spread_key: tuple[str, ...] | None = None,
) -> DataFrame:
    # The driver's harness builds its own SparkSession, so the conf set in
    # adam_spark.session is absent there.  nanosAsLong is runtime-settable;
    # without it TIMESTAMP(NANOS) parquet reads raise PARQUET_TYPE_ILLEGAL
    # (see CORRECTNESS_r01 events_* failures).  The conf is scoped to the
    # schema-capturing read() call and restored afterward so a foreign
    # session's other parquet reads are unaffected (verified: execution
    # keeps the schema captured at read time, so restoring is safe).
    prior = spark.conf.get(_NANOS_CONF, None)
    spark.conf.set(_NANOS_CONF, "true")
    try:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    finally:
        if prior is None:
            spark.conf.unset(_NANOS_CONF)
        else:
            spark.conf.set(_NANOS_CONF, prior)
    for c in _NANOS_COLS.get(name, []):
        if c not in df.columns:
            continue
        dt = df.schema[c].dataType
        if isinstance(dt, LongType):
            # TIMESTAMP(NANOS) read as long under nanosAsLong
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(dt, TimestampNTZType):
            # TIMESTAMP(MICROS, isAdjustedToUTC=false): make the wall
            # clock the UTC instant regardless of session timezone —
            # cast() interprets the wall time in the session zone, and
            # from_utc_timestamp undoes that shift.  (Sole caveat: wall
            # times inside a DST transition window of a DST-observing
            # session zone; UTC sessions are always exact.)
            tz = spark.conf.get("spark.sql.session.timeZone")
            df = df.withColumn(
                c, F.from_utc_timestamp(F.col(c).cast("timestamp"), tz)
            )
    # ``spread_min_rows`` lets a caller whose downstream AMPLIFIES work
    # per row (crossJoin against a probe set, per-row GEMM batches)
    # lower the default 50k-row floor: the floor models when the
    # exchange pays for ~1× downstream work, but a Q-way crossJoin
    # multiplies the per-row cost by Q, so far smaller tables still
    # starve on a single row group. Still footer-gated — split-rich
    # cluster inputs are never repartitioned.
    if spread:
        path = os.path.join(sf_dir, f"{name}.parquet")
        par = spark.sparkContext.defaultParallelism
        if _single_rowgroup_starved(path, par, spread_min_rows):
            # hash repartition on a synthetic unique-ish key: unlike
            # round-robin it needs no sort-before-repartition pass and
            # stays retry-deterministic (guide §2.5). ``spread_key``
            # narrows the hash to named columns (callers pass a unique
            # id): column pruning then trims the exchange's input to
            # just those columns when nothing above it needs more —
            # under the bench's count() a whole-row key forces the scan
            # to read and ship every column (text_profile count
            # 0.59-0.74 plain → 0.84-1.14 s whole-row key → 0.75-0.77
            # id key, measured interleaved at sf0.1), while an id key
            # ships 8 B/row. Materialization paths are unchanged: they
            # reference every column anyway.
            key = spread_key if spread_key else df.columns
            df = df.repartition(par, F.xxhash64(*[F.col(c) for c in key]))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql()."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)

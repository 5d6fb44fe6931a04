"""Deterministic synthetic corpora for tests and benchmarks.

Two shapes:

1. ``tokenized_sequences`` — the engine's canonical input table
   ``(doc_id string, tokens array<int32>, n_tok int32, source string)``,
   derived *deterministically* from the driver-provided ``documents`` parquet
   (tokens = per-word integer ids from a fixed arithmetic hash) so the same
   rows reproduce on any engine (Spark, DuckDB, pandas). Skewed ``source``
   distribution comes from the data itself.

2. ``feature_grid`` — an entity×timestamp grid with numeric feature columns
   and a deterministic NULL mask, derived from the ``events`` parquet. This is
   the input shape of the imputation operators (rows = observations, cols =
   features, NULL = missing) plus the temporal keys (entity, ts) that the
   reference's pandas frames lack.

Everything here is a pure column expression — no RNG at runtime, no UDFs —
so generation itself scales and is partition-prunable.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the session confs that steer Spark's Parquet → Spark type conversion
_SCHEMA_CONFS = ("spark.sql.parquet.binaryAsString",
                 "spark.sql.parquet.int96AsTimestamp",
                 "spark.sql.parquet.inferTimestampNTZ.enabled",
                 "spark.sql.legacy.parquet.nanosAsLong")

# footer key → the StructType Spark inferred for it. A StructType holds no
# JVM handle, so an entry outlives ``spark.stop()`` and serves the next session.
_SCHEMAS: dict[tuple, T.StructType] = {}


def _footer_key(spark: SparkSession, path: str) -> tuple | None:
    """Everything Spark's schema inference reads of a single local parquet
    file: the Parquet schema (physical and logical types, as Parquet prints
    it), the footer's key-value metadata (Spark's own row schema lives
    there) and the conversion confs. None for a directory, a non-local URI
    or a footer pyarrow cannot read. Not the Arrow schema: INT96 and INT64
    nanosecond timestamps both map to Arrow ``timestamp[ns]``, while Spark
    reads the first as TIMESTAMP and rejects the second."""
    if not os.path.isfile(path):
        return None
    try:
        md = pq.read_metadata(path)
    except (OSError, pa.ArrowException):
        return None
    schema = repr(md.schema).partition("\n")[2]  # line 1 is the object's id
    return (schema, tuple(sorted((md.metadata or {}).items())),
            tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table, normalizing TIMESTAMP_NTZ → TIMESTAMP (the
    session timezone is pinned to UTC, so the wall-clock instant matches the
    DuckDB oracle's naive-timestamp arithmetic exactly).

    A plain ``spark.read.parquet`` launches a one-task Spark job to read the
    file's footer on every call. So the schema Spark infers for a file is
    kept for the life of the process, keyed on the file's footer (see
    ``_footer_key``), and later loads pass it to ``spark.read.schema`` and
    start no job. A file rewritten with another schema has another key, so
    it never gets a stale schema. The gain is within-process reuse: a
    long-lived session (a benchmark loop, a notebook) saves a job on every
    load after a file's first; a fresh one-shot ``main.py`` process saves
    only the repeated loads inside one plan. Directories and non-local URIs
    take the plain read."""
    path = f"{sf_dir}/{name}.parquet"
    key = _footer_key(spark, path)
    cached = _SCHEMAS.get(key)  # None is never a key
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMAS[key] = df.schema
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df

# token id of a word: engine-portable arithmetic hash (same formula is used in
# the DuckDB oracle SQL). Collisions are fine — ids only need determinism.
_TOKEN_EXPR = "transform(split(text, ' '), w -> cast(length(w) * 31 + ascii(substring(w, 1, 1)) as int))"


def tokenized_sequences(spark: SparkSession, sf_dir: str,
                        *, widen: bool = False) -> DataFrame:
    """The canonical input table: (doc_id, tokens, n_tok, source).

    ``widen=True`` round-robins the DOCUMENT scan across the cluster before
    the tokenize projection (r7): a single-row-group parquet source scans as
    1-2 partitions, and widening the tokenized output instead would both run
    the tokenizer on those few cores AND shuffle the 16× larger token arrays
    — the widen must sit below the projection. No-op on multi-file scans."""
    docs = load(spark, sf_dir, "documents")
    if widen:
        from ficaria_spark.plans.layout import widen_thin_input

        docs = widen_thin_input(docs)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(_TOKEN_EXPR).alias("tokens"),
        F.expr(f"cast(size({_TOKEN_EXPR}) as int)").alias("n_tok"),
        F.col("source"),
    )


def token_sql(text_col: str = "text") -> str:
    """DuckDB-equivalent expression producing the same token array."""
    return (
        f"list_transform(string_split({text_col}, ' '), "
        f"w -> cast(length(w) * 31 + ascii(substring(w, 1, 1)) as int))"
    )


# Deterministic NULL mask for the feature grid: drop `value` on every 7th
# event id. Chosen arithmetic (not hash) so any engine reproduces it.
NULL_MASK_MOD = 7


def feature_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entity×timestamp observations with a deterministically-masked feature.

    Columns: entity_id (bigint), ts (timestamp), event_id (bigint, tiebreak),
    f_value (double, NULL on the mask), f_type (string, nominal).
    """
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("entity_id"),
        F.col("ts"),
        F.col("event_id"),
        F.when(F.col("event_id") % NULL_MASK_MOD == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("f_value"),
        F.col("event_type").alias("f_type"),
    )


FEATURE_GRID_SQL = f"""
SELECT user_id AS entity_id,
       ts,
       event_id,
       CASE WHEN event_id % {NULL_MASK_MOD} = 0 THEN NULL ELSE value END AS f_value,
       event_type AS f_type
FROM events
"""

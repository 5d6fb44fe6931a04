"""Per-bucket lineage manifests + checkpoint-resumable runs.

Contract: a large job is split into WORK UNITS (stable bucket of the entity
key — NOT ``spark_partition_id()``, which changes with the physical plan).
Each unit's output lands under ``out_dir/part_bucket=<b>/`` with a manifest
(bucket, row_count, checksum, wall seconds, status). A resumed run skips
every bucket with an ok-manifest and recomputes ONLY the missing/failed ones.

One pass per run: the query executes ONCE for all pending buckets — one
``partitionBy("part_bucket")`` write job with dynamic partition overwrite
(finished buckets and ``_manifests/`` stay untouched), then ONE aggregate
over the pending buckets' written files gives every bucket's row count and
checksum. That read-back passes the schema the write just used, so it starts
no schema-inference job; it still scans every written row, so the audit
checks what is on disk. Failure granularity: ``fail_on`` fails single
buckets before the write; a failure of the shared write fails every pending
bucket.

Manifests are replaced atomically (tmp file + ``os.replace``), and an
unreadable manifest counts as pending, so a crash never blocks a resume.

This gives: (1) idempotent re-runs after executor/driver loss, (2) per-unit
row counts (skew visibility), (3) audit lineage from every output file back
to the bucket + code version that produced it.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_DIR = "_manifests"


def bucket_of(cols: str | Sequence[str], n_buckets: int) -> F.Column:
    """Stable work-unit bucket for an entity key of one or more columns
    (one ``xxhash64`` over all of them; hash-based, plan-invariant)."""
    cols = (cols,) if isinstance(cols, str) else cols
    return F.pmod(F.xxhash64(*map(F.col, cols)), F.lit(n_buckets)).cast("int")


def write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON: a crash leaves the old file or the new one,
    never a truncated one."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _manifest_path(out_dir: str, bucket: int) -> str:
    return os.path.join(out_dir, MANIFEST_DIR, f"bucket_{bucket:05d}.json")


def _bucket_dir(out_dir: str, bucket: int) -> str:
    return os.path.join(out_dir, f"part_bucket={bucket}")


def read_manifests(out_dir: str) -> dict[int, dict]:
    """Parsed manifests by bucket. In-flight ``.json.tmp`` files and
    unparsable manifests are left out, so their buckets count as pending."""
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    out: dict[int, dict] = {}
    if not os.path.isdir(mdir):
        return out
    for name in os.listdir(mdir):
        if name.endswith(".json"):
            try:
                with open(os.path.join(mdir, name)) as f:
                    m = json.load(f)
                out[m["bucket"]] = m
            except (ValueError, KeyError, TypeError):
                continue
    return out


def _bucket_stats(spark: SparkSession, out_dir: str, buckets: list[int],
                  schema: T.StructType) -> dict[int, tuple[int, int]]:
    """{bucket: (row_count, checksum)} from one aggregate over the written
    files of ``buckets``; checksum = ``bit_xor(xxhash64(data columns in file
    order))``. ``schema`` is the written frame's: its data columns in file
    order, plus ``part_bucket int``, are exactly the files' columns, so the
    read passes them and starts no schema-inference job. The aggregate
    still scans every written row. Buckets without a directory wrote no
    rows."""
    paths = [p for p in (_bucket_dir(out_dir, b) for b in buckets)
             if os.path.isdir(p)]
    if not paths:
        return {}
    data = [f for f in schema.fields if f.name != "part_bucket"]
    read_schema = T.StructType(
        [*data, T.StructField("part_bucket", T.IntegerType())])
    written = (spark.read.schema(read_schema).option("basePath", out_dir)
               .parquet(*paths))
    data_cols = [f.name for f in data]
    rows = (written.groupBy("part_bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(F.xxhash64(*data_cols)).alias("c"))
            .collect())
    return {r["part_bucket"]: (r["n"], int(r["c"] or 0)) for r in rows}


def run_with_manifests(
    df: DataFrame,
    *,
    entity_col: str | Sequence[str],
    out_dir: str,
    n_buckets: int = 16,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    fail_on: Callable[[int], bool] | None = None,
) -> dict:
    """Execute ``transform`` once over every pending bucket; resume-aware.

    ``entity_col`` is the bucket key: a column name or a tuple of names.
    Buckets already marked ok in a previous run are SKIPPED, so a re-run
    after a crash touches only the missing buckets. The pending ones are
    recomputed in one pass: their old ``part_bucket=<b>`` directories are
    removed (a bucket that is now empty keeps no stale rows), the query runs
    once, filtered to them, into one partitioned write, and one aggregate
    over their written files, read back with the schema just written,
    yields each manifest's ``row_count`` and ``checksum``. An empty bucket
    gets an ok manifest with 0 rows. Every ok manifest's ``wall_sec`` is the
    wall time of that shared pass.

    ``fail_on(bucket)`` is a test hook to simulate a crash: it marks the
    bucket failed before the write, which leaves it out. A failure of the
    write or the aggregate marks every pending bucket failed. Returns a
    summary {completed, skipped, failed, rows}.
    """
    os.makedirs(os.path.join(out_dir, MANIFEST_DIR), exist_ok=True)
    done = {b for b, m in read_manifests(out_dir).items() if m.get("status") == "ok"}
    pending = [b for b in range(n_buckets) if b not in done]

    summary = {"completed": [], "skipped": sorted(done), "failed": [], "rows": 0}

    def fail(b: int, error: str) -> None:
        write_json_atomic(_manifest_path(out_dir, b),
                          {"bucket": b, "status": "failed", "error": error})
        summary["failed"].append(b)

    todo = []
    for b in pending:
        shutil.rmtree(_bucket_dir(out_dir, b), ignore_errors=True)
        if fail_on is not None and fail_on(b):
            fail(b, f"injected failure at bucket {b}")
        else:
            todo.append(b)
    if not todo:
        return summary

    t0 = time.perf_counter()
    work = (df.withColumn("part_bucket", bucket_of(entity_col, n_buckets))
            .where(F.col("part_bucket").isin(todo)))
    out = transform(work) if transform is not None else work
    try:
        (out.write.mode("overwrite")
         # static overwrite would delete _manifests/ and every finished bucket
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("part_bucket").parquet(out_dir))
        stats = _bucket_stats(df.sparkSession, out_dir, todo, out.schema)
    except Exception as e:  # record the failure on every pending bucket
        for b in todo:
            fail(b, str(e))
        summary["failed"].sort()
        return summary
    wall = round(time.perf_counter() - t0, 3)
    for b in todo:
        n, checksum = stats.get(b, (0, 0))
        write_json_atomic(_manifest_path(out_dir, b), {
            "bucket": b, "row_count": n, "checksum": checksum,
            "wall_sec": wall, "status": "ok",
        })
        summary["completed"].append(b)
        summary["rows"] += n
    return summary


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read all ok buckets back as one DataFrame (partition-pruned layout)."""
    return spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "part_bucket=*")
    )

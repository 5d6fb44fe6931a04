"""spark-submit entry point for the production pipelines.

Cluster usage:
    spark-submit --py-files ficaria_spark.zip main.py \
        --input-dir /data/sfX --out-dir /data/out --n-buckets 256 \
        [--job temporal|tokens]

Pack the library with ``zip -r ficaria_spark.zip ficaria_spark`` (or ship a
wheel). Both jobs run through the manifest layer, so a re-submit after a
failure resumes from the completed buckets only:

* ``--job temporal`` (default) — the flagship leakage-free backfill +
  token-passthrough feature pipeline, bucketed by entity.
* ``--job tokens`` — the training-data production pipeline (exact dedup →
  n-gram decontamination → quality gate → per-source mix weights →
  fixed-context sequence packing), bucketed by the pack key
  ``(source, pack_id)`` (``pack_id`` restarts in every source).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out-dir", default="/tmp/ficaria_spark_out")
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--job", choices=("temporal", "tokens"), default="temporal")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from ficaria_spark.plans.lineage import run_with_manifests
    from ficaria_spark.queries import QUERIES
    from ficaria_spark.session import get_spark

    spark = get_spark(f"ficaria-{args.job}", master=args.master)
    if args.job == "temporal":
        df = QUERIES["pipeline_flagship"](spark, args.input_dir)
        entity_col = "entity_id"
    else:
        df = QUERIES["pipeline_tokens"](spark, args.input_dir)
        entity_col = ("source", "pack_id")
    summary = run_with_manifests(
        df, entity_col=entity_col, out_dir=args.out_dir,
        n_buckets=args.n_buckets,
    )
    print(json.dumps(summary))
    return 1 if summary["failed"] else 0


if __name__ == "__main__":
    raise SystemExit(main())

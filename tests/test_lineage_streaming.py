"""Lineage manifests + checkpoint resume + streaming sessionize."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ficaria_spark.plans.lineage import (
    MANIFEST_DIR,
    bucket_of,
    read_manifests,
    read_output,
    run_with_manifests,
)
from ficaria_spark.streaming.sessionize import streaming_sessionize, streaming_tumble


def _events(spark, n=500, seed=2):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "entity": rng.integers(0, 40, n),
        "v": rng.normal(size=n).round(4),
        "rid": np.arange(n),
    })
    return spark.createDataFrame(pdf), pdf


def test_manifest_run_completes_and_audits(spark, tmp_path):
    sdf, pdf = _events(spark)
    out = str(tmp_path / "run1")
    summary = run_with_manifests(
        sdf, entity_col="entity", out_dir=out, n_buckets=4,
        transform=lambda d: d.withColumn("v2", F.col("v") * 2),
    )
    assert summary["failed"] == []
    assert summary["rows"] == len(pdf)
    manifests = read_manifests(out)
    assert len(manifests) == 4
    assert all(m["status"] == "ok" for m in manifests.values())
    assert sum(m["row_count"] for m in manifests.values()) == len(pdf)
    back = read_output(spark, out)
    assert back.count() == len(pdf)
    assert np.isclose(
        back.agg(F.sum("v2")).collect()[0][0], 2 * pdf.v.sum(), atol=1e-6)


def test_resume_recomputes_only_failed_buckets(spark, tmp_path):
    sdf, pdf = _events(spark, seed=5)
    out = str(tmp_path / "run2")
    # first run: bucket 2 crashes
    s1 = run_with_manifests(
        sdf, entity_col="entity", out_dir=out, n_buckets=4,
        fail_on=lambda b: b == 2,
    )
    assert s1["failed"] == [2]
    assert sorted(s1["completed"]) == [0, 1, 3]
    # resume: only bucket 2 is recomputed
    s2 = run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=4)
    assert s2["completed"] == [2]
    assert s2["skipped"] == [0, 1, 3]
    assert read_output(spark, out).count() == len(pdf)
    # idempotent third run does nothing
    s3 = run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=4)
    assert s3["completed"] == [] and sorted(s3["skipped"]) == [0, 1, 2, 3]


def test_transform_runs_once_per_run(spark, tmp_path):
    """One pass: the query is planned and executed once per run, not once
    per bucket — and not at all when nothing is pending."""
    sdf, _ = _events(spark, seed=6)
    out = str(tmp_path / "once")
    calls = []

    def transform(d):
        calls.append(1)
        return d

    run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=4,
                       transform=transform, fail_on=lambda b: b == 1)
    assert len(calls) == 1
    s = run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=4,
                           transform=transform)
    assert s["completed"] == [1] and len(calls) == 2
    run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=4,
                       transform=transform)
    assert len(calls) == 2


def test_manifest_counts_and_checksums_match_input(spark, tmp_path):
    """Pins the checksum definition: bit_xor(xxhash64(data columns in file
    order)) per bucket, equal to a direct aggregate over the input."""
    sdf, _ = _events(spark, seed=7)
    out = str(tmp_path / "sums")
    run_with_manifests(sdf, entity_col="entity", out_dir=out, n_buckets=4)
    want = {
        r["b"]: (r["n"], r["c"])
        for r in sdf.groupBy(bucket_of("entity", 4).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.bit_xor(F.xxhash64(*sdf.columns)).alias("c"))
        .collect()
    }
    got = {b: (m["row_count"], m["checksum"])
           for b, m in read_manifests(out).items()}
    assert len(want) == 4 and got == want


def test_manifest_checksums_equal_an_inferring_read_back(spark, tmp_path):
    """The runner reads its output back with the schema it wrote. Each
    manifest must equal bit_xor(xxhash64(data columns in file order)) over a
    plain, schema-inferring read of the same ``part_bucket=<b>`` dirs — also
    with ``part_bucket`` mid-frame and typed, nullable and non-null columns."""
    sdf, _ = _events(spark, seed=11)
    out = tmp_path / "inferred"

    def transform(d):
        return d.select(
            "v", "part_bucket", "entity",
            F.when(F.col("rid") % 3 == 0, F.lit(None))
            .otherwise(F.col("rid").cast("string")).alias("s"),
            F.lit(1).alias("one"),
            F.col("v").cast("decimal(12,4)").alias("dec"),
            F.timestamp_seconds(F.col("rid")).alias("ts"),
            F.array(F.col("rid"), F.col("entity")).alias("arr"))

    run_with_manifests(sdf, entity_col="entity", out_dir=str(out),
                       n_buckets=4, transform=transform)
    manifests = read_manifests(str(out))
    for b, m in manifests.items():
        path = out / f"part_bucket={b}"
        if not path.exists():
            assert m["row_count"] == 0 and m["checksum"] == 0
            continue
        plain = spark.read.parquet(str(path))
        assert plain.columns == ["v", "entity", "s", "one", "dec", "ts", "arr"]
        r = plain.agg(F.count(F.lit(1)).alias("n"),
                      F.bit_xor(F.xxhash64(*plain.columns)).alias("c")).collect()[0]
        assert (m["row_count"], m["checksum"]) == (r["n"], r["c"])
    assert sum(m["row_count"] for m in manifests.values()) == sdf.count()


def test_empty_bucket_gets_ok_manifest_and_is_skipped(spark, tmp_path):
    sdf, pdf = _events(spark, seed=8)
    few = sdf.where(F.col("entity") < 2)  # two entities, at most 2 of 8 buckets
    out = str(tmp_path / "empty")
    s1 = run_with_manifests(few, entity_col="entity", out_dir=out, n_buckets=8)
    manifests = read_manifests(out)
    assert s1["completed"] == list(range(8)) and s1["failed"] == []
    empty = [b for b, m in manifests.items() if m["row_count"] == 0]
    assert len(empty) >= 6
    assert all(manifests[b]["status"] == "ok" and manifests[b]["checksum"] == 0
               for b in empty)
    s2 = run_with_manifests(few, entity_col="entity", out_dir=out, n_buckets=8)
    assert s2["completed"] == [] and s2["skipped"] == list(range(8))
    assert read_output(spark, out).count() == int((pdf.entity < 2).sum())


def test_rerun_removes_stale_rows_of_pending_buckets(spark, tmp_path):
    """A recomputed bucket keeps only its new rows — also when it is now
    empty, which the partitioned write alone would never overwrite."""
    sdf, pdf = _events(spark, seed=9)
    few = sdf.where(F.col("entity") < 2)
    out = tmp_path / "stale"
    run_with_manifests(few, entity_col="entity", out_dir=str(out), n_buckets=8)
    manifests = read_manifests(str(out))
    full = next(b for b, m in manifests.items() if m["row_count"] > 0)
    empty = next(b for b, m in manifests.items() if m["row_count"] == 0)
    stale = few.limit(7)
    for b in (full, empty):
        stale.write.mode("append").parquet(str(out / f"part_bucket={b}"))
        (out / MANIFEST_DIR / f"bucket_{b:05d}.json").unlink()
    s = run_with_manifests(few, entity_col="entity", out_dir=str(out), n_buckets=8)
    assert sorted(s["completed"]) == sorted([full, empty])
    assert not (out / f"part_bucket={empty}").exists()
    assert read_output(spark, str(out)).count() == int((pdf.entity < 2).sum())
    def sums(ms):
        return {b: (m["row_count"], m["checksum"]) for b, m in ms.items()}

    assert sums(read_manifests(str(out))) == sums(manifests)


def test_truncated_manifest_is_recomputed(spark, tmp_path):
    """A crash inside a manifest write used to leave a truncated file that
    made every later resume raise; now its bucket is simply pending, and a
    leftover ``.tmp`` file is ignored."""
    sdf, pdf = _events(spark, seed=10)
    out = tmp_path / "trunc"
    run_with_manifests(sdf, entity_col="entity", out_dir=str(out), n_buckets=4)
    mdir = out / MANIFEST_DIR
    (mdir / "bucket_00001.json").write_text('{"bucket": 1, "row_co')
    (mdir / "bucket_00002.json.tmp").write_text('{"bucket": 2, "sta')
    s = run_with_manifests(sdf, entity_col="entity", out_dir=str(out), n_buckets=4)
    assert s["completed"] == [1] and s["skipped"] == [0, 2, 3]
    assert read_manifests(str(out))[1]["status"] == "ok"
    assert read_output(spark, str(out)).count() == len(pdf)


def test_main_tokens_job_spreads_buckets_and_resumes(spark, sf_dir, tmp_path,
                                                     monkeypatch, capsys):
    """The tokens job buckets by the pack key (source, pack_id): pack_id
    restarts in every source, so pack_id alone put every row in one bucket.
    A second submit skips every bucket."""
    import json

    import main

    out = str(tmp_path / "tokens")
    argv = ["main.py", "--job", "tokens", "--n-buckets", "4",
            "--input-dir", sf_dir, "--out-dir", out]
    monkeypatch.setattr("sys.argv", argv)
    assert main.main() == 0
    manifests = read_manifests(out)
    assert len(manifests) == 4
    assert sum(m["row_count"] > 0 for m in manifests.values()) > 1
    capsys.readouterr()
    assert main.main() == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["completed"] == [] and second["skipped"] == [0, 1, 2, 3]


def test_session_window_semantics_match_batch_sessionize(spark):
    """session_window (streaming op, run in batch mode here) must agree with
    the batch sessionize on session counts."""
    import datetime as dt

    from ficaria_spark.operators.temporal import sessionize

    rows = []
    base = dt.datetime(2024, 1, 1)
    rng = np.random.default_rng(8)
    t = base
    for i in range(200):
        t = t + dt.timedelta(seconds=int(rng.integers(1, 4000)))
        rows.append((int(rng.integers(0, 5)), t, float(i)))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    sdf = spark.createDataFrame(pdf)

    stream_style = streaming_sessionize(sdf, gap="30 minutes").toPandas()
    batch = sessionize(sdf, "user_id", "ts", gap_seconds=1800.0)
    batch_sessions = (
        batch.groupBy("user_id", "session_seq").count().toPandas()
    )
    # same number of sessions per user
    a = stream_style.groupby("user_id").size().sort_index()
    b = batch_sessions.groupby("user_id").size().sort_index()
    assert (a == b).all()
    # same total events
    assert stream_style.n_events.sum() == 200


def test_streaming_tumble_batch_semantics(spark):
    sdf, _ = _events(spark)
    import datetime as dt

    ev = sdf.withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=F.col("rid") * 100)
    )
    got = streaming_tumble(ev, width="1 hour", value_col="v").toPandas()
    assert got.n_events.sum() == 500
    # 500 events * 100s = ~50000s ≈ 14 hourly buckets
    assert 13 <= len(got) <= 15


def test_streaming_sessionize_runs_as_a_real_stream(spark, tmp_path):
    """End-to-end Structured Streaming: file source → watermark →
    session_window agg → memory sink (availableNow). Emitted (watermark-
    closed) sessions must be a subset of the batch sessionize result."""
    import datetime as dt

    rng = np.random.default_rng(12)
    rows = []
    t = dt.datetime(2024, 1, 1)
    for i in range(300):
        t = t + dt.timedelta(seconds=int(rng.integers(1, 3000)))
        rows.append((int(rng.integers(0, 6)), t, float(i)))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    src = str(tmp_path / "in")
    spark.createDataFrame(pdf).write.parquet(src)

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    agg = streaming_sessionize(stream, gap="30 minutes", watermark="1 hour")
    q = (
        agg.writeStream.format("memory").queryName("sess_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("sess_stream").toPandas()

    batch = streaming_sessionize(static, gap="30 minutes").toPandas()
    assert len(got) > 0
    batch_keys = set(zip(batch.user_id, batch.session_start))
    got_keys = set(zip(got.user_id, got.session_start))
    assert got_keys <= batch_keys
    # watermark-closed sessions must agree exactly with batch on counts
    merged = got.merge(batch, on=["user_id", "session_start"], suffixes=("_s", "_b"))
    assert (merged.n_events_s == merged.n_events_b).all()


def test_streaming_exact_dedup_end_to_end(spark, tmp_path):
    """File source → watermark → dropDuplicatesWithinWatermark → memory sink:
    exactly one survivor per distinct normalized content (duplicates planted
    within the horizon), and the stateless fingerprint tag matches the batch
    digest."""
    import datetime as dt

    from ficaria_spark.streaming.dedup import (
        streaming_exact_dedup,
        streaming_fingerprint_tag,
    )

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(60):
        # 20 distinct contents, each appearing 3× within minutes (same horizon)
        content = f"doc body {i % 20} words here"
        if i % 20 == 5:
            content = "Doc  Body 5  words HERE"  # normalization twin of #5
        rows.append((i, content, t0 + dt.timedelta(minutes=i)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
    src = str(tmp_path / "docs_in")
    spark.createDataFrame(pdf).write.parquet(src)

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    deduped = streaming_exact_dedup(stream, watermark="2 hours")
    q = (
        deduped.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_stream").toPandas()

    # 20 distinct normalized contents -> exactly 20 survivors
    assert len(got) == 20
    assert got.content_hash.nunique() == 20

    tagged = streaming_fingerprint_tag(static).toPandas()
    assert tagged.content_hash.nunique() == 20
    assert (tagged.n_tokens >= 4).all()


def test_streaming_text_scrub_matches_batch(spark, tmp_path):
    """The text family (quality, repetition, redaction, token counts) is
    stateless projections, so the SAME operators must run unchanged on a
    stream — the streaming face of the round-5 scrub pipeline. availableNow
    over a parquet source → memory sink; per-row results must equal the
    batch computation bit-for-bit (including a planted empty doc and a
    planted PII doc)."""
    import pandas as pd

    from ficaria_spark.operators.text import (
        quality_score, redact_pii, repetition_features, token_count)

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "spam spam spam spam spam spam spam spam",
        "mail me at a@b.io or call (555) 867-5309",
        "",
        "   ",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    src = str(tmp_path / "scrub_src")
    static = spark.createDataFrame(pdf)
    static.write.parquet(src)

    def scrub(df):
        out = redact_pii(repetition_features(quality_score(df)),
                         with_counts=True)
        return out.select(
            "doc_id", "quality_score", "quality_keep", "dup_word_frac",
            "pii_email_count", "pii_phone_count", "text_redacted",
            token_count("text").alias("n_ws_tokens"))

    stream = spark.readStream.schema(static.schema).parquet(src)
    q = (
        scrub(stream).writeStream.format("memory").queryName("scrub_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = (spark.sql("SELECT * FROM scrub_stream")
           .orderBy("doc_id").toPandas())
    want = scrub(spark.read.parquet(src)).orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(got, want)
    # the planted rows actually exercised the interesting paths
    assert want.pii_email_count.sum() == 1
    assert "<EMAIL>" in want.text_redacted[2]
    assert want.n_ws_tokens.tolist()[3:] == [0, 0]
    assert not want.quality_keep[3] and not want.quality_keep[4]

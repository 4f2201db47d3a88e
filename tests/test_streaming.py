"""Structured Streaming: windowed tile counts with watermark,
exercised via Trigger.AvailableNow over a file source."""

import numpy as np
import pandas as pd

from proj_spark.streaming.stream_ops import run_available_now, stream_tile_counts


def test_stream_tile_counts(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "lon": rng.uniform(-170, 170, 400),
            "lat": rng.uniform(-80, 80, 400),
            "ts": pd.date_range("2024-01-01", periods=400, freq="s"),
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "lon double, lat double, ts timestamp"
    ).parquet(src)
    result = stream_tile_counts(stream, zoom=3, window="1 minute",
                                watermark="2 minutes")
    run_available_now(result, ckpt, table_name="t_out")
    out = spark.sql("SELECT * FROM t_out").toPandas()
    assert out["n_points"].sum() == 400
    # batch-equivalence: same tile assignment as the batch operator
    from proj_spark.operators.tiles import np_tile

    tx, ty = np_tile(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 3)
    batch = (
        pd.DataFrame({"tile_x": tx, "tile_y": ty, "m": pd.Series(pdf.ts).dt.floor("min")})
        .groupby(["m", "tile_x", "tile_y"]).size()
    )
    assert len(out) == len(batch)


def test_stream_dedup_first_seen_stateful(spark, tmp_path):
    """applyInPandasWithState dedup: state carries across micro-batches
    (one file per trigger) and the drained result matches the batch
    exact_dedup twin."""
    from proj_spark.operators.textops import exact_dedup
    from proj_spark.streaming.stream_ops import (
        run_available_now,
        stream_dedup_first_seen,
    )

    src = str(tmp_path / "dsrc")
    ckpt = str(tmp_path / "dckpt")
    texts = ["alpha doc", "beta doc", "alpha doc", "gamma doc",
             "alpha  DOC", "beta doc"]  # normalization collapses case/ws
    # two files -> two micro-batches with maxFilesPerTrigger=1
    rows = [{"doc_id": i, "text": t,
             "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=i)}
            for i, t in enumerate(texts)]
    spark.createDataFrame(pd.DataFrame(rows[:3])).write.parquet(f"{src}/f1.parquet")
    spark.createDataFrame(pd.DataFrame(rows[3:])).write.parquet(f"{src}/f2.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
    )
    out = stream_dedup_first_seen(stream)
    run_available_now(out, ckpt, table_name="d_out", output_mode="update")
    got = spark.sql("SELECT * FROM d_out").toPandas()
    # update mode emits once per touched batch; n_dups is monotone so
    # the max per key is the final state (memory-sink rows are unordered)
    final = got.groupby("text_hash").agg(
        canonical_id=("canonical_id", "min"), n_dups=("n_dups", "max"))

    batch = (
        exact_dedup(spark.createDataFrame(pd.DataFrame(rows)))
        .toPandas().set_index("text_hash")
    )
    assert len(final) == len(batch) == 3
    for h, row in batch.iterrows():
        assert final.loc[h, "canonical_id"] == row["canonical_id"]
        assert final.loc[h, "n_dups"] == row["n_dups"]


def test_stream_verify_images(spark, tmp_path):
    """Streaming ingest verify: the batch mapInArrow verifier runs on
    a readStream unchanged, carries ts through, and every synthesized
    image clears its invariants."""
    from pyspark.sql import functions as F

    from proj_spark.sources.datagen import synthesize_images
    from proj_spark.streaming.stream_ops import (
        run_available_now,
        stream_verify_images,
    )

    src = str(tmp_path / "isrc")
    ckpt = str(tmp_path / "ickpt")
    imgs = synthesize_images(spark, 40, partitions=2).withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    imgs.write.parquet(src)
    schema = imgs.schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = stream_verify_images(stream)
    run_available_now(out, ckpt, table_name="iv_out", output_mode="append")
    got = spark.sql("SELECT * FROM iv_out")
    assert got.count() == 40
    assert "ts" in got.columns
    bad = got.where(~(F.col("size_ok") & F.col("phash_ok")
                      & F.col("psnr_ok") & F.col("caption_ok"))).count()
    assert bad == 0


def test_stream_image_dedup_first_seen(spark, tmp_path):
    """Stateful phash dedup across micro-batches: duplicates arriving
    in a LATER batch still fold into the first-seen canonical, and the
    drained totals match the batch groupBy twin."""
    import pandas as pd
    from pyspark.sql import functions as F

    from proj_spark.streaming.stream_ops import (
        run_available_now,
        stream_image_dedup_first_seen,
    )

    src = str(tmp_path / "psrc")
    ckpt = str(tmp_path / "pckpt")
    t0 = pd.Timestamp("2024-01-01")
    rows = [
        {"image_id": "img01", "phash": 111, "ts": t0},
        {"image_id": "img02", "phash": 222, "ts": t0 + pd.Timedelta(seconds=1)},
        {"image_id": "img03", "phash": 111, "ts": t0 + pd.Timedelta(seconds=2)},
        # second batch: another copy of 111 and of 222
        {"image_id": "img04", "phash": 111, "ts": t0 + pd.Timedelta(seconds=3)},
        {"image_id": "img05", "phash": 222, "ts": t0 + pd.Timedelta(seconds=4)},
        {"image_id": "img06", "phash": 333, "ts": t0 + pd.Timedelta(seconds=5)},
    ]
    spark.createDataFrame(pd.DataFrame(rows[:3])).write.parquet(f"{src}/f1.parquet")
    spark.createDataFrame(pd.DataFrame(rows[3:])).write.parquet(f"{src}/f2.parquet")
    stream = (
        spark.readStream.schema("image_id string, phash long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
    )
    out = stream_image_dedup_first_seen(stream)
    run_available_now(out, ckpt, table_name="pd_out", output_mode="update")
    got = spark.sql("SELECT * FROM pd_out").toPandas()
    final = got.groupby("phash").agg(
        canonical_id=("canonical_id", "min"), n_dups=("n_dups", "max"))
    batch = (
        spark.createDataFrame(pd.DataFrame(rows))
        .groupBy("phash")
        .agg(F.min("image_id").alias("canonical_id"),
             F.count(F.lit(1)).alias("n_dups"))
        .toPandas().set_index("phash")
    )
    assert len(final) == len(batch) == 3
    for ph, row in batch.iterrows():
        assert final.loc[ph, "canonical_id"] == row["canonical_id"]
        assert final.loc[ph, "n_dups"] == row["n_dups"]

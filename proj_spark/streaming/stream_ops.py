"""Structured Streaming surface.

The north rule is a batch-Iceberg pipeline (resumability comes from
checkpoints, SURVEY.md §2.2 streaming row), so streaming is a thin,
optional layer: the same JVM-side operators (cell index, tile
assignment) applied to a stream, with event-time windows + watermarks
for late data.  The transform UDFs and cell/tile Columns are
stateless, so they compose with ``readStream`` unchanged — that is the
point of keeping them declarative.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cells import cell_col
from ..operators.tiles import tile_x_col, tile_y_col

__all__ = [
    "stream_tile_counts",
    "stream_dedup_first_seen",
    "stream_verify_images",
    "stream_image_dedup_first_seen",
    "run_available_now",
]


def stream_tile_counts(
    stream_df: DataFrame,
    zoom: int = 6,
    lon_col: str = "lon",
    lat_col: str = "lat",
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed per-tile event counts over a streaming point source.

    Watermark bounds state for late data; the tile columns are the same
    whole-stage-codegen expressions the batch path uses."""
    tiled = (
        stream_df.withWatermark(ts_col, watermark)
        .withColumn("tile_x", tile_x_col(F.col(lon_col), zoom))
        .withColumn("tile_y", tile_y_col(F.col(lat_col), zoom))
        .withColumn("cell", cell_col(F.col(lon_col), F.col(lat_col), min(zoom + 2, 26)))
    )
    return (
        tiled.groupBy(F.window(F.col(ts_col), window), "tile_x", "tile_y")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.approx_count_distinct("cell").alias("n_cells"),
        )
    )


def _first_seen(key, pdfs, state, *, id_col, ts_col, state_ttl_ms,
                key_col, key_cast, id_cast):
    """``applyInPandasWithState`` body of the first-seen dedup streams:
    per key, state (canonical_id = min id seen, n = running count),
    updated from every micro-batch that touches the key and emitted as
    one ``key_col, canonical_id, n_dups`` row.  The event-time timeout
    sits ``state_ttl_ms`` past the key's last event, and strictly past
    the current watermark."""
    import pandas as pd

    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        min_id, n = state.get
    else:
        min_id, n = None, 0
    last_ts_ms = None
    for pdf in pdfs:
        if len(pdf):
            m = id_cast(pdf[id_col].min())
            min_id = m if min_id is None else min(min_id, m)
            n += len(pdf)
            ts_ms = int(pdf[ts_col].max().value // 1_000_000)
            last_ts_ms = ts_ms if last_ts_ms is None else max(last_ts_ms, ts_ms)
    if min_id is None:
        return
    state.update((id_cast(min_id), int(n)))
    state.setTimeoutTimestamp(
        max(last_ts_ms + state_ttl_ms, state.getCurrentWatermarkMs() + 1)
    )
    yield pd.DataFrame(
        [{key_col: key_cast(key[0]), "canonical_id": id_cast(min_id),
          "n_dups": int(n)}]
    )


def stream_dedup_first_seen(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    state_ttl_ms: int = 600_000,
) -> DataFrame:
    """Custom STATEFUL streaming operator: exact dedup over a document
    stream via ``applyInPandasWithState``.

    Per normalized-text hash, the state carries (canonical_id = min doc
    id seen, n = running duplicate count) ACROSS micro-batches; every
    batch that touches a key emits its current totals (update mode).
    The batch twin is ``textops.exact_dedup`` — same hash, same
    canonical-min semantics — so a drained stream can be value-compared
    against the batch result (tested).

    State is bounded two ways, as a 100-TB stream requires: the
    watermark bounds late data, and an event-time timeout evicts a key
    once the watermark passes ``state_ttl_ms`` beyond the key's LAST
    seen event (anchoring the timeout to the watermark itself would
    evict everything on the first watermark jump — the initial
    watermark is epoch 0).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.textops import normalize_text_col

    hashed = (
        stream_df.withWatermark(ts_col, watermark)
        .withColumn("__h", F.md5(normalize_text_col(F.col(text_col))))
        .select("__h", id_col, ts_col)
    )
    out_ddl = "text_hash string, canonical_id long, n_dups long"
    state_ddl = "canonical_id long, n long"
    update = functools.partial(
        _first_seen, id_col=id_col, ts_col=ts_col, state_ttl_ms=state_ttl_ms,
        key_col="text_hash", key_cast=str, id_cast=int)
    return hashed.groupBy("__h").applyInPandasWithState(
        update, out_ddl, state_ddl, "update", GroupStateTimeout.EventTimeTimeout
    )


def stream_verify_images(
    stream_df: DataFrame,
    ts_col: str = "ts",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming image-ingest verification: the SAME Arrow-batched
    decode+invariant verifier as the batch path
    (:func:`proj_spark.sources.images.verify_images` — a stateless
    ``mapInArrow``, so it composes with readStream unchanged), with the
    event-time column carried through for downstream windows/dedup.

    Input: streaming frame with the images-table columns + ``ts``.
    Output: per-image verdict rows (size/phash/psnr/caption) + ts.
    """
    from ..sources.images import verify_images

    return verify_images(stream_df.withWatermark(ts_col, watermark))


def stream_image_dedup_first_seen(
    stream_df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    state_ttl_ms: int = 600_000,
) -> DataFrame:
    """Stateful streaming IMAGE dedup: first-seen-wins keyed on the
    exact perceptual hash, across micro-batches, via
    ``applyInPandasWithState`` — the ingest-time twin of the batch
    :func:`operators.imagedup.phash_dedup_groups` exact layer (batch
    equivalence: ``groupBy(phash).agg(min(image_id), count)``, tested).

    Per phash, state carries (canonical_id = min image id seen, n =
    running duplicate count); update-mode emissions give the current
    totals each touched batch.  State bounded by watermark + event-time
    TTL exactly like :func:`stream_dedup_first_seen`."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = (
        stream_df.withWatermark(ts_col, watermark)
        .select(F.col(phash_col).alias("__ph"), id_col, ts_col)
    )
    out_ddl = "phash long, canonical_id string, n_dups long"
    state_ddl = "canonical_id string, n long"
    update = functools.partial(
        _first_seen, id_col=id_col, ts_col=ts_col, state_ttl_ms=state_ttl_ms,
        key_col="phash", key_cast=int, id_cast=str)
    return keyed.groupBy("__ph").applyInPandasWithState(
        update, out_ddl, state_ddl, "update", GroupStateTimeout.EventTimeTimeout
    )


def run_available_now(result: DataFrame, checkpoint_dir: str,
                      table_name: str = "stream_out",
                      output_mode: str = "complete"):
    """Drain all available input once (Trigger.AvailableNow) into an
    in-memory table — the batch-friendly way to exercise the streaming
    plan end-to-end; checkpointing gives exactly-once resume.

    complete mode emits every window (append would withhold windows
    younger than the watermark until a later trigger closes them)."""
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(table_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q

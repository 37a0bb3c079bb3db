"""Perceptual-hash (Hamming) NEAR-dup for images: batch pairs, one-shot
transform, incremental archive maintenance, and an exactly-once streaming
twin — the image modality of the banded-dedup family (round 10).

``multimodal/media.py::image_phash_dedup`` collapses EXACT 64-bit aHash
collisions; real crawl imagery also carries near-identical variants
(re-encodes, light crops, watermark stamps) whose hashes differ in a few
bits. Those are Hamming-close, which is the SimHash regime — so this
module reuses the SimHash machinery wholesale:

- candidates by PIGEONHOLE banding: split the 64-bit pHash into
  ``bands`` chunks; any pair within Hamming distance < bands shares a
  chunk (the ``operators/dedup.py::simhash_pairs`` recipe, here over a
  precomputed hash column instead of a text-derived simhash);
- exact verification via ``bit_count(xor)``;
- incremental/streaming forms through the SHARED banded decision core
  (``dedup._incremental_band_label`` — the (id, band, bucket) contract
  fuzzy_paragraphs.py documents for new modalities): archive hits with
  self-ownership excluded, bucket-min survivorship over the whole batch,
  replay-stable labels, survivor-only deltas.

Scale: one Arrow decode pass produces the 64-bit hash per image (the
only non-relational step); everything after is integer relational
algebra — band explode (x bands), one content-keyed shuffle, no
all-pairs anywhere. Precision note (as for SimHash): a shared 16-bit
chunk is weak evidence on a large corpus — verify pairs with the exact
Hamming filter, or treat ``n_dup_buckets >= 2`` as the drop rule when
operating label-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from g_data_pipeline_spark.multimodal.media import image_phash
from g_data_pipeline_spark.operators.dedup import _incremental_band_label

DIRECTORY_SCHEMA = T.StructType(
    [
        T.StructField("band", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("owner_id", T.LongType()),
    ]
)


def structured_images(
    df: DataFrame, id_col: str, flip_cell: int | None = None
) -> DataFrame:
    """(id) -> (media_id, content) 8x8 fake images whose aHash pattern is
    a STRUCTURED function of the id (md5-derived 64-bit mask rendered as
    0/255 cells) — unlike ``media.synthetic_images``'s luma ramps, which
    aHash collapses to one hash (the r7 gotcha), these give every id a
    distinct perceptual fingerprint. ``flip_cell`` inverts one cell —
    exactly one Hamming bit — producing a planted near-dup variant.
    Fabricated executor-side via mapInPandas; the binary column never
    exists driver-side."""
    from g_data_pipeline_spark.multimodal.media import encode_fake_image

    def batches(it):
        import hashlib

        import pandas as pd

        for pdf in it:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                mid = int(mid)
                digest = hashlib.md5(str(mid).encode()).digest()
                mask = int.from_bytes(digest[:8], "big")
                px = bytearray(
                    255 if (mask >> i) & 1 else 0 for i in range(64)
                )
                if flip_cell is not None:
                    px[flip_cell] = 255 - px[flip_cell]
                ids.append(mid)
                blobs.append(encode_fake_image(8, 8, bytes(px)))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    return df.select(id_col).mapInPandas(
        batches, "media_id long, content binary"
    )


def hamming_band_rows(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    bands: int = 4,
    bits: int = 64,
) -> DataFrame:
    """(id, band, bucket) pigeonhole chunk rows from ANY integer hash
    column — the generic form of the chunk explode inside
    ``dedup._simhash_band_rows`` (which derives its hash from text
    first). Any pair within Hamming distance < ``bands`` shares one
    (band, bucket)."""
    assert bits % bands == 0, "bands must divide bits"
    chunk_bits = bits // bands
    mask = (1 << chunk_bits) - 1
    return hashed.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright(hash_col, bi * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def phash_neardup_pairs(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    codec: str = "fake",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Image near-dup pairs: (id_a, id_b, hamming) for pairs within
    ``max_hamming`` pHash bits. Complete for ``max_hamming < bands``
    (pigeonhole); candidates band-join, then the exact ``bit_count``
    verify — the simhash_pairs shape over the image hash."""
    hashed = image_phash(media, id_col, content_col, codec)
    rows = hamming_band_rows(hashed, "media_id", "phash", bands).join(
        hashed.select(F.col("media_id").alias("id"), "phash"), "id"
    )
    a = rows.select(
        F.col("id").alias("id_a"), F.col("phash").alias("ph_a"), "band", "bucket"
    )
    b = rows.select(
        F.col("id").alias("id_b"), F.col("phash").alias("ph_b"), "band", "bucket"
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ph_a", "ph_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def phash_band_directory(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    codec: str = "fake",
    bands: int = 4,
) -> DataFrame:
    """Persistent (band, bucket, owner_id) archive seeded from an
    existing image corpus — owner = MIN id per bucket, the convention
    every banded directory in the repo shares."""
    hashed = image_phash(media, id_col, content_col, codec)
    return (
        hamming_band_rows(hashed, "media_id", "phash", bands)
        .groupBy("band", "bucket")
        .agg(F.min("id").alias("owner_id"))
    )


def incremental_phash_neardup(
    batch: DataFrame,
    directory: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    codec: str = "fake",
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """A new dump's images against the growing archive. Returns
    ``(labeled, delta)``: labeled = (id, n_buckets, n_dup_buckets,
    is_dup) for EVERY batch image (undecodable rows fail loudly in the
    decode pass, matching media.py's corrupt-container contract);
    delta = survivors' new (band, bucket, owner_id) rows to append.
    Replay-stable by the shared core's construction. The banding bakes
    into the archive — pick ``bands`` per archive, once."""
    hashed = image_phash(batch, id_col, content_col, codec)
    rows = hamming_band_rows(hashed, "media_id", "phash", bands)
    return _incremental_band_label(
        hashed.select(F.col("media_id").alias("id")), rows, directory
    )


def neardup_phash_dedup(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    codec: str = "fake",
    bands: int = 4,
) -> DataFrame:
    """One-shot corpus form: exactly the incremental form against an
    EMPTY archive (the history-vs-one-shot twin convention), so batch,
    incremental, and streaming share one decision core."""
    spark = media.sparkSession
    empty = spark.createDataFrame([], DIRECTORY_SCHEMA)
    labeled, _ = incremental_phash_neardup(
        media, empty, id_col, content_col, codec, bands
    )
    return labeled


def phash_neardup_stream(
    stream: DataFrame,
    directory_table: str,
    out_table: str,
    checkpoint_dir: str,
    id_col: str = "media_id",
    content_col: str = "content",
    codec: str = "fake",
    bands: int = 4,
    timeout_s: int = 180,
    sink_name: str | None = None,
):
    """Exactly-once streaming twin via ``directory_cut_stream``:
    each micro-batch labels against the archive AS OF the version
    preceding its own delta commit (run-marker as-of read), then commits
    labels + the survivors' band-bucket delta through the txn manifest
    protocol — replays no-op on their run_ids and the shared core labels
    replay-stably."""
    from g_data_pipeline_spark.streaming.pipelines import (
        directory_cut_stream,
    )

    return directory_cut_stream(
        stream, directory_table, out_table, checkpoint_dir,
        lambda batch_df, directory: incremental_phash_neardup(
            batch_df, directory, id_col, content_col, codec, bands
        ),
        lambda batch_df: batch_df.sparkSession.createDataFrame(
            [], DIRECTORY_SCHEMA
        ),
        "phash near-dup stream", timeout_s, sink_name,
    )

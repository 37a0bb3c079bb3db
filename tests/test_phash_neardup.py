"""pHash (Hamming) image near-dup pins — the round-10 banded modality
through the shared decision core: pair completeness + exact verify,
one-shot/incremental twin agreement, replay stability, and the
exactly-once streaming twin. Fixtures vary STRUCTURE (checkerboards),
never just pixel offsets — aHash collapses every monotone ramp to one
hash (CLAUDE.md r7 gotcha)."""

from __future__ import annotations

from pyspark.sql import functions as F

from g_data_pipeline_spark.multimodal.media import encode_fake_image
from g_data_pipeline_spark.multimodal.phash_neardup import (
    DIRECTORY_SCHEMA,
    incremental_phash_neardup,
    neardup_phash_dedup,
    phash_band_directory,
    phash_neardup_pairs,
)


def _checker(flip: set[int] = frozenset(), invert: bool = False) -> bytes:
    """8x8 checkerboard pixels; ``flip`` indices get their value
    inverted (each flip moves exactly one aHash bit across the
    threshold); ``invert`` swaps the whole pattern (Hamming 64)."""
    px = bytearray()
    for i in range(64):
        r, c = divmod(i, 8)
        v = 255 if (r + c) % 2 == 0 else 0
        if invert:
            v = 255 - v
        if i in flip:
            v = 255 - v
        px.append(v)
    return encode_fake_image(8, 8, bytes(px))


def _media(spark, rows):
    return spark.createDataFrame(rows, ["media_id", "content"])


def test_pairs_found_and_verified(spark):
    df = _media(
        spark,
        [
            (1, _checker()),
            (2, _checker(flip={0})),          # Hamming 1 from 1
            (3, _checker(flip={0, 9, 18})),   # Hamming 3 from 1
            (4, _checker(invert=True)),       # Hamming 64 — no pair
        ],
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_neardup_pairs(df, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 1
    assert pairs[(1, 3)] == 3
    assert pairs[(2, 3)] == 2
    assert not any(4 in p for p in pairs)


def test_oneshot_labels_and_survivorship(spark):
    df = _media(
        spark,
        [
            (1, _checker()),
            (2, _checker(flip={0})),     # near-dup of 1 -> dup (1 < 2)
            (3, _checker(invert=True)),  # unique -> survivor
        ],
    )
    out = {r.id: r for r in neardup_phash_dedup(df).collect()}
    assert not out[1].is_dup and out[1].n_buckets == 4
    assert out[2].is_dup and out[2].n_dup_buckets == 3  # 3 shared chunks
    assert not out[3].is_dup


def test_incremental_twin_and_replay_stability(spark):
    batch1 = _media(spark, [(1, _checker()), (3, _checker(invert=True))])
    batch2 = _media(
        spark,
        [(10, _checker(flip={7})), (11, _checker(flip={0, 7, 9, 18, 27}))],
    )
    directory = phash_band_directory(batch1)
    labeled, delta = incremental_phash_neardup(batch2, directory)
    first = {r.id: (r.is_dup, r.n_dup_buckets) for r in labeled.collect()}
    # 10 is Hamming-1 from archived 1 -> dup; 11 is Hamming-5 (> bands)
    # so pigeonhole may or may not band-hit; pin what holds: 10 dup.
    assert first[10] == (True, 3)
    # replay: archive absorbed the delta; labels must not change
    merged = directory.unionByName(delta)
    replay = {
        r.id: (r.is_dup, r.n_dup_buckets)
        for r in incremental_phash_neardup(batch2, merged)[0].collect()
    }
    assert replay == first
    # one-shot over the full history agrees on batch2's labels
    full = _media(
        spark,
        [
            (1, _checker()),
            (3, _checker(invert=True)),
            (10, _checker(flip={7})),
            (11, _checker(flip={0, 7, 9, 18, 27})),
        ],
    )
    oneshot = {
        r.id: (r.is_dup, r.n_dup_buckets)
        for r in neardup_phash_dedup(full).collect()
    }
    assert {i: oneshot[i] for i in (10, 11)} == first


def test_streaming_twin_exactly_once(spark, tmp_path):
    from g_data_pipeline_spark.multimodal.phash_neardup import (
        phash_neardup_stream,
    )
    from g_data_pipeline_spark.sources import txn

    src = str(tmp_path / "src")
    dir_t = str(tmp_path / "dir")
    out_t = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(
            "media_id long, content binary"
        ).parquet(src)
        return phash_neardup_stream(stream, dir_t, out_t, ckpt)

    _media(spark, [(1, _checker()), (3, _checker(invert=True))]).write.mode(
        "append"
    ).parquet(src)
    run()
    _media(
        spark, [(10, _checker(flip={7})), (20, _checker(flip={0}))]
    ).write.mode("append").parquet(src)
    run()
    got = {r.id: r for r in txn.read_committed(spark, out_t).collect()}
    assert set(got) == {1, 3, 10, 20}
    assert not got[1].is_dup and not got[3].is_dup
    assert got[10].is_dup and got[20].is_dup  # both near 1, archived
    v = txn.latest_version(spark, out_t)
    apply_batch = run()  # no new files -> no new commits
    assert txn.latest_version(spark, out_t) == v

    # replaying batch 0 through the returned per-batch function no-ops on
    # its run ids: both tables keep their committed versions and rows
    def snapshot():
        return {
            t: (
                txn.latest_version(spark, t),
                sorted(map(tuple, txn.read_committed(spark, t).collect())),
            )
            for t in (out_t, dir_t)
        }

    before = snapshot()
    apply_batch(
        _media(spark, [(1, _checker()), (3, _checker(invert=True))]), 0
    )
    assert snapshot() == before


def test_empty_directory_schema_matches_delta(spark):
    """The declared DIRECTORY_SCHEMA unions cleanly with produced
    deltas (the contract the streaming twin relies on)."""
    df = _media(spark, [(1, _checker())])
    directory = spark.createDataFrame([], DIRECTORY_SCHEMA)
    _, delta = incremental_phash_neardup(df, directory)
    merged = directory.unionByName(delta)
    assert [f.name for f in merged.schema.fields] == [
        "band",
        "bucket",
        "owner_id",
    ]
    assert merged.count() == 4


def test_registry_entry_variants_all_dup(spark):
    """The m_phash_neardup corpus invariant: every planted one-bit
    variant (id >= 1e7) labels is_dup against its original."""
    from g_data_pipeline_spark.queries import REGISTRY
    from tests.conftest import SF_DIR_SMOKE

    out = REGISTRY["m_phash_neardup"].fn(spark, SF_DIR_SMOKE).collect()
    variants = [r for r in out if r.id >= 10_000_000]
    assert variants and all(r.is_dup for r in variants)

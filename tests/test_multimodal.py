"""Multimodal plumbing: codec contract, payload construction, resize
geometry, frame-sample fan-out. Byte-level correctness of the decode path
is covered by the mm_* oracle parity tests."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

from apache_flink_pratices_spark.operators.multimodal import (
    AUDIO_SAMPLES,
    IMG_C,
    IMG_H,
    IMG_W,
    FakeCodec,
    media_table,
    resize_images,
)

SF = "/root/testdata/sf0.001"

#: the media table's meta struct, for hand-built media frames
MEDIA_META_SCHEMA = (
    "struct<width:int, height:int, channels:int, sample_rate:int, n_frames:int>"
)


def test_payload_matches_md5_chain(spark):
    """The JVM-built binary payload must equal the md5 chain, byte for
    byte — pinning the construction both engines derive stats from."""
    row = media_table(spark, SF).filter(F.col("doc_id") == 0).collect()[0]
    assert row.media_type == "image"
    expected = b"".join(
        hashlib.md5(f"0-{i}".encode()).digest() for i in range(1, 49)
    )
    assert bytes(row.payload) == expected
    assert len(bytes(row.payload)) == IMG_W * IMG_H * IMG_C


#: the r14 payload builder it replaced: per-block unhex concat folded via
#: aggregate — O(blocks²) byte copies per row. Kept here as the equality
#: twin the linear unhex(array_join(...)) construction is pinned against
#: (VERDICT r14 #4: the rewrite landed in the end-of-round snapshot with
#: no executed evidence; this pin is that evidence, on the real table).
_PAYLOAD_FOLD_EXPR = (
    "aggregate(sequence(1, nb), CAST(X'' AS BINARY), "
    "(acc, i) -> concat(acc, unhex(md5(concat(CAST(doc_id AS STRING), '-', "
    "CAST(i AS STRING))))))"
)


def test_payload_linear_equals_fold_twin(spark):
    """unhex(array_join(md5 blocks)) must be byte-equal to the old
    aggregate-concat fold for every media type (48/64/48 blocks) AND the
    degenerate 1-block row — md5 hex is even-length, so
    unhex(h1 || h2) == unhex(h1) || unhex(h2) holds block by block."""
    m = media_table(spark, SF).limit(60).withColumn(
        "nb", (F.octet_length("payload") / 16).cast("int")
    )
    mismatches = m.filter(
        F.col("payload") != F.expr(_PAYLOAD_FOLD_EXPR)
    ).count()
    assert mismatches == 0
    types = {r.media_type for r in m.select("media_type").distinct().collect()}
    assert types == {"image", "audio", "video"}
    # degenerate single-block row
    one = (
        spark.range(7, 8)
        .select(F.col("id").alias("doc_id"), F.lit(1).alias("nb"))
        .select(
            F.expr(
                "unhex(array_join(transform(sequence(1, nb), "
                "i -> md5(concat(CAST(doc_id AS STRING), '-', "
                "CAST(i AS STRING)))), ''))"
            ).alias("linear"),
            F.expr(_PAYLOAD_FOLD_EXPR).alias("fold"),
        )
        .collect()[0]
    )
    assert bytes(one.linear) == bytes(one.fold)
    assert bytes(one.linear) == hashlib.md5(b"7-1").digest()


def test_meta_schema_per_type(spark):
    rows = {r.media_type: r for r in media_table(spark, SF).limit(50).collect()}
    assert rows["image"].meta.width == IMG_W and rows["image"].meta.channels == IMG_C
    assert rows["audio"].meta.sample_rate == 8000
    assert len(bytes(rows["audio"].payload)) == AUDIO_SAMPLES
    assert rows["video"].meta.n_frames == 4


def test_resize_pooling_geometry(spark):
    media = media_table(spark, SF)
    out = resize_images(media, factor=2)
    row = out.filter(F.col("doc_id") == 0).collect()[0]
    assert (row.width, row.height, row.channels) == (IMG_W // 2, IMG_H // 2, IMG_C)
    resized = np.frombuffer(bytes(row.resized), dtype=np.uint8)
    assert len(resized) == (IMG_W // 2) * (IMG_H // 2) * IMG_C
    # recompute pooled values from the payload in-process
    src = FakeCodec().decode(
        b"".join(hashlib.md5(f"0-{i}".encode()).digest() for i in range(1, 49)), {}
    ).reshape(IMG_H, IMG_W, IMG_C)
    pooled = (
        src.reshape(IMG_H // 2, 2, IMG_W // 2, 2, IMG_C)
        .astype(np.int64)
        .sum(axis=(1, 3))
        // 4
    ).astype(np.uint8)
    assert np.array_equal(resized.reshape(IMG_H // 2, IMG_W // 2, IMG_C), pooled)


def test_frame_sample_fanout(spark):
    from apache_flink_pratices_spark.operators.multimodal import mm_frame_sample

    out = mm_frame_sample(spark, SF)
    counts = out.groupBy("doc_id").count().collect()
    # 4 frames, every 2nd → exactly 2 rows per video
    assert counts and all(r["count"] == 2 for r in counts)
    idx = {r.frame_idx for r in out.select("frame_idx").distinct().collect()}
    assert idx == {0, 2}


def test_phash_twins_pair_and_strangers_dont(spark):
    """The brightness-shifted twin of every image must pair with its
    original within Hamming <= 3 (the shift-invariance an average hash
    exists for), and — on this md5-random corpus — no two unrelated
    images may collide."""
    from apache_flink_pratices_spark.operators.multimodal import mm_phash_pairs

    pairs = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in mm_phash_pairs(spark, SF).collect()
    )
    n_imgs = sum(1 for a, b, _ in pairs if b == a + 1 and a % 2 == 0)
    assert n_imgs == len(pairs), "unrelated images collided"
    # every image doc produced its twin pair
    from apache_flink_pratices_spark.operators.multimodal import media_table

    expected = (
        media_table(spark, SF).filter("media_type = 'image'").count()
    )
    assert n_imgs == expected
    assert all(h <= 3 for _, _, h in pairs)


def test_phash_pair_join_never_shuffles_payloads(spark):
    """Only 8-byte (id, phash) rows may cross an exchange: the binary
    payload column must not appear in any operator above the Arrow
    mapInPandas stage."""
    from apache_flink_pratices_spark.operators.multimodal import mm_phash_pairs
    from apache_flink_pratices_spark.plans.explain import formatted_plan

    spark.catalog.clearCache()
    plan = formatted_plan(mm_phash_pairs(spark, SF))
    # exchanges list their output attributes; none may carry the payload
    for line in plan.splitlines():
        if "Exchange" in line and "payload" in line:
            raise AssertionError(line)
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()


def test_video_phash_twins_pair_and_strangers_dont(spark):
    """Every video's brightness twin must pair with its original within
    the summed-frame Hamming budget, and no two unrelated md5-random
    videos may collide (VERDICT r12 #7)."""
    from apache_flink_pratices_spark.operators.multimodal import (
        VID_PHASH_HAMMING_MAX,
        mm_video_phash_pairs,
    )

    pairs = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in mm_video_phash_pairs(spark, SF).collect()
    )
    n_twin = sum(1 for a, b, _ in pairs if b == a + 1 and a % 2 == 0)
    assert n_twin == len(pairs), "unrelated videos collided"
    expected = media_table(spark, SF).filter("media_type = 'video'").count()
    assert n_twin == expected
    assert all(h <= VID_PHASH_HAMMING_MAX for _, _, h in pairs)


def test_video_phash_planted_twins_strangers_and_frame_alignment(spark):
    """Controlled corpus through the exact production plan
    (video_phash_band_pairs on a hand-built frame): an identical copy
    (hamming 0), a one-pixel-blasted near-twin (pairs, small hamming), a
    random stranger (no pair), and a FRAME-PERMUTED copy of the base —
    same frame hashes in a different order must NOT pair, because the
    bands are frame-aligned and the summed distance is per-position."""
    import numpy as np

    from apache_flink_pratices_spark.operators.multimodal import (
        VID_C,
        VID_FRAMES,
        VID_H,
        VID_W,
        video_phash_band_pairs,
    )

    rng = np.random.RandomState(3)
    frame_size = VID_W * VID_H * VID_C
    base = rng.randint(0, 256, size=VID_FRAMES * frame_size).astype(np.uint8)
    near = base.copy()
    near[0:3] = 255  # blast one pixel of frame 0
    stranger = rng.randint(0, 256, size=VID_FRAMES * frame_size).astype(np.uint8)
    permuted = (
        base.reshape(VID_FRAMES, frame_size)[::-1].reshape(-1).copy()
    )
    meta = {
        "width": VID_W,
        "height": VID_H,
        "channels": VID_C,
        "sample_rate": 0,
        "n_frames": VID_FRAMES,
    }
    rows = [
        (100, "video", meta, bytearray(base.tobytes())),
        (200, "video", meta, bytearray(base.tobytes())),  # identical copy
        (300, "video", meta, bytearray(near.tobytes())),
        (400, "video", meta, bytearray(stranger.tobytes())),
        (500, "video", meta, bytearray(permuted.tobytes())),
    ]
    df = spark.createDataFrame(
        rows,
        f"doc_id long, media_type string, meta {MEDIA_META_SCHEMA}, payload binary",
    )
    got = {
        frozenset((r.id_a // 2, r.id_b // 2)): r.hamming
        for r in video_phash_band_pairs(df).collect()
        if r.id_a // 2 != r.id_b // 2  # drop the within-doc twin pairs
        and r.id_a % 2 == 0 and r.id_b % 2 == 0  # base variants only
    }
    assert got.get(frozenset((100, 200))) == 0  # identical copy, exact
    assert frozenset((100, 300)) in got  # near-twin recovered
    assert frozenset((100, 400)) not in got  # stranger stays unpaired
    assert frozenset((100, 500)) not in got  # frame order matters


def test_video_phash_unequal_signature_lengths_never_strict_pair(spark):
    """ADVICE r13: a trimmed video (fewer frames -> shorter signature)
    shares frame-aligned band buckets with its original, so it mines as
    a candidate — but the strict verify must DROP it explicitly via the
    equal-length filter (not via a silent NULL hamming), matching the
    oracle's equal-frame-count guard. Trim tolerance belongs to the
    _shift variant, not the strict query."""
    import numpy as np

    from apache_flink_pratices_spark.operators.multimodal import (
        VID_C,
        VID_FRAMES,
        VID_H,
        VID_W,
        video_phash_band_pairs,
    )

    rng = np.random.RandomState(7)
    frame_size = VID_W * VID_H * VID_C
    base = rng.randint(0, 256, size=VID_FRAMES * frame_size).astype(np.uint8)
    trimmed = base[: (VID_FRAMES - 1) * frame_size]  # drop the LAST frame

    def meta(n):
        return {
            "width": VID_W,
            "height": VID_H,
            "channels": VID_C,
            "sample_rate": 0,
            "n_frames": n,
        }

    rows = [
        (100, "video", meta(VID_FRAMES), bytearray(base.tobytes())),
        (200, "video", meta(VID_FRAMES - 1), bytearray(trimmed.tobytes())),
    ]
    df = spark.createDataFrame(
        rows,
        f"doc_id long, media_type string, meta {MEDIA_META_SCHEMA}, payload binary",
    )
    pairs = video_phash_band_pairs(df).collect()
    cross = [r for r in pairs if r.id_a // 2 != r.id_b // 2]
    assert cross == [], f"unequal-length videos strict-paired: {cross}"
    # sanity: the within-doc brightness twins (equal lengths) still pair
    assert any(r.id_a // 2 == r.id_b // 2 for r in pairs)


def test_video_phash_pair_join_never_shuffles_payloads(spark):
    """Only (id, 4x8-byte signature) rows may cross an exchange — the
    video payload must never appear above the Arrow stage."""
    from apache_flink_pratices_spark.operators.multimodal import (
        mm_video_phash_pairs,
    )
    from apache_flink_pratices_spark.plans.explain import formatted_plan

    spark.catalog.clearCache()
    plan = formatted_plan(mm_video_phash_pairs(spark, SF))
    for line in plan.splitlines():
        if "Exchange" in line and "payload" in line:
            raise AssertionError(line)
    assert "MapInPandas" in plan

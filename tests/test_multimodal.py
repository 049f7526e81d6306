"""Multimodal plumbing tests: Arrow batch shape, determinism, and
payload-free metadata paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.operators import multimodal as mm
from geoscale_healthflow_etl_django_analytics_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    return mm.media_from_documents(load_table(spark, SF, "documents"))


def test_feature_extract_shape_and_determinism(spark, media):
    a = mm.extract_features(media).orderBy("media_id").limit(5).collect()
    b = mm.extract_features(media).orderBy("media_id").limit(5).collect()
    assert len(a) == 5
    for ra, rb in zip(a, b):
        assert ra.media_id == rb.media_id
        assert len(ra.feature) == mm.FEATURE_DIM
        assert ra.feature == rb.feature  # deterministic stub
        assert all(0.0 <= x < 1.0 for x in ra.feature)
        assert ra.feature_norm > 0


def test_resize_plan_bounds(spark, media):
    rows = mm.resize_plan(media).collect()
    for r in rows:
        assert max(r.target_width, r.target_height) <= 256
        if r.needs_resize:
            assert max(r.width, r.height) > 256


def test_frame_sample_only_videos(spark, media):
    rows = mm.frame_sample_plan(media).collect()
    vids = {r.media_id for r in rows}
    kinds = {r.media_id: r.kind for r in media.select("media_id", "kind").collect()}
    assert all(kinds[v] == "video" for v in vids)
    assert all(r.frame_idx % 10 == 0 for r in rows)


def test_features_feed_similarity_pipeline(spark, media):
    """The stub embeddings flow into the similarity operators — the
    multimodal path composes with ANN end-to-end."""
    feats = mm.extract_features(media).select(
        F.col("media_id").alias("vec_id"),
        F.col("feature").alias("embedding"),
        F.lit(0).alias("label"),
    )
    from geoscale_healthflow_etl_django_analytics_spark.operators.similarity import cosine_topk

    top = cosine_topk(feats, query_vec_id=int(feats.first().vec_id), k=3).collect()
    assert len(top) == 3
    assert all(-1.0 <= r.cosine_sim <= 1.0 for r in top)


# ------------------------------------------------------------- PNG


def test_png_roundtrip_all_filters():
    """Any image 5+ rows tall roundtrips through all five predictors."""
    import random

    from geoscale_healthflow_etl_django_analytics_spark.sources.png import (
        parse_png_bytes,
        write_png_bytes,
    )

    rng = random.Random(42)
    for w, h in [(1, 6), (3, 5), (12, 9), (2, 2)]:
        px = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(w * h)
        ]
        assert parse_png_bytes(write_png_bytes(w, h, px)) == (w, h, px)


def test_png_parser_matches_hand_computed_rfc_vectors():
    """Pin the DECODER to RFC 2083 worked by hand (independent of the
    writer, so a symmetric writer/parser bug cannot cancel): a 2x2
    RGB image with row 0 under filter 1 (Sub) and row 1 under filter
    4 (Paeth).  Raw rows [10,20,30|40,50,60] and [15,25,35|55,65,75]
    filter to [10,20,30,30,30,30] and [5,5,5,15,15,15] — the Paeth
    predictor resolves to `b` (up) for every byte of row 1."""
    import struct
    import zlib

    from geoscale_healthflow_etl_django_analytics_spark.sources.png import (
        parse_png_bytes,
    )

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    stream = bytes([1, 10, 20, 30, 30, 30, 30, 4, 5, 5, 5, 15, 15, 15])
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(stream))
        + chunk(b"IEND", b"")
    )
    w, h, px = parse_png_bytes(data)
    assert (w, h) == (2, 2)
    assert px == [(10, 20, 30), (40, 50, 60), (15, 25, 35), (55, 65, 75)]


def test_png_writer_emits_hand_computed_filtered_stream():
    """Pin the ENCODER to hand vectors: the writer stores row y under
    filter y%5, so this 2-row image uses None then Sub — raw rows
    [10,20,30|40,50,60] and [15,25,35|55,65,75] must serialize to
    [0, raw...] and [1, 15,25,35, 40,40,40] (Sub deltas vs the pixel
    3 bytes left).  With the decoder independently pinned to the
    RFC vectors above, the all-filters roundtrip test then pins the
    encoder for Up/Average/Paeth transitively."""
    import struct
    import zlib

    from geoscale_healthflow_etl_django_analytics_spark.sources.png import (
        write_png_bytes,
    )

    data = write_png_bytes(
        2, 2, [(10, 20, 30), (40, 50, 60), (15, 25, 35), (55, 65, 75)]
    )
    # walk chunks to the IDAT
    pos = 8
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        if ctype == b"IDAT":
            idat += data[pos + 8 : pos + 8 + length]
        pos += 12 + length
    assert zlib.decompress(idat) == bytes(
        [0, 10, 20, 30, 40, 50, 60, 1, 15, 25, 35, 40, 40, 40]
    )


def test_png_parser_rejects_corruption():
    import pytest as _pytest

    from geoscale_healthflow_etl_django_analytics_spark.sources.png import (
        parse_png_bytes,
        write_png_bytes,
    )

    good = bytearray(write_png_bytes(2, 2, [(1, 2, 3)] * 4))
    with _pytest.raises(ValueError, match="signature"):
        parse_png_bytes(b"\x00" + bytes(good[1:]))
    bad = bytearray(good)
    bad[40] ^= 0xFF  # flip a byte inside a chunk body -> CRC mismatch
    with _pytest.raises(ValueError, match="CRC"):
        parse_png_bytes(bytes(bad))


def test_png_decode_stats_matches_pixel_function(spark):
    """The Spark path (write -> decode -> resize -> stats) agrees with
    a direct numpy evaluation of the pixel function — the oracle's
    check, run in-process for a fast signal."""
    import numpy as np

    from geoscale_healthflow_etl_django_analytics_spark.operators import (
        multimodal as mm,
    )

    ids = spark.createDataFrame(
        [(i,) for i in (0, 1, 7, 23, 100)], "media_id long"
    )
    out = {
        r["media_id"]: r
        for r in mm.png_decode_resize_stats(mm.media_png_corpus(ids)).collect()
    }
    for mid in (0, 1, 7, 23, 100):
        w, h = mid % 12 + 2, mid % 9 + 2
        ow, oh = min(w, 8), min(h, 8)
        xs = [i * w // ow for i in range(ow)]
        ys = [j * h // oh for j in range(oh)]
        arr = np.array(
            [[mm._png_pixel(x, y, mid) for x in xs] for y in ys],
            dtype=np.int64,
        )
        r = out[mid]
        assert (r["width"], r["height"], r["out_w"], r["out_h"]) == (w, h, ow, oh)
        assert abs(r["mean_r"] - arr[:, :, 0].mean()) < 1e-6
        ii = np.arange(ow).reshape(1, ow)
        jj = np.arange(oh).reshape(oh, 1)
        chan = arr[:, :, 0] + 2 * arr[:, :, 1] + 3 * arr[:, :, 2]
        assert r["fingerprint"] == int((chan * (1 + ii + 2 * jj)).sum())


def test_png_malformed_payloads_raise_valueerror():
    """ADVICE r9 #4: the parser's error contract is ValueError for
    EVERY malformed payload — truncation, overlong chunk lengths,
    IDAT-before-IHDR, corrupt deflate — never a raw struct/zlib error."""
    import struct
    import zlib

    import pytest

    from geoscale_healthflow_etl_django_analytics_spark.sources import png

    good = png.write_png_bytes(3, 5, [(x, x, x) for x in range(15)])

    # truncated mid-chunk
    with pytest.raises(ValueError):
        png.parse_png_bytes(good[:20])
    # chunk length pointing past the buffer (CRC region truncated)
    with pytest.raises(ValueError):
        png.parse_png_bytes(good[:-4])
    # IDAT before IHDR
    sig = good[:8]
    idat = png._chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00"))
    with pytest.raises(ValueError, match="IDAT before IHDR"):
        png.parse_png_bytes(sig + idat)
    # corrupt deflate stream under a valid chunk CRC
    ihdr = png._chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
    bad = png._chunk(b"IDAT", b"not-deflate")
    iend = png._chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="deflate"):
        png.parse_png_bytes(sig + ihdr + bad + iend)

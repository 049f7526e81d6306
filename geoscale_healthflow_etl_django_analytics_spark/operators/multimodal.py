"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (training-data-pipeline op, per BASELINE.json north star).

Design for 100 TB of media:
- payloads are ``binary`` columns ride-along in parquet; metadata is
  a typed struct so pruning/filtering never touches bytes;
- decode / feature-extract / resize / frame-sample run as
  ``mapInPandas`` (Arrow-batched, one Python worker per partition —
  the only sanctioned Python hot path in this engine);
- the actual codec step is STUBBED: the image/audio libraries are
  not in this container, so ``extract_features`` derives a
  deterministic pseudo-decode from the payload's md5 (the Spark-side
  plumbing — schema, batching, partitioning — is real and tested).

The fake feature vector doubles as an embedding source, feeding the
similarity operators (operators/similarity.py) end-to-end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16

FEATURES_SCHEMA = (
    "media_id long, kind string, feature array<double>, feature_norm double"
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build an opaque-binary media table from the documents corpus
    (payload = utf-8 bytes; kind derived deterministically). Stands in
    for an image/audio ingest: bytes + typed metadata columns."""
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.octet_length(payload).alias("byte_len"),
        # typed metadata struct: prunable without touching payload
        F.struct(
            (F.col("doc_id") % 640 + 16).cast("int").alias("width"),
            (F.col("doc_id") % 480 + 16).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col("doc_id") % 120 + 1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def _fake_decode_features(payload: bytes) -> list[float]:
    """Deterministic pseudo-decode: FEATURE_DIM doubles in [0,1) from
    a chained md5 HEX digest (4 hex chars -> one value k/65536, exact
    in double). The chain hashes the hex STRING, not raw bytes, so an
    ANSI-SQL oracle can replay it (md5(text), md5(md5(text)), ...) —
    the registry's mm_feature_extract query is value-hash checked
    against DuckDB on exactly this recurrence. Replace with a real
    codec + model when the libraries exist; the contract
    (bytes -> fixed-dim float vector) is what the pipeline depends on."""
    out: list[float] = []
    hex_digest = hashlib.md5(payload).hexdigest()
    while len(out) < FEATURE_DIM:
        for i in range(0, len(hex_digest) - 3, 4):
            out.append(int(hex_digest[i : i + 4], 16) / 65536.0)
            if len(out) == FEATURE_DIM:
                break
        hex_digest = hashlib.md5(hex_digest.encode("ascii")).hexdigest()
    return out


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over payload bytes.

    ``mapInPandas`` processes each partition as an iterator of pandas
    batches — constant memory per worker regardless of corpus size;
    partitioning (and thus parallelism) is inherited from the input.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        def _norm(vec: list[float]) -> float:
            # sequential (not pairwise) sum + half-up round(6): the
            # exact double arithmetic an ANSI-SQL oracle reproduces
            # with a left-assoc sum-of-squares and round(x, 6).
            acc = 0.0
            for v in vec:
                acc += v * v
            return math.floor(math.sqrt(acc) * 1e6 + 0.5) / 1e6

        for pdf in batches:
            feats = [_fake_decode_features(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "feature_norm": [_norm(f) for f in feats],
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        _extract, FEATURES_SCHEMA
    )


def resize_plan(media: DataFrame) -> DataFrame:
    """Resize planning to at most 256 px a side happens on METADATA
    only — the payload column
    is never read (verify via .explain: the parquet scan prunes it).
    The actual pixel resize would be one more mapInPandas over the
    rows where needs_resize."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(256) / w, F.lit(256) / h, F.lit(1.0))
    return media.select(
        "media_id",
        "kind",
        w.alias("width"),
        h.alias("height"),
        (w * scale).cast("int").alias("target_width"),
        (h * scale).cast("int").alias("target_height"),
        (scale < 1.0).alias("needs_resize"),
    )


def frame_sample_plan(media: DataFrame) -> DataFrame:
    """Frame sampling plan for video rows: explode every 10th frame
    index from metadata (again payload-free)."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(10))
            ).alias("frame_idx"),
        )
    )


# ---------------------------------------------------------------------------
# REAL image path (round 4): BMP is fully public and stdlib-decodable,
# so decode -> resize -> stats runs on actual pixel bytes (the other
# codecs stay stubbed until their libraries exist).
# ---------------------------------------------------------------------------

BMP_STATS_SCHEMA = (
    "media_id long, width int, height int, out_w int, out_h int, "
    "mean_r double, mean_g double, mean_b double, fingerprint long"
)


MEDIA_ROWS_PER_TASK = 512


def _spread_ids(ids: DataFrame) -> DataFrame:
    """Spread the tiny id scan across the cluster BEFORE the Python
    payload stage: a single-file scan is one partition, so the whole
    mapInPandas corpus generation — and every decode stage downstream,
    which inherits the partitioning — would otherwise run as ONE task
    regardless of core count (r12: mm_bmp_decode_stats measured 8.3 s
    single-task vs the multi-task codec twins at 1.2 s; guide §2.5
    input skew / §4 parallelism ahead of the Python boundary).
    Hash-partitioned on media_id: deterministic under retry, and the
    per-row generation makes any partitioning result-identical.

    The spread width is WORK-derived, not a core-count constant
    (guide §2: scale-adaptive partitioning): every partition of a
    Python stage pays a worker startup (fork + pandas/pyarrow imports,
    ~100-300 ms each when the reused pool is cold), so a tiny id table
    split defaultParallelism ways makes the cold cost GROW with the
    core count while the decode work stays constant — measured
    anti-scaling in the full bench session.  Target ≥
    MEDIA_ROWS_PER_TASK payloads per task (amortizes the startup),
    capped at the core budget; at corpus scale the id scan arrives
    pre-split wider than the cap and this helper is a no-op, exactly
    as before.  The row count is a parquet-footer aggregate under
    aggregatePushdown, not a table scan.

    r13 (ADVICE r12 #3): the (memoized) partition probe runs FIRST —
    a frame already at least core-budget wide (the corpus-scale case,
    or a caller passing a filtered/derived frame that would make the
    count a real job) returns without running the count action at
    all; the count only fires when a repartition decision is
    actually on the table."""
    from ..sources.catalog import _num_partitions, ensure_parallelism
    from ..session import default_parallelism

    ids = ids.select("media_id")
    cap = default_parallelism()
    if _num_partitions(ids) >= cap:
        return ids
    n = ids.count()
    target = max(1, min(cap, -(-n // MEDIA_ROWS_PER_TASK)))
    return ensure_parallelism(ids, min_parts=target, key="media_id")


def _media_corpus(
    ids: DataFrame, payload_of: Callable[[int], bytes]
) -> DataFrame:
    """One payload per input row (``media_id`` long column), the bytes
    given by ``payload_of(media_id)``.  Built in mapInPandas over the
    spread ids so payload generation is distributed exactly like a
    binaryFile ingest would be."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [payload_of(int(m)) for m in pdf["media_id"]],
                }
            )

    return _spread_ids(ids).mapInPandas(
        _gen, "media_id long, payload binary"
    )


def _decode_stats(
    media: DataFrame, row_of: Callable[[int, bytes], tuple], schema: str
) -> DataFrame:
    """Arrow-batched decode: one ``row_of(media_id, payload)`` tuple
    per media row, in the column order of ``schema``."""
    columns = [field.split()[0] for field in schema.split(",")]

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    row_of(int(mid), bytes(payload))
                    for mid, payload in zip(pdf["media_id"], pdf["payload"])
                ],
                columns=columns,
            )

    return media.mapInPandas(_stats, schema)


def _resize_stats_row(mid: int, w: int, h: int, px: list) -> tuple:
    """numpy nearest-neighbor resize of decoded RGB pixels (out dim =
    min(side, 8), source index = i*src//dst — pure integer
    arithmetic) → a :data:`BMP_STATS_SCHEMA` row: channel means over
    the RESIZED pixels plus the position-weighted fingerprint
    Σ (r + 2g + 3b)·(1 + i + 2j)."""
    arr = np.array(px, dtype=np.int64).reshape(h, w, 3)
    ow, oh = min(w, 8), min(h, 8)
    xs = [i * w // ow for i in range(ow)]
    ys = [j * h // oh for j in range(oh)]
    out = arr[np.ix_(ys, xs)]  # (oh, ow, 3)
    n = ow * oh
    sums = out.sum(axis=(0, 1))
    ii = np.arange(ow).reshape(1, ow)
    jj = np.arange(oh).reshape(oh, 1)
    weight = 1 + ii + 2 * jj
    chan = out[:, :, 0] + 2 * out[:, :, 1] + 3 * out[:, :, 2]
    fp = int((chan * weight).sum())
    return (
        mid, w, h, ow, oh,
        _round6(sums[0] / n),
        _round6(sums[1] / n),
        _round6(sums[2] / n),
        fp,
    )


def _bmp_pixel(x: int, y: int, mid: int) -> tuple:
    """Deterministic synthetic pixel — integer arithmetic an ANSI-SQL
    oracle replays verbatim (registry.py::mm_bmp_decode_stats)."""
    return (
        (x * 7 + y * 3 + mid) % 256,
        (x * 5 + y * 11 + 2 * mid) % 256,
        (x * 13 + y + 3 * mid) % 256,
    )


def media_bmp_corpus(ids: DataFrame) -> DataFrame:
    """One real 24-bit BMP payload per input row (``media_id`` long
    column): width = id%13+2, height = id%11+2, pixels from
    :func:`_bmp_pixel`."""
    from ..sources.bmp import write_bmp_bytes

    def _payload(mid: int) -> bytes:
        w, h = mid % 13 + 2, mid % 11 + 2
        return write_bmp_bytes(
            w, h, [_bmp_pixel(x, y, mid) for y in range(h) for x in range(w)]
        )

    return _media_corpus(ids, _payload)


def bmp_decode_resize_stats(media: DataFrame) -> DataFrame:
    """The real multimodal hot path: Arrow-batched BMP decode →
    :func:`_resize_stats_row`. The fingerprint is position-sensitive
    on purpose: a row-flip, BGR swap or padding slip in the decoder
    shifts it even when the means survive, and the DuckDB oracle
    recomputes it independently from the pixel function — the same
    writer-vs-independent-oracle proof pattern as the GeoTIFF path."""
    from ..sources.bmp import parse_bmp_bytes

    return _decode_stats(
        media,
        lambda mid, payload: _resize_stats_row(mid, *parse_bmp_bytes(payload)),
        BMP_STATS_SCHEMA,
    )


def _png_pixel(x: int, y: int, mid: int) -> tuple:
    """Deterministic synthetic pixel for the PNG path — different
    coefficients than :func:`_bmp_pixel` so the two codec queries
    never share outputs; integer arithmetic an ANSI-SQL oracle
    replays verbatim (registry.py::mm_png_decode_stats)."""
    return (
        (x * 11 + y * 5 + mid) % 256,
        (x * 3 + y * 13 + 2 * mid) % 256,
        (x * 7 + y * 17 + 3 * mid) % 256,
    )


def media_png_corpus(ids: DataFrame) -> DataFrame:
    """One real 8-bit RGB PNG payload per input row: width = id%12+2,
    height = id%9+2, pixels from :func:`_png_pixel`.  The writer
    (sources/png.py) stores scanline y under filter y % 5, so every
    payload taller than 4 rows exercises ALL five PNG predictors —
    the decode below must reverse Sub/Up/Average/Paeth correctly or
    the oracle hash breaks."""
    from ..sources.png import write_png_bytes

    def _payload(mid: int) -> bytes:
        w, h = mid % 12 + 2, mid % 9 + 2
        return write_png_bytes(
            w, h, [_png_pixel(x, y, mid) for y in range(h) for x in range(w)]
        )

    return _media_corpus(ids, _payload)


def png_decode_resize_stats(media: DataFrame) -> DataFrame:
    """PNG twin of :func:`bmp_decode_resize_stats`: Arrow-batched
    inflate + unfilter (all five predictors) + CRC verify →
    :func:`_resize_stats_row`, independently recomputed by the oracle
    from the pixel function (it never parses PNG)."""
    from ..sources.png import parse_png_bytes

    return _decode_stats(
        media,
        lambda mid, payload: _resize_stats_row(mid, *parse_png_bytes(payload)),
        BMP_STATS_SCHEMA,
    )


def _round6(x: float) -> float:
    """Half-up round(6) on the binary double — matches DuckDB round."""
    import math

    return math.floor(float(x) * 1e6 + 0.5) / 1e6


WAV_STATS_SCHEMA = (
    "media_id long, sample_rate int, n_samples int, "
    "rms double, peak int, zero_crossings int"
)


def _wav_sample(t: int, mid: int) -> int:
    """Deterministic synthetic PCM sample in (-1002, 1002) — integer
    arithmetic an ANSI-SQL oracle replays verbatim."""
    return (t * t * mid + 7 * t) % 2003 - 1001


def media_wav_corpus(ids: DataFrame) -> DataFrame:
    """One real mono 16-bit PCM 16 kHz WAV payload per ``media_id`` row;
    n_samples = id%50+20, samples from :func:`_wav_sample`."""
    from ..sources.wav import write_wav_bytes

    def _payload(mid: int) -> bytes:
        return write_wav_bytes([_wav_sample(t, mid) for t in range(mid % 50 + 20)])

    return _media_corpus(ids, _payload)


def wav_decode_stats(media: DataFrame) -> DataFrame:
    """Real audio decode hot path: Arrow-batched WAV parse → per-clip
    RMS (exact integer sum of squares, one sqrt, half-up round 6),
    peak |sample|, and sign-change zero-crossing count (zeros are
    sign-neutral: crossings counted between consecutive NONZERO
    samples, the convention the SQL oracle mirrors with a lag over
    the filtered sequence)."""
    import math

    from ..sources.wav import parse_wav_bytes

    def _row(mid: int, payload: bytes) -> tuple:
        rate, s = parse_wav_bytes(payload)
        n = len(s)
        sq = sum(v * v for v in s)
        rms = math.floor(math.sqrt(sq / n) * 1e6 + 0.5) / 1e6
        nz = [v for v in s if v != 0]
        zc = sum(1 for a, b in zip(nz, nz[1:]) if (a < 0) != (b < 0))
        return (mid, rate, n, rms, max(abs(v) for v in s), zc)

    return _decode_stats(media, _row, WAV_STATS_SCHEMA)


def media_jpeg_corpus(ids: DataFrame) -> DataFrame:
    """One real baseline-JPEG payload per input row (``media_id``):
    a grayscale image of 8x8 BLOCK-CONSTANT tiles — width
    (id%3+1)*8, height (id%2+1)*8, block value
    ((bx*7 + by*13 + id) % 256) — encoded by the pure-stdlib T.81
    codec with a unit quantization table, so decode is bit-exact
    (sources/jpeg.py docstring)."""
    from ..sources.jpeg import encode_gray

    def _payload(mid: int) -> bytes:
        w, h = (mid % 3 + 1) * 8, (mid % 2 + 1) * 8
        img = (
            (np.arange(w)[None, :] // 8) * 7
            + (np.arange(h)[:, None] // 8) * 13
            + mid
        ).astype(np.int64) % 256
        return encode_gray(img.astype(np.uint8), quant=1)

    return _media_corpus(ids, _payload)


JPEG_STATS_SCHEMA = (
    "media_id long, width int, height int, mean_lum double, fingerprint long"
)


def jpeg_decode_stats(media: DataFrame) -> DataFrame:
    """Arrow-batched JPEG decode → per-image mean luminance + the
    position-weighted fingerprint Σ v(x,y)·(1 + x + 2y); like
    bmp_decode_resize_stats the oracle recomputes both from the
    pixel function (never parsing JPEG), so a block-order, zigzag or
    Huffman slip in the decoder breaks the hash.

    MEASURED COST BOUND (BENCH_scale_r7, local[32]): encode+decode of
    1M small images in 86.8 s ≈ 0.09 ms/image, linear x1→x200 — the
    r7 codec rework (cached 16-bit Huffman LUT + unstuffed word-refill
    bit reader + batched IDCT, byte-identical output) took the decode
    itself 4.8x down; per-IMAGE Python/Arrow overhead dominates at
    these sizes, and throughput on real photos is bounded by the
    table-driven Python entropy decoder (~5-10 MB/s/core of
    compressed payload). At 100 TB the
    codec inside ``_row`` must be swapped for a JVM/native one
    (e.g. ImageIO via a JVM UDF or GPU decode); every Spark-side
    piece — binary column schema, mapInPandas batching, partitioning,
    the oracle-independent stats contract — is codec-agnostic and
    carries over unchanged."""
    from ..sources.jpeg import decode_gray

    def _row(mid: int, payload: bytes) -> tuple:
        arr = decode_gray(payload).astype(np.int64)
        h, w = arr.shape
        xs = np.arange(w).reshape(1, w)
        ys = np.arange(h).reshape(h, 1)
        fp = int((arr * (1 + xs + 2 * ys)).sum())
        return (mid, w, h, _round6(arr.sum() / (w * h)), fp)

    return _decode_stats(media, _row, JPEG_STATS_SCHEMA)

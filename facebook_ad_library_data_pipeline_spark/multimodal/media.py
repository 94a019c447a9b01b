"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata (north-star surface).

The image path is REAL end-to-end with zero native dependencies:
``bmp.py`` implements an uncompressed 24-bit BMP codec in pure numpy,
``png.py`` a non-interlaced 8-bit RGB PNG codec on stdlib zlib (all
five row filters), and ``jpeg.py`` a baseline-sequential JPEG codec
(Huffman + 8×8 DCT, Annex K tables). The pixel-stats queries encode
deterministic fixture pixels to actual BMP/PNG/JPEG bytes, decode them
back in a row function, and emit true per-channel pixel statistics
that a DuckDB oracle reproduces in closed form (for JPEG via DC-only
fixture blocks, whose lossy round trip is exactly predictable).

Every codec query of the family (here and in ``phash.py``) is a row
function run by ``fixture_rows``, the family's one ``mapInPandas``;
``per_doc`` runs one over the fanned-out documents ``doc_id`` scan.

At scale: binary payloads ride in parquet; feature extraction is an
embarrassingly parallel map over whatever partitioning the scan
produced — no shuffle at all.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from ..catalog import fan_out, load_table
from ..registry import query
from .bmp import decode_bmp24, encode_bmp24
from .jpeg import decode_jpeg, encode_jpeg_rgb444
from .png import decode_png_rgb, encode_png_rgb
from .wav import decode_wav_pcm16, encode_wav_pcm16


def fixture_rows(
    df: DataFrame, rows_of: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """The family's one Arrow-batched map: ``rows_of(*row)`` runs on
    each input row's values, in ``df``'s column order, and returns the
    tuples that row yields, in ``schema``'s column order. Each batch's
    frame carries the schema's column names, so a batch that yields no
    rows still has every column."""
    names = DataType.fromDDL(schema).names

    def batches(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in pdfs:
            rows = [
                out for row in pdf.itertuples(index=False, name=None) for out in rows_of(*row)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(batches, schema=schema)


def per_doc(
    spark: SparkSession, sf_dir: str, rows_of: Callable[[int], Iterable[tuple]], schema: str
) -> DataFrame:
    """``fixture_rows`` over the documents ``doc_id`` scan. fan_out
    spreads the narrow single-split local scan across cores before the
    CPU-heavy Python codec (a no-op at real scale, where
    maxPartitionBytes already yields many splits)."""
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id"))
    return fixture_rows(docs, rows_of, schema)


def channel_means(img) -> list[float]:
    """Per-channel means of an array whose last axis is the channel
    (pixels (H, W, C) or samples (N, C)): exact integer sums divided by
    the element count, one correctly rounded IEEE division each, so the
    double is the oracle's ``avg`` bit for bit."""
    flat = img.reshape(-1, img.shape[-1]).astype("int64")
    return [int(s) / flat.shape[0] for s in flat.sum(axis=0)]


def decode_image_compressed(payload: bytes):
    """Format-sniffing image decode over the three real codecs: BMP
    (bmp.py, pure numpy), PNG (png.py, stdlib zlib), JPEG (jpeg.py,
    baseline Huffman + DCT). Unknown magic raises ValueError naming
    the leading bytes — no silent fallbacks, no stubs left."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_rgb(payload)
    if payload[:2] == b"BM":
        return decode_bmp24(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    raise ValueError(f"unrecognized image magic {payload[:4]!r}")


_META_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS payload_bytes,
       md5(text)                  AS payload_md5,
       CASE WHEN octet_length(encode(text)) >= 400 THEN 'large'
            WHEN octet_length(encode(text)) >= 150 THEN 'medium'
            ELSE 'small' END      AS size_class
FROM documents
"""


@query("q_multimodal_meta", oracle=_META_ORACLE, tags=("llm", "multimodal"))
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata: documents.text re-encoded as an opaque
    binary payload (the testdata has no real media bytes) → byte length,
    content digest, size class. All JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    size_class = (
        F.when(F.octet_length(payload) >= 400, "large")
        .when(F.octet_length(payload) >= 150, "medium")
        .otherwise("small")
    )
    return docs.select(
        "doc_id",
        F.octet_length(payload).alias("payload_bytes"),
        F.md5(payload).alias("payload_md5"),
        size_class.alias("size_class"),
    )


# Histogram emitted as 16 SCALAR columns (hist_0..hist_15), not an
# array<double>: downstream consumers (and the driver's row
# canonicalizer) expect sortable/hashable flat columns; a Python-list
# cell defeats both columnar storage and row comparison.
N_HIST_BINS = 16
FEATURE_SCHEMA = "doc_id long, n_bytes long, mean_byte double, std_byte double, " + ", ".join(
    f"hist_{i} double" for i in range(N_HIST_BINS)
)


def extract_byte_features(doc_id: int, payload: bytes) -> list[tuple]:
    """Feature extractor: deterministic byte statistics as the stand-in
    for pixel statistics (a real decoder would slot in at the marked
    line).

    The floats are formed from EXACT INTEGER MOMENTS (s1=Σb, s2=Σb²,
    per-bin counts — all exact in int64) through the same expression
    tree the DuckDB oracle uses (s1/n; sqrt(max(0, s2/n − (s1/n)²));
    count/n). Division and sqrt are IEEE correctly-rounded, so the
    doubles match bit-for-bit across engines — the same no-libm rule
    as q_top_terms, making this Python path fully hash-checkable."""
    import math

    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    # <-- real image/audio decode would replace `arr` here
    n = int(arr.size)
    s1 = int(arr.sum())
    s2 = int((arr.astype(np.int64) ** 2).sum())
    mean = s1 / n if n else 0.0
    var = (s2 / n - (s1 / n) * (s1 / n)) if n else 0.0
    counts = np.bincount(arr >> 4, minlength=N_HIST_BINS)
    hist = [int(counts[i]) / max(n, 1) for i in range(N_HIST_BINS)]
    return [(doc_id, n, mean, math.sqrt(max(0.0, var)), *hist)]


_HIST_SQL = ",\n           ".join(
    f"sum(CASE WHEN v // 16 = {i} THEN 1 ELSE 0 END) AS h_{i}"
    for i in range(N_HIST_BINS)
)
_HIST_SELECT = ",\n       ".join(
    f"CASE WHEN m.n IS NULL THEN 0.0 ELSE m.h_{i} / m.n END AS hist_{i}"
    for i in range(N_HIST_BINS)
)

# The payload is UTF-8 of ASCII-only synthetic text, so byte values ==
# ascii() code points (pinned by tests/test_testdata_invariants.py —
# a regeneration introducing non-ASCII must fail loudly, not drift).
_FEATURES_ORACLE = f"""
WITH b AS (
    SELECT doc_id, ascii(substring(text, i.i, 1)) AS v
    FROM documents, unnest(range(1, len(text) + 1)) AS i(i)
),
m AS (
    SELECT doc_id, count(*) AS n, sum(v) AS s1, sum(v * v) AS s2,
           {_HIST_SQL}
    FROM b GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(m.n, 0) AS n_bytes,
       CASE WHEN m.n IS NULL THEN 0.0 ELSE m.s1 / m.n END AS mean_byte,
       CASE WHEN m.n IS NULL THEN 0.0
            ELSE sqrt(greatest(0.0, m.s2 / m.n - (m.s1 / m.n) * (m.s1 / m.n)))
       END AS std_byte,
       {_HIST_SELECT}
FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
"""


@query("q_multimodal_features", oracle=_FEATURES_ORACLE, tags=("llm", "multimodal"))
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads through fixture_rows'
    Arrow batches and explicit schema; deterministic byte features
    (mean/std/16-bin high-nibble histogram) built from exact integer
    moments so the DuckDB oracle reproduces every double bit-for-bit
    (see extract_byte_features)."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return fixture_rows(payloads, extract_byte_features, FEATURE_SCHEMA)


# Fixture image geometry: width 15 forces BMP row padding (45 -> 48
# bytes), height 12 != width catches axis transposition in the codec.
IMG_W, IMG_H = 15, 12


def synth_pixels(doc_id: int):
    """Deterministic fixture pixels — pure arithmetic, no RNG:
    v(y, x, c) = (doc_id*7 + y*31 + x*13 + c*5) mod 256. The DuckDB
    oracle reproduces the same closed form, so decoded pixel stats are
    exactly checkable."""
    import numpy as np

    y = np.arange(IMG_H).reshape(-1, 1, 1)
    x = np.arange(IMG_W).reshape(1, -1, 1)
    c = np.arange(3).reshape(1, 1, -1)
    return ((doc_id * 7 + y * 31 + x * 13 + c * 5) % 256).astype(np.uint8)


PIXEL_STATS_SCHEMA = (
    "doc_id long, width int, height int, payload_bytes long, "
    "mean_r double, mean_g double, mean_b double"
)


def _bmp_roundtrip_stats(doc_id: int) -> list[tuple]:
    """Encode fixture pixels to REAL BMP bytes, decode them back with
    the pure-numpy codec, and emit stats computed from the DECODED
    array only — any codec defect (stride, bottom-up rows, BGR order)
    breaks the oracle match."""
    doc_id = int(doc_id)
    payload = encode_bmp24(synth_pixels(doc_id))
    img = decode_bmp24(payload)
    h, w, _ = img.shape
    return [(doc_id, w, h, len(payload), *channel_means(img))]


_PIXEL_STATS_ORACLE = f"""
WITH px AS (
    SELECT d.doc_id, y.y, x.x
    FROM documents d,
         generate_series(0, {IMG_H - 1}) AS y(y),
         generate_series(0, {IMG_W - 1}) AS x(x)
)
SELECT doc_id,
       {IMG_W} AS width,
       {IMG_H} AS height,
       {14 + 40 + IMG_H * ((IMG_W * 3 + 3) // 4 * 4)}::BIGINT AS payload_bytes,
       CAST(avg((doc_id * 7 + y * 31 + x * 13 + 0) % 256) AS DOUBLE) AS mean_r,
       CAST(avg((doc_id * 7 + y * 31 + x * 13 + 5) % 256) AS DOUBLE) AS mean_g,
       CAST(avg((doc_id * 7 + y * 31 + x * 13 + 10) % 256) AS DOUBLE) AS mean_b
FROM px
GROUP BY doc_id
"""


@query("q_multimodal_pixel_stats", oracle=_PIXEL_STATS_ORACLE, tags=("llm", "multimodal"))
def q_multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-checked: per doc, encode deterministic
    fixture pixels to actual 24-bit BMP bytes, decode them back with the
    pure-numpy codec (bmp.py), and report per-channel means from the
    decoded array. DuckDB computes the same stats in closed form — a
    codec bug (padding, row order, channel order) fails the hash."""
    return per_doc(spark, sf_dir, _bmp_roundtrip_stats, PIXEL_STATS_SCHEMA)


PNG_STATS_SCHEMA = (
    "doc_id long, width int, height int, n_px long, "
    "mean_r double, mean_g double, mean_b double"
)


def _png_roundtrip_stats(doc_id: int) -> list[tuple]:
    """Encode fixture pixels to REAL PNG bytes (zlib IDAT, filter types
    cycling 0-4 by row), decode them back with the stdlib codec, and
    emit stats from the DECODED array only — a defect in any of the
    five filter reconstructions, the chunk CRCs, or the zlib framing
    breaks the oracle match. (Unlike BMP, the payload byte size is
    compressor-dependent, so the oracle checks pixel stats, not size.)"""
    doc_id = int(doc_id)
    img = decode_image_compressed(encode_png_rgb(synth_pixels(doc_id)))
    h, w, _ = img.shape
    return [(doc_id, w, h, h * w, *channel_means(img))]


_PNG_STATS_ORACLE = f"""
WITH px AS (
    SELECT d.doc_id, y.y, x.x
    FROM documents d,
         generate_series(0, {IMG_H - 1}) AS y(y),
         generate_series(0, {IMG_W - 1}) AS x(x)
)
SELECT doc_id,
       {IMG_W} AS width,
       {IMG_H} AS height,
       {IMG_W * IMG_H}::BIGINT AS n_px,
       CAST(avg((doc_id * 7 + y * 31 + x * 13 + 0) % 256) AS DOUBLE) AS mean_r,
       CAST(avg((doc_id * 7 + y * 31 + x * 13 + 5) % 256) AS DOUBLE) AS mean_g,
       CAST(avg((doc_id * 7 + y * 31 + x * 13 + 10) % 256) AS DOUBLE) AS mean_b
FROM px
GROUP BY doc_id
"""


@query("q_png_pixel_stats", oracle=_PNG_STATS_ORACLE, tags=("llm", "multimodal"))
def q_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode, oracle-checked: per doc, encode
    deterministic fixture pixels to actual PNG bytes (stdlib-zlib IDAT,
    all five row filters exercised) and decode them back through
    decode_image_compressed's format sniffing. DuckDB reproduces the
    per-channel means in closed form. At scale the shape is identical
    to the BMP path: per_doc's embarrassingly parallel map."""
    return per_doc(spark, sf_dir, _png_roundtrip_stats, PNG_STATS_SCHEMA)


# JPEG fixture geometry: 16x16 = 2x2 blocks of 8x8, each uniform gray
# v(doc, by, bx) — uniform blocks are DC-only, making the lossy round
# trip exactly predictable (see jpeg.py docstring).
JPEG_BLOCKS = 2


def synth_jpeg_pixels(doc_id: int):
    """2x2 grid of uniform-gray 8x8 blocks, v = (doc_id*11 + by*37 +
    bx*17) mod 256, replicated across RGB (gray keeps Cb=Cr=128 so the
    chroma path decodes exactly)."""
    import numpy as np

    side = JPEG_BLOCKS * 8
    img = np.zeros((side, side, 3), dtype=np.uint8)
    for by in range(JPEG_BLOCKS):
        for bx in range(JPEG_BLOCKS):
            v = (doc_id * 11 + by * 37 + bx * 17) % 256
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, :] = v
    return img


JPEG_STATS_SCHEMA = (
    "doc_id long, width int, height int, mean_r double, mean_g double, mean_b double"
)


def _jpeg_roundtrip_stats(doc_id: int) -> list[tuple]:
    """Encode fixture pixels to REAL baseline JPEG bytes (Huffman +
    DCT + quantization), decode them back with the pure-numpy decoder,
    and emit stats from the DECODED array only — a defect anywhere in
    the entropy coding, zigzag, dequantization, IDCT, or color
    conversion shifts the means off the closed form."""
    doc_id = int(doc_id)
    img = decode_image_compressed(encode_jpeg_rgb444(synth_jpeg_pixels(doc_id)))
    h, w, _ = img.shape
    return [(doc_id, w, h, *channel_means(img))]


# decoded uniform block value: clamp(2*round_half_away((v-128)/2)+128)
_JPEG_DECODED_SQL = (
    "LEAST(255.0, GREATEST(0.0, "
    "2 * round(((doc_id * 11 + by.by * 37 + bx.bx * 17) % 256 - 128) / 2.0) + 128))"
)

_JPEG_STATS_ORACLE = f"""
WITH px AS (
    SELECT d.doc_id, {_JPEG_DECODED_SQL} AS decoded
    FROM documents d,
         generate_series(0, {JPEG_BLOCKS - 1}) AS by(by),
         generate_series(0, {JPEG_BLOCKS - 1}) AS bx(bx)
)
SELECT doc_id,
       {JPEG_BLOCKS * 8} AS width,
       {JPEG_BLOCKS * 8} AS height,
       CAST(avg(decoded) AS DOUBLE) AS mean_r,
       CAST(avg(decoded) AS DOUBLE) AS mean_g,
       CAST(avg(decoded) AS DOUBLE) AS mean_b
FROM px
GROUP BY doc_id
"""


@query("q_jpeg_pixel_stats", oracle=_JPEG_STATS_ORACLE, tags=("llm", "multimodal"))
def q_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-compressed decode, oracle-checked: per doc, encode
    deterministic uniform-block fixtures to actual baseline JPEG bytes
    and decode them back through format sniffing. DC-only blocks make
    the quantization round trip exactly predictable, so DuckDB computes
    the decoded channel means in closed form. Same 100 TB shape as the
    other decoders: per_doc's embarrassingly parallel map (fan_out
    profiled 5.2 s -> sub-second at sf0.1 — the Python Huffman+DCT
    codec is the hot loop, so core count is the whole game)."""
    return per_doc(spark, sf_dir, _jpeg_roundtrip_stats, JPEG_STATS_SCHEMA)


_FRAME_ORACLE = """
WITH frames AS (
    SELECT doc_id,
           unnest(generate_series(0, CAST(floor((length(text) - 1) / 32) AS BIGINT)))
               AS frame_idx,
           text
    FROM documents
    WHERE length(text) > 0
)
SELECT doc_id,
       frame_idx,
       md5(substring(text, CAST(frame_idx * 32 + 1 AS INT), 32)) AS frame_digest
FROM frames
WHERE frame_idx % 4 = 0
"""


@query("q_frame_sample", oracle=_FRAME_ORACLE, tags=("llm", "multimodal"))
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plumbing: chunk the payload into fixed 32-byte
    'frames', keep every 4th, digest each — the codec-free JVM-native
    twin of q_video_frame_decode (which runs the real container parse
    + per-frame BMP decode); this one proves the chunk/sample/digest
    shape stays pure Catalyst when no Python codec is needed."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_frames = F.floor((F.length("text") - 1) / 32).cast("long")
    frames = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"), n_frames)).alias("frame_idx"),
        F.col("text"),
    ).filter(F.col("frame_idx") % 4 == 0)
    frame_digest = F.md5(
        F.encode(
            F.substring(F.col("text"), (F.col("frame_idx") * 32 + 1).cast("int"), 32), "UTF-8"
        )
    )
    return frames.select("doc_id", "frame_idx", frame_digest.alias("frame_digest"))


# ------------------------------------------------ video container decode

# A minimal real video container: magic + frame count, then one
# length-prefixed BMP frame per entry. Both halves of the round trip
# run the actual codecs in-tree (bmp.py), so "video decode" here means
# real container parsing + real per-frame image decode. A production
# pipeline swaps decode_bmp24 for an H.264 keyframe decoder; the
# Spark-side plumbing (binary payload → row function → sampled frame
# features) is identical.
VIDEO_MAGIC = b"SGVC"
VIDEO_FRAME_W = 16
VIDEO_FRAME_H = 16
VIDEO_SAMPLE_EVERY = 4


def encode_video_container(frames: list[bytes]) -> bytes:
    import struct

    parts = [VIDEO_MAGIC, struct.pack("<I", len(frames))]
    for fb in frames:
        parts.append(struct.pack("<I", len(fb)))
        parts.append(fb)
    return b"".join(parts)


def decode_video_container(payload: bytes):
    """Yield (frame_idx, frame_bytes) from an SGVC container. Raises on
    bad magic or a truncated frame — no silent salvage."""
    import struct

    if payload[:4] != VIDEO_MAGIC:
        raise ValueError(f"unrecognized video magic {payload[:4]!r}")
    if len(payload) < 8:
        raise ValueError(f"truncated header: {len(payload)} bytes")
    (n,) = struct.unpack_from("<I", payload, 4)
    off = 8
    for i in range(n):
        # explicit bound checks so ANY truncation raises the documented
        # ValueError, never struct.error (a cut inside a length prefix
        # must hit the same quarantine path as a cut inside a frame)
        if off + 4 > len(payload):
            raise ValueError(f"truncated length prefix of frame {i} at {off}")
        (ln,) = struct.unpack_from("<I", payload, off)
        off += 4
        if off + ln > len(payload):
            raise ValueError(f"truncated frame {i}: need {ln} bytes at {off}")
        yield i, payload[off : off + ln]
        off += ln


def _video_n_frames(doc_id: int) -> int:
    # Variable-length videos exercise the container's length prefixes.
    return 8 + doc_id % 8


def _video_fixture_pixels(doc_id: int, frame_idx: int):
    """Deterministic (H, W, 3) uint8 frame: value = (doc_id·7 +
    frame_idx·13 + y·3 + x·5 + c·11) mod 256 — non-uniform in every
    axis so a transposed/flipped/channel-swapped decode shifts a mean
    and goes red against the closed-form oracle."""
    import numpy as np

    y = np.arange(VIDEO_FRAME_H, dtype=np.int64)[:, None, None]
    x = np.arange(VIDEO_FRAME_W, dtype=np.int64)[None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    return ((doc_id * 7 + frame_idx * 13 + y * 3 + x * 5 + c * 11) % 256).astype(
        "uint8"
    )


VIDEO_STATS_SCHEMA = (
    "doc_id long, frame_idx long, n_frames long, width long, height long, "
    "mean_r double, mean_g double, mean_b double"
)


def _video_roundtrip_stats(doc_id: int) -> list[tuple]:
    """Encode the doc's fixture frames into a real SGVC container, then
    DECODE: parse the container, keep every VIDEO_SAMPLE_EVERYth frame,
    BMP-decode it, and yield one row of exact per-channel means per
    sampled frame."""
    doc_id = int(doc_id)
    nf = _video_n_frames(doc_id)
    payload = encode_video_container(
        [encode_bmp24(_video_fixture_pixels(doc_id, i)) for i in range(nf)]
    )
    return [
        (doc_id, idx, nf, VIDEO_FRAME_W, VIDEO_FRAME_H, *channel_means(decode_bmp24(fb)))
        for idx, fb in decode_video_container(payload)
        if idx % VIDEO_SAMPLE_EVERY == 0
    ]


def _video_mean_sql(c: int) -> str:
    return (
        f"CAST(avg((doc_id * 7 + frame_idx * 13 + y * 3 + x * 5 + {c * 11}) % 256)"
        " AS DOUBLE)"
    )


_VIDEO_ORACLE = f"""
WITH vids AS (
    SELECT doc_id, 8 + doc_id % 8 AS n_frames FROM documents
),
sampled AS (
    SELECT doc_id, n_frames,
           unnest(generate_series(0, n_frames - 1)) AS frame_idx
    FROM vids
),
px AS (
    SELECT s.doc_id, s.n_frames, s.frame_idx, y.y, x.x
    FROM sampled s,
         generate_series(0, {VIDEO_FRAME_H - 1}) AS y(y),
         generate_series(0, {VIDEO_FRAME_W - 1}) AS x(x)
    WHERE s.frame_idx % {VIDEO_SAMPLE_EVERY} = 0
)
SELECT doc_id,
       frame_idx,
       n_frames,
       {VIDEO_FRAME_W} AS width,
       {VIDEO_FRAME_H} AS height,
       {_video_mean_sql(0)} AS mean_r,
       {_video_mean_sql(1)} AS mean_g,
       {_video_mean_sql(2)} AS mean_b
FROM px
GROUP BY doc_id, frame_idx, n_frames
"""


@query("q_video_frame_decode", oracle=_VIDEO_ORACLE, tags=("llm", "multimodal"))
def q_video_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame decode, oracle-checked: per doc, encode a
    variable-length SGVC container of deterministic BMP frames, then
    decode it back — container parse, frame sampling (every
    {VIDEO_SAMPLE_EVERY}th), per-frame BMP decode — and emit exact
    per-channel means that DuckDB reproduces in closed form. Completes
    the multimodal matrix: image decode (BMP/PNG/JPEG) AND video
    container+frame decode are now codec-real; q_frame_sample remains
    as the codec-free chunk/digest plumbing twin. 100 TB shape:
    per_doc's embarrassingly parallel map, no shuffle."""
    return per_doc(spark, sf_dir, _video_roundtrip_stats, VIDEO_STATS_SCHEMA)


# ------------------------------------------------- audio (WAV) decode

# Completes the image/audio/video triad with a REAL audio codec
# (multimodal/wav.py: RIFF/WAVE PCM16, pure stdlib+numpy). Same
# fixture discipline as the image/video queries: deterministic stereo
# int16 waveforms encoded to actual WAV bytes, decoded back in a row
# function, exact integer sample statistics the oracle reproduces
# in closed form.
AUDIO_RATE = 8000
AUDIO_BASE_SAMPLES = 200
AUDIO_SAMPLES_MOD = 50


def _audio_n_samples(doc_id: int) -> int:
    return AUDIO_BASE_SAMPLES + doc_id % AUDIO_SAMPLES_MOD


def _audio_fixture_samples(doc_id: int):
    """(n, 2) int16 stereo sawtooth: channel c sample i =
    ((doc_id·31 + c·7 + i·13) mod 4096) − 2048 — varies per doc,
    channel, and position, so a channel swap, off-by-one, or
    endianness break shifts a mean/peak and goes red."""
    import numpy as np

    n = _audio_n_samples(doc_id)
    i = np.arange(n, dtype=np.int64)[:, None]
    c = np.arange(2, dtype=np.int64)[None, :]
    return (((doc_id * 31 + c * 7 + i * 13) % 4096) - 2048).astype(np.int16)


AUDIO_STATS_SCHEMA = (
    "doc_id long, n_samples long, sample_rate long, "
    "mean_l double, mean_r double, peak_l long, peak_r long"
)


def _audio_roundtrip_stats(doc_id: int) -> list[tuple]:
    doc_id = int(doc_id)
    payload = encode_wav_pcm16(_audio_fixture_samples(doc_id), AUDIO_RATE)
    samples, rate = decode_wav_pcm16(payload)
    peak_l, peak_r = (int(p) for p in abs(samples.astype("int64")).max(axis=0))
    return [(doc_id, samples.shape[0], rate, *channel_means(samples), peak_l, peak_r)]


def _audio_chan_sql(c: int) -> str:
    return f"((doc_id * 31 + {c * 7} + i * 13) % 4096) - 2048"


_AUDIO_ORACLE = f"""
WITH s AS (
    SELECT d.doc_id,
           i.i AS i,
           {_audio_chan_sql(0)} AS l,
           {_audio_chan_sql(1)} AS r
    FROM documents d,
         generate_series(0, {AUDIO_BASE_SAMPLES + AUDIO_SAMPLES_MOD - 1}) AS i(i)
    WHERE i.i < {AUDIO_BASE_SAMPLES} + d.doc_id % {AUDIO_SAMPLES_MOD}
)
SELECT doc_id,
       count(*) AS n_samples,
       {AUDIO_RATE} AS sample_rate,
       CAST(avg(l) AS DOUBLE) AS mean_l,
       CAST(avg(r) AS DOUBLE) AS mean_r,
       CAST(max(abs(l)) AS BIGINT) AS peak_l,
       CAST(max(abs(r)) AS BIGINT) AS peak_r
FROM s
GROUP BY doc_id
"""


@query("q_audio_pcm_stats", oracle=_AUDIO_ORACLE, tags=("llm", "multimodal"))
def q_audio_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, oracle-checked: per doc, encode a
    deterministic stereo int16 waveform to actual RIFF/WAVE PCM bytes
    and decode them back (chunk walk, fmt validation, interleaved
    sample reshape — multimodal/wav.py), emitting exact per-channel
    sample statistics DuckDB reproduces in closed form. With this the
    multimodal matrix covers image (BMP/PNG/JPEG), video (SGVC
    container), AND audio with in-tree codecs. Same 100 TB shape:
    binary payloads in parquet, per_doc's embarrassingly parallel map,
    no shuffle."""
    return per_doc(spark, sf_dir, _audio_roundtrip_stats, AUDIO_STATS_SCHEMA)


# ------------------------------------------------- image resize

RESIZE_W, RESIZE_H = 5, 4  # 15×12 fixture → 5×4 (exact 3× decimation)


def resize_nearest(px, out_h: int, out_w: int):
    """Nearest-neighbor resize: dst(y, x) = src(⌊y·H/out_h⌋, ⌊x·W/out_w⌋)
    — the standard NN index map, pure integer arithmetic (vectorized
    fancy indexing, no interpolation), so the resampled pixel set is
    exactly predictable for any geometry."""
    import numpy as np

    h, w = px.shape[:2]
    iy = (np.arange(out_h) * h) // out_h
    ix = (np.arange(out_w) * w) // out_w
    return px[iy[:, None], ix[None, :]]


RESIZE_SCHEMA = (
    "doc_id long, width long, height long, mean_r double, mean_g double, mean_b double"
)


def _resize_roundtrip_stats(doc_id: int) -> list[tuple]:
    doc_id = int(doc_id)
    decoded = decode_bmp24(encode_bmp24(synth_pixels(doc_id)))
    small = resize_nearest(decoded, RESIZE_H, RESIZE_W)
    return [(doc_id, RESIZE_W, RESIZE_H, *channel_means(small))]


def _resize_mean_sql(c: int) -> str:
    # src index map for the 12→4 / 15→5 geometry: y' = (y*12)//4 = 3y,
    # x' = (x*15)//5 = 3x — restated generically so a geometry edit
    # that breaks the closed form fails loudly in the oracle.
    return (
        f"CAST(avg((doc_id * 7 + ((y * {IMG_H}) // {RESIZE_H}) * 31"
        f" + ((x * {IMG_W}) // {RESIZE_W}) * 13 + {c * 5}) % 256) AS DOUBLE)"
    )


_RESIZE_ORACLE = f"""
WITH px AS (
    SELECT d.doc_id, y.y, x.x
    FROM documents d,
         generate_series(0, {RESIZE_H - 1}) AS y(y),
         generate_series(0, {RESIZE_W - 1}) AS x(x)
)
SELECT doc_id,
       {RESIZE_W} AS width,
       {RESIZE_H} AS height,
       {_resize_mean_sql(0)} AS mean_r,
       {_resize_mean_sql(1)} AS mean_g,
       {_resize_mean_sql(2)} AS mean_b
FROM px
GROUP BY doc_id
"""


@query("q_image_resize", oracle=_RESIZE_ORACLE, tags=("llm", "multimodal"))
def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE through the real codec path: encode the fixture to
    BMP, decode, nearest-neighbor-resample 15×12 → 5×4 (the standard
    ⌊dst·src/out⌋ index map), emit resized channel means the oracle
    reproduces by applying the same index map to the pixel closed
    form. Covers the mandated decode → RESIZE → feature shape (a
    thumbnail/embedding-preprocessing pass); swap resize_nearest for a
    filtered resampler without touching the Spark plumbing. Same
    per_doc posture as every decode query."""
    return per_doc(spark, sf_dir, _resize_roundtrip_stats, RESIZE_SCHEMA)

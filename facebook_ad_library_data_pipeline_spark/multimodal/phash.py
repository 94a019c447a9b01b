"""Perceptual image dedup (average-hash): the multimodal member of the
dedup family — text has exact/MinHash/SimHash, embeddings have
LSH/SemDeDup, and image corpora dedup on PERCEPTUAL hashes of decoded
pixels (aHash/pHash/dHash), robust to re-encoding and tiny edits where
byte digests are not.

aHash here is integer-exact end to end: decode the REAL BMP payload
(multimodal/bmp.py codec), g3 = r+g+b per pixel (3× the grayscale —
same ordering, no //3 rounding), 8×8 grid of 4×4-pixel block sums over
the 32×32 fixture, bit b = [blocksum·64 > total] (cross-multiplied —
no division), packed into two 32-bit halves (a single 64-bit pack
would overflow the signed BIGINT at bit 63). Docs sharing both halves
are perceptual duplicates; keep-lowest-id canonicalization as in every
other dedup operator.

The fixture makes the dedup REAL: image content is keyed by
doc_id % 64 (≈ N/64 copies of each distinct image) and every other
key-group member carries a 4-pixel perturbation (+1 on scattered red
pixels) — the re-encode-with-noise case perceptual hashing exists
for. Whether a perturbed variant lands in the same bucket is decided
by the SAME closed-form arithmetic in both engines, so the oracle
replays decode-equivalent pixels, block sums, every bit, and the
group verdicts.

Scale: decode + hash is a pure map (media.per_doc — the multimodal
codec discipline, measured linear in SCALE_EVIDENCE.md "Python-codec
family is linear"); grouping is one shuffle on the hash key
(hash_groups, shared by the three modalities). At 100 TB this is exactly
the production shape: hash every image once, group by hash.

Reference anchor: the reference downloads ad media URLs
(collect_raw_data.py) but never analyzes payloads; the mandated
multimodal dedup extends dedup_near.py's family to images.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .bmp import decode_bmp24, encode_bmp24
from .media import decode_video_container, encode_video_container, per_doc
from .wav import decode_wav_pcm16, encode_wav_pcm16

AH_SIDE = 32  # fixture image side (32×32)
AH_BLOCK = 4  # 4×4-pixel blocks → 8×8 grid → 64 bits
AH_KEYS = 64  # distinct images: image_key = doc_id % 64
AH_PERTURB_MOD = 331  # +1 on red where (y*32+x) % 331 == 0 (4 px)


def synth_ahash_pixels(doc_id: int):
    """Deterministic 32×32 RGB fixture: content keyed by
    doc_id % AH_KEYS, every other key-group member perturbed by +1 on
    4 scattered red pixels (the near-duplicate variant)."""
    import numpy as np

    k = doc_id % AH_KEYS
    y = np.arange(AH_SIDE).reshape(-1, 1, 1)
    x = np.arange(AH_SIDE).reshape(1, -1, 1)
    c = np.arange(3).reshape(1, 1, -1)
    img = ((k * 7 + y * 31 + x * 13 + c * 5) % 256).astype(np.int32)
    if (doc_id // AH_KEYS) % 2 == 1:
        flat = (
            np.arange(AH_SIDE).reshape(-1, 1) * AH_SIDE
            + np.arange(AH_SIDE).reshape(1, -1)
        )
        img[..., 0] = img[..., 0] + (flat % AH_PERTURB_MOD == 0)
    return np.clip(img, 0, 255).astype(np.uint8)


def hash_groups(hashes: DataFrame, key: list[str]) -> DataFrame:
    """The dedup verdict over (doc_id, *key) hash rows: group on the
    hash key, then each row gets its group's size (``n_same``) and
    whether it is the group's lowest doc_id (``is_canonical``,
    keep-lowest-id as in every other dedup operator). One exchange on
    the key; the eager localCheckpoint runs the Python hash map once
    for both the group and the join back."""
    hashes = hashes.localCheckpoint(eager=True)
    grouped = hashes.groupBy(*key).agg(
        F.count(F.lit(1)).alias("n_same"),
        F.min("doc_id").alias("canonical"),
    )
    # no broadcast hint: the group table has one row per DISTINCT
    # hash — tiny here (≤128 fixtures), corpus-sized at 100 TB where
    # dup rates are low; AQE broadcasts when it actually fits
    return hashes.join(grouped, key).select(
        "doc_id",
        *key,
        F.col("n_same").cast("long").alias("n_same"),
        (F.col("doc_id") == F.col("canonical")).alias("is_canonical"),
    )


def block_bits(img, block: int):
    """Row-major average-hash bit vector of an HxWx3 uint8 array: g3 =
    r+g+b per pixel, (side/block)² block sums, bit = blocksum·n_blocks
    > total (cross-multiplied — no division). The ONE threshold/
    blocking implementation behind the image aHash AND the per-frame
    video hash, so a tweak (e.g. > vs >=) can never drift between
    modalities — only the bit PACKING differs per caller."""
    import numpy as np

    grid = img.shape[0] // block
    g3 = img.astype(np.int64).sum(axis=2)  # r+g+b per pixel
    bsum = (
        g3.reshape(grid, block, grid, block).sum(axis=(1, 3)).reshape(-1)
    )  # block sums, row-major (by*grid+bx)
    return (bsum * (grid * grid) > int(g3.sum())).astype(np.int64)


def ahash(img) -> tuple[int, int]:
    """Integer-exact 64-bit average hash of a 32×32×3 array, packed as
    (hi, lo) 32-bit halves. Shared by the query's row function and the
    unit pins (no-drift contract)."""
    import numpy as np

    bits = block_bits(img, AH_BLOCK)
    lo = int((bits[:32] << np.arange(32)).sum())
    hi = int((bits[32:] << np.arange(32)).sum())
    return hi, lo


def _ahash_rows(doc_id: int) -> list[tuple]:
    doc_id = int(doc_id)
    payload = encode_bmp24(synth_ahash_pixels(doc_id))
    return [(doc_id, *ahash(decode_bmp24(payload)))]


_AHASH_ORACLE = f"""
WITH px AS (
    SELECT d.doc_id, d.doc_id % {AH_KEYS} AS k,
           (d.doc_id // {AH_KEYS}) % 2 AS variant,
           y.y, x.x
    FROM documents d,
         generate_series(0, {AH_SIDE - 1}) AS y(y),
         generate_series(0, {AH_SIDE - 1}) AS x(x)
), g AS (
    SELECT doc_id, (y // {AH_BLOCK}) * 8 + (x // {AH_BLOCK}) AS blk,
           (k * 7 + y * 31 + x * 13) % 256
           + (k * 7 + y * 31 + x * 13 + 5) % 256
           + (k * 7 + y * 31 + x * 13 + 10) % 256
           + CASE WHEN variant = 1
                   AND (y * {AH_SIDE} + x) % {AH_PERTURB_MOD} = 0
                   AND (k * 7 + y * 31 + x * 13) % 256 < 255
                  THEN 1 ELSE 0 END AS g3
    FROM px
), blocks AS (
    SELECT doc_id, blk, sum(g3) AS bsum FROM g GROUP BY 1, 2
), totals AS (
    SELECT doc_id, sum(bsum) AS total FROM blocks GROUP BY 1
), bits AS (
    SELECT b.doc_id, b.blk,
           CASE WHEN b.bsum * 64 > t.total THEN 1 ELSE 0 END AS bit
    FROM blocks b JOIN totals t USING (doc_id)
), hashes AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN blk >= 32
                         THEN bit * (1::BIGINT << (blk - 32))
                         ELSE 0 END) AS BIGINT) AS ahash_hi,
           CAST(sum(CASE WHEN blk < 32
                         THEN bit * (1::BIGINT << blk)
                         ELSE 0 END) AS BIGINT) AS ahash_lo
    FROM bits GROUP BY doc_id
), grouped AS (
    SELECT ahash_hi, ahash_lo,
           count(*) AS n_same, min(doc_id) AS canonical
    FROM hashes GROUP BY 1, 2
)
SELECT h.doc_id, h.ahash_hi, h.ahash_lo,
       CAST(g.n_same AS BIGINT) AS n_same,
       (h.doc_id = g.canonical) AS is_canonical
FROM hashes h JOIN grouped g USING (ahash_hi, ahash_lo)
"""


@query("q_image_ahash_dedup", oracle=_AHASH_ORACLE, tags=("llm", "multimodal", "dedup"))
def q_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup over REAL decoded BMP payloads: per doc,
    encode the keyed fixture to actual BMP bytes, decode with the
    pure-numpy codec, compute the 64-bit integer-exact average hash
    (8×8 block-sum grid, cross-multiplied threshold, two 32-bit
    halves), then group by hash for duplicate sets with keep-lowest-id
    canonicalization. The oracle replays the pixels in closed form and
    every bit of both halves, so a codec defect (stride, BGR, row
    order), a block indexed column-major, or a threshold off-by-one
    flips hashes and group verdicts. Plan: pure map for decode+hash
    (per_doc, no shuffle), one exchange on the hash key, then the
    group table joins back (AQE broadcasts it when the distinct-image
    count fits)."""
    hashes = per_doc(spark, sf_dir, _ahash_rows, "doc_id long, ahash_hi long, ahash_lo long")
    return hash_groups(hashes, ["ahash_hi", "ahash_lo"])


# ------------------------------------------------- audio envelope hash

AU_KEYS = 32  # distinct waveforms: audio_key = doc_id % 32
AU_N = 1024  # samples per fixture clip
AU_WINDOWS = 16  # envelope windows of AU_N/AU_WINDOWS samples
AU_PERTURB_MOD = 257  # +1 on scattered left samples (the variant)


def synth_audio_samples(doc_id: int):
    """Deterministic stereo int16 fixture keyed by doc_id % AU_KEYS;
    every other key-group member perturbed by +1 on ~4 left-channel
    samples (guarded below int16 max — the oracle applies the same
    guard)."""
    import numpy as np

    k = doc_id % AU_KEYS
    i = np.arange(AU_N)
    l = ((k * 31 + i * 13) % 4096) - 2048
    r = ((k * 31 + 7 + i * 13) % 4096) - 2048
    if (doc_id // AU_KEYS) % 2 == 1:
        l = l + ((i % AU_PERTURB_MOD == 0) & (l < 2047))
    return np.stack([l, r], axis=1).astype(np.int16)


def envelope_hash(samples) -> int:
    """Integer-exact 16-bit energy-envelope hash of an (n, 2) int16
    sample array. The SINGLE implementation shared by the query and
    the unit pins (same no-drift contract as ahash())."""
    import numpy as np

    s = samples.astype(np.int64)
    energy = (np.abs(s[:, 0]) + np.abs(s[:, 1])).reshape(
        AU_WINDOWS, AU_N // AU_WINDOWS
    ).sum(axis=1)
    bits = (energy * AU_WINDOWS > int(energy.sum())).astype(np.int64)
    return int((bits << np.arange(AU_WINDOWS)).sum())


def _audio_hash_rows(doc_id: int) -> list[tuple]:
    doc_id = int(doc_id)
    samples, _rate = decode_wav_pcm16(encode_wav_pcm16(synth_audio_samples(doc_id)))
    return [(doc_id, envelope_hash(samples))]


_AUDIO_HASH_ORACLE = f"""
WITH s AS (
    SELECT d.doc_id,
           i.i AS i,
           i.i // {AU_N // AU_WINDOWS} AS w,
           ((d.doc_id % {AU_KEYS}) * 31 + i.i * 13) % 4096 - 2048 AS l0,
           ((d.doc_id % {AU_KEYS}) * 31 + 7 + i.i * 13) % 4096 - 2048 AS r
    FROM documents d, generate_series(0, {AU_N - 1}) AS i(i)
), p AS (
    SELECT doc_id, w,
           l0 + CASE WHEN (doc_id // {AU_KEYS}) % 2 = 1
                      AND i % {AU_PERTURB_MOD} = 0 AND l0 < 2047
                     THEN 1 ELSE 0 END AS l,
           r
    FROM s
), wins AS (
    SELECT doc_id, w, sum(abs(l) + abs(r)) AS energy FROM p GROUP BY 1, 2
), totals AS (
    SELECT doc_id, sum(energy) AS total FROM wins GROUP BY 1
), hashes AS (
    SELECT w.doc_id,
           CAST(sum(CASE WHEN w.energy * {AU_WINDOWS} > t.total
                         THEN 1::BIGINT << w.w ELSE 0 END) AS BIGINT) AS ehash
    FROM wins w JOIN totals t USING (doc_id)
    GROUP BY w.doc_id
), grouped AS (
    SELECT ehash, count(*) AS n_same, min(doc_id) AS canonical
    FROM hashes GROUP BY ehash
)
SELECT h.doc_id, h.ehash,
       CAST(g.n_same AS BIGINT) AS n_same,
       (h.doc_id = g.canonical) AS is_canonical
FROM hashes h JOIN grouped g USING (ehash)
"""


@query("q_audio_envelope_dedup", oracle=_AUDIO_HASH_ORACLE, tags=("llm", "multimodal", "dedup"))
def q_audio_envelope_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio dedup over REAL decoded WAV payloads — the
    audio member of the dedup family (chromaprint's shape at fixture
    scale): encode the keyed stereo clip to actual RIFF/WAVE PCM16
    bytes, decode (multimodal/wav.py), hash the 16-window |l|+|r|
    energy ENVELOPE with the cross-multiplied threshold (window·16 >
    total — all int64), group hash-equal clips with keep-lowest-id
    canonicalization. Perturbed variants (+1 on 4 samples) hash into
    their base's bucket — re-encode robustness, same as the image
    twin. The oracle replays samples, window energies, every bit, and
    the verdicts in closed form. Plan: pure map for decode+hash, one
    exchange on the hash key."""
    hashes = per_doc(spark, sf_dir, _audio_hash_rows, "doc_id long, ehash long")
    return hash_groups(hashes, ["ehash"])


# ------------------------------------------------- video clip fingerprint

VD_KEYS = 24  # distinct clips: video_key = doc_id % 24
VD_FRAMES = 6  # frames per fixture clip
VD_SIDE = 16  # frame side (16×16)
VD_BLOCK = 4  # 4×4 blocks → 4×4 grid → 16 bits per frame
VD_PERTURB_MOD = 103  # +1 on red where (y*16+x) % 103 == 0, frame 0 only


def synth_video_frames(doc_id: int) -> list:
    """VD_FRAMES deterministic 16×16 RGB frames keyed by
    doc_id % VD_KEYS; every other key-group member perturbs FRAME 0 by
    +1 on 3 scattered red pixels (guarded under 255)."""
    import numpy as np

    k = doc_id % VD_KEYS
    y = np.arange(VD_SIDE).reshape(-1, 1, 1)
    x = np.arange(VD_SIDE).reshape(1, -1, 1)
    c = np.arange(3).reshape(1, 1, -1)
    frames = []
    for f in range(VD_FRAMES):
        img = ((k * 7 + f * 13 + y * 31 + x * 17 + c * 5) % 256).astype(np.int32)
        if f == 0 and (doc_id // VD_KEYS) % 2 == 1:
            flat = (
                np.arange(VD_SIDE).reshape(-1, 1) * VD_SIDE
                + np.arange(VD_SIDE).reshape(1, -1)
            )
            img[..., 0] = img[..., 0] + (
                (flat % VD_PERTURB_MOD == 0) & (img[..., 0] < 255)
            )
        frames.append(img.astype(np.uint8))
    return frames


def frame_hash16(img) -> int:
    """16-bit average hash of a 16×16×3 frame — same block_bits core
    as the image aHash, 16-bit pack."""
    import numpy as np

    bits = block_bits(img, VD_BLOCK)
    return int((bits << np.arange(bits.size)).sum())


def _video_fp_rows(doc_id: int) -> list[tuple]:
    doc_id = int(doc_id)
    payload = encode_video_container([encode_bmp24(fr) for fr in synth_video_frames(doc_id)])
    hashes = [frame_hash16(decode_bmp24(fb)) for _idx, fb in decode_video_container(payload)]
    return [(doc_id, "|".join(str(h) for h in hashes))]


_VIDEO_FP_ORACLE = f"""
WITH px AS (
    SELECT d.doc_id, d.doc_id % {VD_KEYS} AS k,
           (d.doc_id // {VD_KEYS}) % 2 AS variant,
           f.f, y.y, x.x
    FROM documents d,
         generate_series(0, {VD_FRAMES - 1}) AS f(f),
         generate_series(0, {VD_SIDE - 1}) AS y(y),
         generate_series(0, {VD_SIDE - 1}) AS x(x)
), g AS (
    SELECT doc_id, f,
           (y // {VD_BLOCK}) * {VD_SIDE // VD_BLOCK} + (x // {VD_BLOCK}) AS blk,
           (k * 7 + f * 13 + y * 31 + x * 17) % 256
           + (k * 7 + f * 13 + y * 31 + x * 17 + 5) % 256
           + (k * 7 + f * 13 + y * 31 + x * 17 + 10) % 256
           + CASE WHEN variant = 1 AND f = 0
                   AND (y * {VD_SIDE} + x) % {VD_PERTURB_MOD} = 0
                   AND (k * 7 + f * 13 + y * 31 + x * 17) % 256 < 255
                  THEN 1 ELSE 0 END AS g3
    FROM px
), blocks AS (
    SELECT doc_id, f, blk, sum(g3) AS bsum FROM g GROUP BY 1, 2, 3
), totals AS (
    SELECT doc_id, f, sum(bsum) AS total FROM blocks GROUP BY 1, 2
), fhash AS (
    SELECT b.doc_id, b.f,
           CAST(sum(CASE WHEN b.bsum * 16 > t.total
                         THEN 1::BIGINT << b.blk ELSE 0 END) AS BIGINT) AS h
    FROM blocks b JOIN totals t USING (doc_id, f)
    GROUP BY 1, 2
), sigs AS (
    SELECT doc_id,
           string_agg(CAST(h AS VARCHAR), '|' ORDER BY f) AS clip_sig
    FROM fhash GROUP BY doc_id
), grouped AS (
    SELECT clip_sig, count(*) AS n_same, min(doc_id) AS canonical
    FROM sigs GROUP BY clip_sig
)
SELECT s.doc_id, s.clip_sig,
       CAST(g.n_same AS BIGINT) AS n_same,
       (s.doc_id = g.canonical) AS is_canonical
FROM sigs s JOIN grouped g USING (clip_sig)
"""


@query("q_video_clip_dedup", oracle=_VIDEO_FP_ORACLE, tags=("llm", "multimodal", "dedup"))
def q_video_clip_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual VIDEO dedup — the third modality (image aHash, audio
    envelope, now clips): each doc's keyed 6-frame fixture goes
    through the REAL pipeline (BMP-encode every frame → SGVC container
    encode → container decode → per-frame BMP decode → 16-bit
    per-frame average hash), and the clip signature is the ORDERED
    frame-hash sequence — so a dropped frame, a reordered container
    walk, or one flipped hash bit changes the signature. Frame-0
    perturbed variants hash into their base's clip group (re-encode
    robustness at the clip level). The oracle replays every frame's
    bits and the ordered join in closed form. Plan: pure map for the
    codec chain, one exchange on the signature."""
    sigs = per_doc(spark, sf_dir, _video_fp_rows, "doc_id long, clip_sig string")
    return hash_groups(sigs, ["clip_sig"])

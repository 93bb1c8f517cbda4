"""Perceptual image hashing + pixel-level near-dup detection.

Re-encoded / resized duplicate images are endemic in web crawls:
byte-level dedup (md5 over the payload) misses every one of them,
because a PNG→GIF re-encode or a 2× thumbnail changes every byte
while leaving the *picture* the same. This module closes that gap
with the classic perceptual hashes (dHash / aHash — difference hash
and average hash over a tiny grayscale thumbnail), computed entirely
through the repo's vendored pure-Python codecs (PPM / PNG / GIF /
JPEG-DC — no imaging library), then deduplicated with the same
bucketed machinery the text path uses:

1. :func:`image_perceptual_hash` — a per-row kernel on
   ``multimodal._map_payloads``, the shared Arrow driver (binary in
   / integers out, int64 hashes built as int64 even beside a
   quarantined row), that decodes each payload to a
   grayscale plane, nearest-resamples to 9×8 / 8×8, and emits the
   64-bit dHash + aHash as signed longs. Decode failures quarantine
   (NULL hash), never fail the batch — the crawl contract every
   codec leg in multimodal.py honors.
2. :func:`phash_candidate_pairs` — pigeonhole banding: a 64-bit hash
   split into ``bands`` exact-match segments; any pair within
   hamming distance ``bands − 1`` shares at least one segment, so an
   equi-join on (band_idx, band_value) finds every such pair with NO
   cross join (the simhash16 / LSH blocking idiom, dedup.py).
3. :func:`image_neardup` — candidates → exact popcount filter
   (``bit_count(xor)``, whole-stage codegen) → connected components
   via :func:`~gcp_dataengineering_spark.llm_ops.dedup.resolve_dup_groups`
   (pointer-doubling, O(log d) rounds).

Scale design: pixels live only inside the Arrow batch; the shuffle
currency after the UDF is two 8-byte integers per image. The band
self-join buckets on 16-bit values — at 100 TB the bucket sizes are
bounded by genuine near-dup density plus 2^-16 random collisions,
never by corpus size. No `.collect()` anywhere.

Differential oracle: :func:`synth_gradient_ppm` emits spec-valid P6
payloads whose pixels are a closed-form function of the id, so a SQL
oracle recomputes BOTH hashes from the id alone (suite/llm.py
``image_phash``) — one misread header byte, one off-by-one in the
resample index math, one wrong luma coefficient, and the hash
diverges.

Hash spec (pinned, engine-independent):
- gray = (299·R + 587·G + 114·B) // 1000 (ITU-R BT.601 integer luma);
  single-channel planes pass through.
- resample = :func:`multimodal.nearest_resize` (src = (dst·len)//n).
- dHash: 9×8 grid; bit(j,i) = 1 iff g[j][i+1] > g[j][i]; weight
  2^(j·8+i); the u64 stored as two's-complement signed int64.
- aHash: 8×8 grid; mean = sum // 64; bit = g > mean; same weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _band_pairs, resolve_dup_groups
from .materialize import materialize as _materialize
from .multimodal import (
    _map_payloads,
    _synth_corpus,
    nearest_resize,
    parse_image_header,
    ppm_decode,
)

PHASH_SCHEMA = (
    "media_id long, fmt string, width int, height int, "
    "dhash long, ahash long"
)


def luma_plane(px):
    """HxWxC uint8 → HxW int64 integer luma. C==1/2 → channel 0
    (gray / gray+alpha); C>=3 → BT.601 integer luma of the first
    three channels (alpha dropped — the thumbnail rule the PNG
    resize leg uses)."""
    import numpy as np

    if px.ndim == 2:
        return px.astype(np.int64)
    c = px.shape[2]
    if c in (1, 2):
        return px[:, :, 0].astype(np.int64)
    p = px.astype(np.int64)
    return (299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2]) // 1000


def _to_signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def dhash64(gray) -> int:
    """64-bit difference hash of a 2-D integer gray plane: resample
    to 9 wide × 8 tall, bit(j,i) = 1 iff g[j][i+1] > g[j][i].
    Returns the signed-int64 (two's complement) value."""
    g = nearest_resize(gray, 9, 8)
    v = 0
    for j in range(8):
        for i in range(8):
            if int(g[j][i + 1]) > int(g[j][i]):
                v |= 1 << (j * 8 + i)
    return _to_signed64(v)


def ahash64(gray) -> int:
    """64-bit average hash: resample to 8×8, bit = g > (sum // 64).
    Signed-int64 like :func:`dhash64`."""
    g = nearest_resize(gray, 8, 8)
    mean = int(sum(int(x) for row in g for x in row)) // 64
    v = 0
    for j in range(8):
        for i in range(8):
            if int(g[j][i]) > mean:
                v |= 1 << (j * 8 + i)
    return _to_signed64(v)


def decode_gray(payload: bytes):
    """(fmt, width, height, gray_plane) from raw image bytes through
    the vendored codecs only (PPM / PNG / GIF / JPEG-DC — never PIL,
    so the hash is environment-independent), or None when the header
    doesn't sniff or the body quarantines. The JPEG plane is the
    DC-decoded 1/8-scale box-filtered luma — already the right
    altitude for a 9×8 perceptual thumbnail."""
    import numpy as np

    fmt, w, h = parse_image_header(payload)
    if fmt is None or w is None or h is None:
        return None
    if fmt == "ppm":
        decoded = ppm_decode(payload)
        if decoded is None:
            return None
        _, _, px = decoded
        return (fmt, w, h, luma_plane(px))
    if fmt == "png":
        from .png import png_decode

        decoded = png_decode(payload)
        if decoded is None:
            return None
        _, _, px = decoded
        return (fmt, w, h, luma_plane(px))
    if fmt == "gif":
        from .gif import gif_decode

        decoded = gif_decode(payload)
        if decoded is None:
            return None
        _, _, idx, pal = decoded
        return (fmt, w, h, luma_plane(pal[idx]))
    if fmt == "jpeg":
        from .jpegdc import jpeg_dc_decode

        decoded = jpeg_dc_decode(payload)
        if decoded is None:
            return None
        _, _, bw, bh, gray = decoded
        plane = np.frombuffer(gray, dtype=np.uint8).reshape(bh, bw)
        return (fmt, w, h, plane.astype(np.int64))
    if fmt == "webp":
        # r16: lossless (VP8L) decodes through the vendored codec;
        # lossy VP8 quarantines inside it (returns None)
        from .vp8l import vp8l_decode

        decoded = vp8l_decode(payload)
        if decoded is None:
            return None
        _, _, px = decoded
        return (fmt, w, h, luma_plane(px))
    # sniffed but no vendored pixel leg — quarantine, the
    # resize_images rule
    return None


def image_perceptual_hash(df: DataFrame, batch_rows: int = 1024) -> DataFrame:
    """dHash + aHash per image payload (multimodal._map_payloads):
    input (media_id, payload, ...), output PHASH_SCHEMA. Quarantined
    rows (unparseable header / corrupt body / no vendored leg) come
    back with fmt and both hashes NULL — filter, don't crash (one
    adversarial crawl payload must never fail its Arrow batch, nor
    change its batch-mates' hashes)."""

    def kernel(b: bytes):
        try:
            decoded = decode_gray(b)
        except (MemoryError, OverflowError):
            return None
        if decoded is None:
            return None
        fmt, w, h, gray = decoded
        return (fmt, w, h, dhash64(gray), ahash64(gray))

    return _map_payloads(df, kernel, PHASH_SCHEMA, batch_rows)


def phash_candidate_pairs(
    hashes: DataFrame,
    hash_col: str = "dhash",
    bands: int = 4,
    id_col: str = "media_id",
    materialize: bool | None = None,
) -> DataFrame:
    """Pigeonhole blocking over a 64-bit hash column: split into
    ``bands`` equal-width segments; any pair within hamming distance
    ``bands − 1`` agrees on ≥ 1 whole segment, so the band equi-join
    is a complete candidate generator for that radius (the standard
    multi-index hamming trick). The pairing is the MinHash family's
    band self-join, ``dedup._band_pairs``, keyed on
    (band_idx, band_val) with the two hashes as per-pair values — the
    same scale story: bucketed equi-join, never a cross join. Returns
    (id_a, id_b, hash_a, hash_b, shared_bands, hamming) for candidates
    only — callers filter ``hamming <= r``.

    Segments are read as unsigned (shiftrightunsigned + mask); at
    ``bands=1`` the one 64-bit segment is the hash itself, unmasked.
    The hash frame is eagerly materialized first: both self-join
    sides consume it, and its lineage is the full decode UDF."""
    if 64 % bands != 0:
        raise ValueError(f"bands ({bands}) must divide 64")
    seg = 64 // bands
    hs = _materialize(
        hashes.filter(F.col(hash_col).isNotNull()).select(
            F.col(id_col).alias("doc"), F.col(hash_col).alias("h")
        ),
        materialize,
    )

    def segment(b: int):
        if seg == 64:
            return F.col("h")
        shifted = F.call_function("shiftrightunsigned", F.col("h"), F.lit(b * seg).cast("int"))
        return shifted.bitwiseAND(F.lit((1 << seg) - 1))

    band_structs = [
        F.struct(F.lit(b).alias("band_idx"), segment(b).alias("band_val"))
        for b in range(bands)
    ]
    exploded = hs.select(
        "doc", "h", F.explode(F.array(*band_structs)).alias("band")
    ).select("doc", "h", "band.band_idx", "band.band_val")
    pairs = _band_pairs(
        exploded, "doc", ["band_idx", "band_val"],
        {"hash_a": F.col("a.h"), "hash_b": F.col("b.h")},
    )
    return pairs.select(
        "id_a", "id_b", "hash_a", "hash_b", "shared_bands",
        F.bit_count(F.col("hash_a").bitwiseXOR(F.col("hash_b"))).cast("int").alias("hamming"),
    )


def image_neardup(
    media: DataFrame,
    max_hamming: int = 3,
    hash_col: str = "dhash",
    bands: int = 4,
    batch_rows: int = 1024,
    materialize: bool | None = None,
) -> DataFrame:
    """End-to-end pixel near-dup: payloads → perceptual hashes →
    banded candidate pairs → exact hamming filter → connected
    components. Returns (media_id, group_id); images whose hash
    quarantined are absent (they can't be perceptually compared).

    Completeness bound: ``max_hamming`` must be < ``bands`` for the
    pigeonhole guarantee to hold — a larger radius would silently
    miss pairs, so it raises instead."""
    return _hamming_neardup_groups(
        lambda: image_perceptual_hash(media, batch_rows=batch_rows),
        hash_col, max_hamming, bands, materialize,
    )


def _hamming_neardup_groups(
    fingerprints,
    hash_col: str,
    max_hamming: int,
    bands: int,
    materialize,
    extra_cols: tuple[str, ...] = (),
    pair_filter=None,
) -> DataFrame:
    """The shared tail of image/audio/video near-dup: radius guard →
    pinned (media_id, hash, *extra_cols) → banded candidates → exact
    hamming filter → optional ``pair_filter(pairs, fps)`` →
    connected components. Returns (media_id, group_id).

    ``fingerprints`` is a zero-argument callable returning the
    fingerprint frame, so the guard raises before any payload is
    decoded. The projection is pinned ONCE: it feeds the band
    self-join, the component id list and any pair filter, and its
    lineage is the full decode UDF — unpinned, each consumer re-ran
    every payload decode (r18)."""
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}): the "
            "pigeonhole banding only guarantees completeness up to "
            "bands − 1 differing bits — raise bands instead"
        )
    fps = _materialize(
        fingerprints()
        .filter(F.col(hash_col).isNotNull())
        .select("media_id", hash_col, *extra_cols),
        materialize,
    )
    pairs = phash_candidate_pairs(
        fps, hash_col=hash_col, bands=bands, materialize=False
    ).filter(F.col("hamming") <= max_hamming)
    if pair_filter is not None:
        pairs = pair_filter(pairs, fps)
    ids = fps.select(F.col("media_id").alias("doc_id"))
    groups = resolve_dup_groups(
        ids, pairs.select(F.col("id_a"), F.col("id_b")),
        id_col="doc_id", materialize=materialize,
    )
    return groups.select(F.col("doc_id").alias("media_id"), "group_id")


# ------------------------------------------------------------ oracle fixture
def synth_gradient_ppm(doc_id: int) -> bytes:
    """Spec-valid P6 payload whose every pixel is a closed-form
    function of the id: w = id%23+9, h = (id·3)%17+8,
    R=(id+7x+13y)%256, G=(3·id+5x+11y)%256, B=(5·id+2x+3y)%256 —
    the SQL oracle recomputes the dHash/aHash straight from these
    formulas (suite/llm.py ORACLE_IMAGE_PHASH), making the whole
    decode→luma→resample→hash chain differentially checkable."""
    import numpy as np

    w = doc_id % 23 + 9
    h = (doc_id * 3) % 17 + 8
    y = np.arange(h, dtype=np.int64)[:, None]
    x = np.arange(w, dtype=np.int64)[None, :]
    px = np.stack(
        [
            (doc_id + 7 * x + 13 * y) % 256,
            (3 * doc_id + 5 * x + 11 * y) % 256,
            (5 * doc_id + 2 * x + 3 * y) % 256,
        ],
        axis=2,
    ).astype(np.uint8)
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def synth_ppm_corpus(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(media_id, media_type, payload) of closed-form gradient PPMs,
    one per input id — the fixture generator for the image_phash
    oracle (the multimodal.synth_image_corpus pattern)."""
    return _synth_corpus(
        df, id_col, lambda i: ("image/x-portable-pixmap", synth_gradient_ppm(i))
    )

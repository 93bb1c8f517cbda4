"""Extended falsification session, round 16 — adversarial fuzz over the
round's new surfaces. Run at the current HEAD; output is the receipt."""
import os, sys, time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

t0 = time.time()
rng = np.random.default_rng(20260816)
checks = 0

# ---------- 1. perceptual-hash cross-codec invariance over random smooth images
from gcp_dataengineering_spark.llm_ops.phash import decode_gray, dhash64, ahash64
from gcp_dataengineering_spark.llm_ops.multimodal import ppm_encode, nearest_resize
from gcp_dataengineering_spark.llm_ops.png import png_encode
from gcp_dataengineering_spark.llm_ops.gif import gif_encode
from gcp_dataengineering_spark.llm_ops.vp8l import vp8l_encode, vp8l_decode

inv_fail = 0
for trial in range(60):
    w = int(rng.integers(16, 80)); h = int(rng.integers(16, 60))
    # smooth-ish random image: low-freq gradient + small noise
    gx, gy = rng.integers(1, 5), rng.integers(1, 5)
    y = np.arange(h)[:, None]; x = np.arange(w)[None, :]
    base = ((gx * x * 255 // max(w - 1, 1) + gy * y * 255 // max(h - 1, 1)) // (gx + gy)).astype(np.int64)
    rgb = np.stack([base, base, base], axis=2).astype(np.uint8)
    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    d0 = dhash64(decode_gray(ppm_encode(rgb))[3]); a0 = ahash64(decode_gray(ppm_encode(rgb))[3])
    for payload in (png_encode(rgb), gif_encode(rgb[:, :, 0], pal), vp8l_encode(rgb)):
        dec = decode_gray(payload)
        assert dec is not None
        if dhash64(dec[3]) != d0 or ahash64(dec[3]) != a0:
            inv_fail += 1
    checks += 3
print(f"phash cross-codec invariance: 60 images x 3 codecs, {inv_fail} mismatches")
assert inv_fail == 0

# ---------- 2. phash corruption fuzz: no exceptions ever
corrupt_checks = 0
for trial in range(3000):
    kind = trial % 4
    if kind == 0:
        blob = bytes(rng.integers(0, 256, size=int(rng.integers(0, 300)), dtype=np.uint8))
    else:
        w = int(rng.integers(4, 32)); h = int(rng.integers(4, 24))
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        src = [ppm_encode(rgb), png_encode(rgb), vp8l_encode(rgb)][kind - 1]
        blob = bytearray(src)
        for _ in range(int(rng.integers(1, 6))):
            blob[int(rng.integers(0, len(blob)))] ^= int(rng.integers(1, 256))
        blob = bytes(blob[: int(rng.integers(1, len(blob) + 1))])
    try:
        r = decode_gray(blob)
        assert r is None or len(r) == 4
    except Exception as ex:  # noqa
        print("PHASH FUZZ EXCEPTION:", type(ex).__name__, ex)
        sys.exit(1)
    corrupt_checks += 1
checks += corrupt_checks
print(f"phash corruption fuzz: {corrupt_checks} corrupt/truncated payloads, 0 exceptions")

# ---------- 3. vp8l roundtrip battery + flip fuzz
rt_fail = 0
for trial in range(40):
    w = int(rng.integers(1, 120)); h = int(rng.integers(1, 90))
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    dec = vp8l_decode(vp8l_encode(px))
    if dec is None or not np.array_equal(dec[2][:, :, :3], px):
        rt_fail += 1
    checks += 1
print(f"vp8l roundtrip battery: 40 random shapes, {rt_fail} failures")
assert rt_fail == 0
flip_checks = 0
base = vp8l_encode(rng.integers(0, 256, size=(20, 28, 3), dtype=np.uint8))
for trial in range(2000):
    blob = bytearray(base)
    for _ in range(int(rng.integers(1, 4))):
        blob[int(rng.integers(0, len(blob)))] ^= 1 << int(rng.integers(0, 8))
    try:
        r = vp8l_decode(bytes(blob))
        assert r is None or (r[2].ndim == 3)
    except Exception as ex:  # noqa
        print("VP8L FUZZ EXCEPTION:", type(ex).__name__, ex)
        sys.exit(1)
    flip_checks += 1
checks += flip_checks
print(f"vp8l bit-flip fuzz: {flip_checks} streams, 0 exceptions")

# ---------- 4. ngram LM: duckdb oracle vs python twin over random corpora
import duckdb
from gcp_dataengineering_spark.llm_ops.ngram_lm import bigram_perplexity_sql, bigram_perplexity_py

vocab_pool = ["the", "cat", "dog", "sat", "on", "mat", "ran", "big", "a", "to",
              "zq1", "vx2", "ply", "naïve", "café", "x"]
lm_fail = 0
for trial in range(200):
    n_docs = int(rng.integers(1, 12))
    texts = {}
    for d in range(n_docs):
        n_w = int(rng.integers(0, 15))
        texts[d] = " ".join(vocab_pool[int(i)] for i in rng.integers(0, len(vocab_pool), size=n_w))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(texts.items()))
    mc = int(rng.integers(1, 4)); bb = int(rng.integers(1, 8))
    rows = con.execute(bigram_perplexity_sql(min_count=mc, backoff_bits=bb)).fetchall()
    got = {r[0]: (r[1], r[2], r[3]) for r in rows}
    exp = bigram_perplexity_py(texts, min_count=mc, backoff_bits=bb)
    if got != exp:
        lm_fail += 1
        print("LM MISMATCH trial", trial)
    con.close()
    checks += 1
print(f"ngram LM duckdb-vs-twin fuzz: 200 random corpora x random (min_count, backoff), {lm_fail} mismatches")
assert lm_fail == 0

# ---------- 5. WAV PCM: random valid PCM vs numpy reference + corrupt quarantine
import struct, math
from gcp_dataengineering_spark.llm_ops.multimodal import wav_pcm_stats_py

def wav(sr, ch, bits, samples):
    data = samples.astype("<i2").tobytes() if bits == 16 else (samples + 128).astype(np.uint8).tobytes()
    return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, sr, sr * ch * bits // 8, ch * bits // 8, bits)
            + b"data" + struct.pack("<I", len(data)) + data)

wav_fail = 0
for trial in range(300):
    sr = int(rng.integers(4000, 48001)); ch = int(rng.integers(1, 3)); bits = 16 if trial % 3 else 8
    frames = int(rng.integers(1, 400))
    lim = 32768 if bits == 16 else 128
    x = rng.integers(-lim, lim, size=frames * ch)
    s = wav_pcm_stats_py(wav(sr, ch, bits, x))
    ok = (s is not None and s["n_frames"] == frames and s["sum_sq"] == int((x * x).sum())
          and s["peak"] == int(np.abs(x).max()) and s["rms"] == math.isqrt(int((x * x).sum()) // len(x))
          and s["duration_ms"] == frames * 1000 // sr)
    if not ok:
        wav_fail += 1
    checks += 1
wav_corrupt = 0
for trial in range(1000):
    blob = bytes(rng.integers(0, 256, size=int(rng.integers(0, 120)), dtype=np.uint8))
    try:
        wav_pcm_stats_py(b"RIFF" + blob)
        wav_pcm_stats_py(blob)
    except Exception as ex:  # noqa
        print("WAV FUZZ EXCEPTION:", type(ex).__name__)
        sys.exit(1)
    wav_corrupt += 1
checks += wav_corrupt
print(f"wav pcm fuzz: 300 random PCM vs numpy reference ({wav_fail} fails), {wav_corrupt} garbage payloads 0 exceptions")
assert wav_fail == 0

print(f"TOTAL: {checks} checks green in {time.time()-t0:.0f}s")

"""Extended falsification session, round 17 — adversarial fuzz over the
round's new surfaces (no Spark: twin-vs-DuckDB and pure-python legs,
runnable alongside the full pytest). Output is the receipt."""
import os
import struct
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

t0 = time.time()
rng = np.random.default_rng(20260817)
checks = 0

# ---------- 1. laplace twin-vs-DuckDB over random corpora
# (both orders, self-scored AND ref-split, random min_count /
# backoff_bits — the duckdb leg replays the whole train+score chain;
# the Kneser-Ney half of this sweep is fuzz_r17_wave3.py leg 1,
# ngram_kn's twin vs its replay at random orders 2..5)
import duckdb
import pandas as pd

from gcp_dataengineering_spark.llm_ops import ngram_lm as NL

WORDS = ["the", "cat", "dog", "sat", "ran", "on", "mat", "a", "nice",
         "day", "san", "francisco", "of", "to", "zq1", "vx2", "qp3"]

lm_fail = 0
for trial in range(120):
    n_docs = int(rng.integers(3, 12))
    texts = {}
    for d in range(n_docs):
        n_tok = int(rng.integers(0, 14))
        texts[d] = " ".join(rng.choice(WORDS, size=n_tok))
    # sprinkle unicode whitespace + ties occasionally
    if trial % 7 == 0 and texts:
        k = next(iter(texts))
        texts[k] = texts[k].replace(" ", "\xa0", 1) + "\x0bword"
    mc = int(rng.integers(1, 4))
    bb = int(rng.integers(1, 6))
    ref_ids = None
    if trial % 2 == 1 and n_docs >= 4:
        ref_ids = set(int(x) for x in rng.choice(n_docs, size=n_docs // 2,
                                                 replace=False))
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values())}))
    rf = None
    rt = None
    if ref_ids is not None:
        rf = "doc_id IN (" + ",".join(str(i) for i in sorted(ref_ids)) + ")"
        rt = {k: v for k, v in texts.items() if k in ref_ids}
    exp2 = NL.bigram_perplexity_py(
        texts, min_count=mc, backoff_bits=bb, ref_texts=rt)
    got2 = {r[0]: (r[1], r[2], r[3]) for r in con.execute(
        NL.bigram_perplexity_sql(min_count=mc, backoff_bits=bb,
                                 ref_filter=rf)).fetchall()}
    if got2 != exp2:
        lm_fail += 1
        print("MISMATCH bigram", trial, file=sys.stderr)
    exp3 = NL.trigram_perplexity_py(
        texts, min_count=mc, backoff_bits_bi=bb, backoff_bits_uni=2 * bb,
        ref_texts=rt)
    got3 = {r[0]: (r[1], r[2], r[3]) for r in con.execute(
        NL.trigram_perplexity_sql(min_count=mc, backoff_bits_bi=bb,
                                  backoff_bits_uni=2 * bb,
                                  ref_filter=rf)).fetchall()}
    if got3 != exp3:
        lm_fail += 1
        print("MISMATCH trigram", trial, file=sys.stderr)
    checks += 2
    con.close()
print(f"laplace ngram twin-vs-duckdb: 120 corpora x 2 orders "
      f"(half ref-split), {lm_fail} mismatches")
assert lm_fail == 0

# ---------- 2. audio fingerprint vs an INDEPENDENT implementation
# (stdlib-only reparse: different chunk walk, different energy loop)
from gcp_dataengineering_spark.llm_ops.multimodal import (
    AUDIO_FP_WINDOWS,
    audio_fingerprint_py,
)


def independent_fp(payload):
    if payload is None or len(payload) < 44 or payload[:4] != b"RIFF":
        return None
    # naive strict parse: fmt then data, 16-bit PCM only
    i, sr, ch, bits, data = 12, None, None, None, None
    while i + 8 <= len(payload):
        cid = payload[i:i + 4]
        csz = int.from_bytes(payload[i + 4:i + 8], "little")
        if cid == b"fmt ":
            body = payload[i + 8:i + 8 + csz]
            if int.from_bytes(body[0:2], "little") != 1:
                return None
            ch = int.from_bytes(body[2:4], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            if i + 8 + csz > len(payload):
                return None
            data = payload[i + 8:i + 8 + csz]
        i += 8 + csz + (csz & 1)
    if data is None or ch is None:
        return None
    if bits == 16:
        vals = list(struct.unpack("<%dh" % (len(data) // 2), data[:len(data) // 2 * 2]))
    elif bits == 8:
        vals = [b - 128 for b in data]
    else:
        return None
    n = len(vals) // ch
    if n < AUDIO_FP_WINDOWS:
        return None
    mono = [sum(vals[f * ch + c] for c in range(ch)) for f in range(n)]
    e = [0] * AUDIO_FP_WINDOWS
    for f, m in enumerate(mono):
        e[f * AUDIO_FP_WINDOWS // n] += m * m
    fp = 0
    for k in range(64):
        if e[k + 1] > e[k]:
            fp |= 1 << k
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def wav_bytes(samples, ch=1, sr=8000, bits=16):
    if bits == 16:
        data = np.asarray(samples, dtype="<i2").tobytes()
    else:
        data = bytes((np.asarray(samples) + 128).astype(np.uint8))
    return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, sr,
                                    sr * ch * bits // 8, ch * bits // 8, bits)
            + b"data" + struct.pack("<I", len(data)) + data)


fp_fail = 0
for trial in range(300):
    ch = int(rng.integers(1, 3))
    bits = 16 if trial % 3 else 8
    lo = -120 if bits == 8 else -8000
    n = int(rng.integers(40, 400))
    s = rng.integers(lo, -lo, size=n * ch)
    payload = wav_bytes(s, ch=ch, bits=bits)
    a, b = audio_fingerprint_py(payload), independent_fp(payload)
    if a != b:
        fp_fail += 1
        print("FP MISMATCH", trial, a, b, file=sys.stderr)
    checks += 1
print(f"audio fp vs independent impl: 300 random WAVs "
      f"(1-2ch, 8/16-bit, incl. <65-frame quarantines), {fp_fail} mismatches")
assert fp_fail == 0

# invariance properties on 65-aligned clips
inv_fail = 0
for trial in range(150):
    q = int(rng.integers(1, 8))
    n = 65 * q
    base = rng.integers(-6000, 6001, size=n).astype(np.int64)
    fp0 = audio_fingerprint_py(wav_bytes(base))
    c = int(rng.integers(2, 6))
    if audio_fingerprint_py(wav_bytes(base * c)) != fp0:
        inv_fail += 1  # amplitude scale must be an identity
    k = int(rng.integers(2, 5))
    if audio_fingerprint_py(wav_bytes(np.repeat(base, k))) != fp0:
        inv_fail += 1  # exact repeat-upsample must be an identity
    st = np.stack([base // 2, base - base // 2], axis=1)
    if audio_fingerprint_py(wav_bytes(st.reshape(-1), ch=2)) != fp0:
        inv_fail += 1  # stereo channel-sum fold
    checks += 3
print(f"audio fp invariances: 150 clips x 3 properties, {inv_fail} failures")
assert inv_fail == 0

# corruption fuzz: never raises
for trial in range(800):
    n = 65 * 3
    base = rng.integers(-6000, 6001, size=n).astype(np.int64)
    payload = bytearray(wav_bytes(base))
    kind = trial % 3
    if kind == 0:
        payload = payload[: int(rng.integers(0, len(payload)))]
    elif kind == 1:
        for _ in range(int(rng.integers(1, 6))):
            payload[int(rng.integers(0, len(payload)))] ^= 1 << int(rng.integers(0, 8))
    else:
        payload = bytearray(rng.integers(0, 256, size=int(rng.integers(0, 200))).astype(np.uint8).tobytes())
    audio_fingerprint_py(bytes(payload))  # must not raise
    checks += 1
print("audio fp corruption fuzz: 800 payloads, zero exceptions")

# ---------- 3. VP8L predictor conformance fuzz: random images through
# hand-built streams for EVERY predictor mode vs independent
# per-channel spec predictors (covers the r17 mode-13/11 fixes at
# random pixel values, not just the fixture)
from gcp_dataengineering_spark.llm_ops.vp8l import _CL_ORDER, _BitWriter, vp8l_decode


def header(bw, w, h):
    bw.write(0x2F, 8); bw.write(w - 1, 14); bw.write(h - 1, 14)
    bw.write(0, 1); bw.write(0, 3)


def simple_one(bw, s):
    bw.write(1, 1); bw.write(0, 1); bw.write(1, 1); bw.write(s, 8)


def flat_code(bw, alphabet):
    bw.write(0, 1); bw.write(12 - 4, 4)
    for p in range(12):
        bw.write(1 if _CL_ORDER[p] in (0, 8) else 0, 3)
    bw.write(0, 1)
    for _ in range(256):
        bw.write(1, 1)
    for _ in range(alphabet - 256):
        bw.write(0, 1)


def code8(bw, v):
    for i in range(7, -1, -1):
        bw.write((v >> i) & 1, 1)


def riff(body):
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def clamp255(v):
    return 0 if v < 0 else (255 if v > 255 else v)


def p_avg2(a, b):
    return tuple((x + y) >> 1 for x, y in zip(a, b))


def spec_pred(mode, L, T, TL, TR):
    if mode == 0:
        return (0, 0, 0)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return p_avg2(p_avg2(L, TR), T)
    if mode == 6:
        return p_avg2(L, TL)
    if mode == 7:
        return p_avg2(L, T)
    if mode == 8:
        return p_avg2(TL, T)
    if mode == 9:
        return p_avg2(T, TR)
    if mode == 10:
        return p_avg2(p_avg2(L, TL), p_avg2(T, TR))
    if mode == 11:
        pl = pt = 0
        for l, t, tl in zip(L, T, TL):
            pr = l + t - tl
            pl += abs(pr - l); pt += abs(pr - t)
        return L if pl < pt else T
    if mode == 12:
        return tuple(clamp255(a + b - c) for a, b, c in zip(L, T, TL))
    ave = p_avg2(L, T)
    out = []
    for a, b in zip(ave, TL):
        d = a - b
        out.append(clamp255(a + ((d >> 1) if d >= 0 else -((-d) >> 1))))
    return tuple(out)


pred_fail = 0
for trial in range(280):
    mode = trial % 14
    w = int(rng.integers(2, 7)); h = int(rng.integers(2, 6))
    px = [[tuple(int(v) for v in rng.integers(0, 256, size=3)) for _ in range(w)]
          for _ in range(h)]
    bw = _BitWriter(); header(bw, w, h)
    bw.write(1, 1); bw.write(0, 2); bw.write(4, 3)  # predictor, bits=6 (1 tile)
    bw.write(0, 1)
    flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
    simple_one(bw, 0); simple_one(bw, 0)
    code8(bw, mode); code8(bw, 0); code8(bw, 0)
    bw.write(0, 1); bw.write(0, 1); bw.write(0, 1)
    flat_code(bw, 280); flat_code(bw, 256); flat_code(bw, 256)
    simple_one(bw, 0); simple_one(bw, 0)
    for y in range(h):
        for x in range(w):
            if y == 0 and x == 0:
                pred = (0, 0, 0)
            elif y == 0:
                pred = px[y][x - 1]
            elif x == 0:
                pred = px[y - 1][x]
            else:
                # right-edge TR: current row's x=0 (libwebp rule)
                TR = px[y - 1][x + 1] if x + 1 < w else px[y][0]
                pred = spec_pred(mode, px[y][x - 1], px[y - 1][x],
                                 px[y - 1][x - 1], TR)
            r, g, b = (int(px[y][x][i] - pred[i]) % 256 for i in range(3))
            code8(bw, g); code8(bw, r); code8(bw, b)
    dec = vp8l_decode(riff(bw.done()))
    exp = np.array(px, dtype=np.uint8)
    if dec is None or not np.array_equal(dec[2][:, :, :3], exp):
        pred_fail += 1
        print("PRED MISMATCH mode", mode, trial, file=sys.stderr)
    checks += 1
print(f"vp8l predictor conformance: 280 random images over all 14 modes, "
      f"{pred_fail} mismatches")
assert pred_fail == 0

# ---------- 4. GIF animation walk + MP4 stsd fuzz: never raise,
# counts match construction
from gcp_dataengineering_spark.llm_ops.gif import gif_animation_info
from gcp_dataengineering_spark.llm_ops.multimodal import parse_av_header

anim_fail = 0
for trial in range(400):
    w = int(rng.integers(1, 20)); h = int(rng.integers(1, 20))
    nf = int(rng.integers(1, 6))
    loop = int(rng.integers(0, 70000)) if nf > 1 and trial % 2 else None
    body = b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"
    if loop is not None:
        body += (b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
                 + struct.pack("<H", loop & 0xFFFF) + b"\x00")
    for _ in range(nf):
        if trial % 3 == 0:
            body += b"\x21\xf9\x04\x00\x0a\x00\x00\x00"  # GCE
        lflags = 0x80 if trial % 5 == 0 else 0
        body += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([lflags])
        if lflags:
            body += bytes(6)  # 2-entry local table
        body += b"\x02" + b"\x01\x00" + b"\x00"
    body += b"\x3b"
    got = gif_animation_info(body)
    if got != (nf, (loop & 0xFFFF) if loop is not None else None):
        anim_fail += 1
        print("ANIM MISMATCH", trial, got, (nf, loop), file=sys.stderr)
    # truncation + bit flips never raise
    cut = int(rng.integers(0, len(body)))
    gif_animation_info(body[:cut])
    flip = bytearray(body)
    flip[int(rng.integers(0, len(flip)))] ^= 0xFF
    gif_animation_info(bytes(flip))
    checks += 3
print(f"gif animation walk: 400 constructions + truncation/flip fuzz, "
      f"{anim_fail} count mismatches")
assert anim_fail == 0

from gcp_dataengineering_spark.llm_ops.multimodal import synth_av_payload

stsd_fail = 0
for trial in range(400):
    i = int(rng.integers(1, 100000)) * 2 + 1  # odd -> mp4
    _, payload = synth_av_payload(i)
    exp = ("avc1", "hev1", "mp4a", "vp09")[(i // 2) % 4]
    meta = parse_av_header(payload)
    if meta[6] != exp:
        stsd_fail += 1
    cut = int(rng.integers(0, len(payload)))
    parse_av_header(payload[:cut])  # never raises
    flip = bytearray(payload)
    flip[int(rng.integers(0, len(flip)))] ^= 0xFF
    parse_av_header(bytes(flip))
    checks += 3
print(f"mp4 stsd: 400 ids + truncation/flip fuzz, {stsd_fail} codec mismatches")
assert stsd_fail == 0

# ---------- 5. fit/score vs one-shot on random corpora is covered by
# pytest (Spark); here: lm discount edge grid
from gcp_dataengineering_spark.llm_ops.ngram_kn import KN_DDEN, _kn_discount
from fractions import Fraction

for n1 in range(0, 40):
    for n2 in range(0, 40):
        d = _kn_discount(n1, n2)
        assert 1 <= d <= KN_DDEN - 1 or (n1 == 0 or n1 + 2 * n2 == 0) and d == 128
        if n1 > 0:
            exact = Fraction(KN_DDEN * n1, n1 + 2 * n2)
            want = int(exact) + (1 if exact - int(exact) >= Fraction(1, 2) else 0)
            assert d == max(1, min(KN_DDEN - 1, want)), (n1, n2)
        checks += 1
print("kn discount grid: 1600 (n1, n2) pairs, clamps + half-up exact")

print(f"TOTAL: {checks} checks in {time.time() - t0:.0f}s — ALL GREEN")

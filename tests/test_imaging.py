"""Codec + phash invariants: lossless exact roundtrip, lossy PSNR>=40dB
(the BASELINE.json per-row invariant), phash stability, and the
mapInPandas enrichment kernel."""

import numpy as np
from pyspark.sql import functions as F

from fundcrawler_spark import fixtures as fx
from fundcrawler_spark.functions import imaging
from fundcrawler_spark.operators.multimodal import enrich_images, phash_hamming


def test_lossless_roundtrip_exact():
    arr = fx.make_image("t1", 50, 37)
    for fmt in ("ppm", "bmp"):
        out = imaging.decode_image(imaging.encode_image(arr, fmt), fmt)
        assert (out == arr).all(), fmt


def test_dctq_psnr_at_least_40db():
    for i in range(8):
        arr = fx.make_image(f"p{i}", 48 + i, 41)
        out = imaging.decode_image(imaging.encode_image(arr, "dctq"), "dctq")
        assert imaging.psnr(arr, out) >= 40.0


def test_dctq_exact_tie_block_encoding_pinned():
    """The DC coefficient of this block, divided by the quant step, is
    exactly 10.5 in exact arithmetic (sum 336 = 32 * 10 + 16), so its
    quantized value depends on the last bit of the DCT. The fixed order
    lands exactly on 10.5 (half to even: 10); an FMA BLAS kernel gives
    10.500000000000002 and would encode 11."""
    import zlib

    block = np.array([
        [32, -17, 32, 13, 31, -25, 20, 35], [-37, -11, 10, -32, 0, 10, 21, 34],
        [-8, -5, -3, 36, -25, -1, -37, -6], [35, 9, -13, 39, 8, 35, -39, -4],
        [26, 20, -8, -1, -7, 2, -22, 22], [-34, -7, -18, 18, 19, 16, 33, 34],
        [-26, -31, -30, 18, 37, 34, 13, 37], [29, -39, -31, 29, -34, 38, 26, 36],
    ])
    assert block.sum() == 32 * 10 + 16
    data = imaging.encode_dctq((block + 128).astype(np.uint8)[:, :, None])
    q = np.frombuffer(zlib.decompress(data[9:]), dtype=np.int16).reshape(8, 8)
    assert q[0, 0] == 10

    # the same DC from plain Python floats in the documented order:
    # (m @ b) row 0, then its dot with m row 0, each summed j = 0, 1, ...
    m0 = imaging._dct_matrix()[0].tolist()
    b = block.astype(float).tolist()
    row0 = []
    for k in range(8):
        acc = m0[0] * b[0][k]
        for j in range(1, 8):
            acc = acc + m0[j] * b[j][k]
        row0.append(acc)
    dc = row0[0] * m0[0]
    for k in range(1, 8):
        dc = dc + row0[k] * m0[k]
    assert dc / 4.0 == 10.5


def test_phash_properties():
    a = fx.make_image("ha", 64, 64)
    b = fx.make_image("hb", 64, 64)
    pa, pb = imaging.phash64(a), imaging.phash64(b)
    assert pa == imaging.phash64(a)  # deterministic
    # lossy re-encode keeps the hash close
    a2 = imaging.decode_image(imaging.encode_image(a, "dctq"), "dctq")
    d_same = bin((pa ^ imaging.phash64(a2)) & (2**64 - 1)).count("1")
    d_diff = bin((pa ^ pb) & (2**64 - 1)).count("1")
    assert d_same <= 6 < d_diff


def test_enrich_images_kernel(spark):
    rows = fx.image_rows(24)
    df = spark.createDataFrame(
        [(r[0], r[1], r[5]) for r in rows], "image_id string, bytes binary, caption string"
    )
    out = {r["image_id"]: r for r in enrich_images(df).collect()}
    assert len(out) == len({r[0] for r in rows})
    for iid, b, w, h, fmt, cap, ph in rows:
        got = out[iid]
        assert got["fmt"] == fmt and got["w"] == w and got["h"] == h
        assert got["caption"] == cap
        if fmt in ("ppm", "bmp"):
            assert got["phash"] == ph


def test_phash_hamming_column(spark):
    df = spark.createDataFrame([(3, 1)], "a long, b long")
    d = df.select(phash_hamming(F.col("a"), F.col("b")).alias("d")).first()["d"]
    assert d == 1


def test_frozen_phash_fixture_reproduced():
    """The committed frozen fixture (the oracle's independent side for
    phash_near_dup_pairs / images_enrich) must match what the live
    decode->phash path computes today. If this fails, the codec
    semantics drifted: fix the regression, or — for a DELIBERATE
    change — regenerate via scripts/freeze_phash.py and commit."""
    import os
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from freeze_phash import compute_entries

    from fundcrawler_spark.frozen_phash import FROZEN_IMAGE_META

    assert compute_entries() == FROZEN_IMAGE_META


def test_frozen_oracle_catches_phash_perturbation(spark):
    """A 1-bit phash regression in the engine output must diverge from
    the frozen-VALUES oracle's pair set — i.e. the oracle is sensitive,
    not tautological."""
    from fundcrawler_spark.frozen_phash import FROZEN_IMAGE_META
    from fundcrawler_spark.operators.dedup import phash_near_dups

    rows = [(i, ph) for i, _w, _h, _f, ph in FROZEN_IMAGE_META]
    base = spark.createDataFrame(rows, "image_id string, phash long")
    ok = {(r["id_a"], r["id_b"]) for r in phash_near_dups(base, max_hamming=10).collect()}
    assert ok  # fixture plants near-dups; pair set is non-empty

    # flip 32 spread bits of one planted dup's phash: any original pair
    # at hamming <= 10 moves to >= 22 and must vanish from the output
    victim = next(i for i, _ in rows if i.startswith("dup_"))
    victim_pairs = {p for p in ok if victim in p}
    assert victim_pairs
    flip = 0xAAAAAAAAAAAAAAAA - (1 << 64)  # 32 bits set, as signed int64
    bad_rows = [(i, ph ^ flip if i == victim else ph) for i, ph in rows]
    bad = spark.createDataFrame(bad_rows, "image_id string, phash long")
    got = {(r["id_a"], r["id_b"]) for r in phash_near_dups(bad, max_hamming=10).collect()}
    assert not (victim_pairs & got)

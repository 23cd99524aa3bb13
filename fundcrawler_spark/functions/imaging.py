"""Image payload kernels — pure numpy, batch-oriented (Arrow-friendly).

The container has no Pillow/OpenCV (SURVEY.md §7), so we implement the
codecs the fixture images use ourselves:

  * ``ppm`` — binary P6, lossless (exact pixel match expected)
  * ``bmp`` — 24-bit uncompressed BI_RGB, lossless
  * ``dctq`` — our own seeded lossy codec: per-channel 8x8 block DCT,
    uniform quantization, zlib-packed int16 coefficients. Light
    quantization keeps PSNR >= 40 dB, which is exactly the per-row
    invariant BASELINE.json requires for lossy formats.

Everything here is NumPy-vectorized and called from pandas_udf /
mapInPandas batch kernels — never per-row Python inside Spark.

phash: classic 64-bit perceptual hash — 32x32 grayscale -> 2D DCT ->
top-left 8x8 minus DC -> median threshold. Matches the shape promised by
FIXTURES.md §1.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ------------------------------------------------------------------ PPM


def encode_ppm(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    # header: P6\n<w> <h>\n<maxval>\n
    parts = data.split(b"\n", 3)
    w, h = (int(x) for x in parts[1].split())
    raw = parts[3]
    return np.frombuffer(raw[: w * h * 3], dtype=np.uint8).reshape(h, w, 3)


# ------------------------------------------------------------------ BMP


def encode_bmp(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = np.zeros((h, row_size), dtype=np.uint8)
    # BMP stores bottom-up BGR
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)
    return header + info + rows.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    offset = struct.unpack("<I", data[10:14])[0]
    w = struct.unpack("<i", data[18:22])[0]
    h = struct.unpack("<i", data[22:26])[0]
    row_size = (w * 3 + 3) & ~3
    rows = np.frombuffer(data[offset : offset + row_size * h], dtype=np.uint8)
    rows = rows.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    return rows[::-1, :, ::-1].copy()


# ----------------------------------------------------------------- DCTQ
# Our own light lossy codec (quality fixed so PSNR >= 40 dB holds).

_DCT8 = None


def _dct_matrix(n: int = 8) -> np.ndarray:
    global _DCT8
    if _DCT8 is None or _DCT8.shape[0] != n:
        k = np.arange(n)
        m = np.sqrt(2.0 / n) * np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n))
        m[0, :] = np.sqrt(1.0 / n)
        _DCT8 = m
    return _DCT8


_QSTEP = 4.0  # uniform quant step; ~46 dB PSNR on natural-ish noise


def _fixed_matmul(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``a @ b`` over the last two axes, summed over j = 0, 1, ... with a
    separately rounded multiply and add per term.

    A DC coefficient of an integer block is an exact multiple of 1/32
    after quantization, so .5 ties are common, and the last bit of the
    product decides which way they round. BLAS picks a CPU-specific
    kernel (FMA or not, split accumulators or not) and so does not fix
    that bit; this loop does, on every CPU. It is the order of the
    non-FMA BLAS kernels the frozen fixtures were generated with."""
    acc = a[..., :, 0:1] * b[..., 0:1, :]
    for j in range(1, a.shape[-1]):
        acc += a[..., :, j:j + 1] * b[..., j:j + 1, :]
    return acc


def _dct2(x: np.ndarray, m: np.ndarray) -> np.ndarray:
    """2D DCT ``m @ x @ m.T``, evaluated left to right in fixed order."""
    return _fixed_matmul(_fixed_matmul(m, x), m.T)


def _blockify(ch: np.ndarray) -> tuple[np.ndarray, int, int]:
    h, w = ch.shape
    ph, pw = (-h) % 8, (-w) % 8
    ch = np.pad(ch, ((0, ph), (0, pw)), mode="edge")
    H, W = ch.shape
    blocks = ch.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)
    return blocks, h, w


def encode_dctq(arr: np.ndarray) -> bytes:
    h, w, c = arr.shape
    m = _dct_matrix()
    out = []
    for ci in range(c):
        blocks, _, _ = _blockify(arr[:, :, ci].astype(np.float64) - 128.0)
        q = np.round(_dct2(blocks, m) / _QSTEP).astype(np.int16)
        out.append(q.tobytes())
    payload = zlib.compress(b"".join(out), 6)
    return struct.pack("<4sHHB", b"DCQ1", w, h, c) + payload


def decode_dctq(data: bytes) -> np.ndarray:
    magic, w, h, c = struct.unpack("<4sHHB", data[:9])
    assert magic == b"DCQ1"
    raw = zlib.decompress(data[9:])
    m = _dct_matrix()
    H, W = h + ((-h) % 8), w + ((-w) % 8)
    nblk = (H // 8) * (W // 8)
    per = nblk * 64 * 2
    chans = []
    for ci in range(c):
        q = np.frombuffer(raw[ci * per : (ci + 1) * per], dtype=np.int16)
        q = q.reshape(H // 8, W // 8, 8, 8).astype(np.float64) * _QSTEP
        blocks = _dct2(q, m.T)
        ch = blocks.transpose(0, 2, 1, 3).reshape(H, W)[:h, :w] + 128.0
        chans.append(np.clip(np.round(ch), 0, 255).astype(np.uint8))
    return np.stack(chans, axis=-1)


CODECS = {
    "ppm": (encode_ppm, decode_ppm),
    "bmp": (encode_bmp, decode_bmp),
    "dctq": (encode_dctq, decode_dctq),
}

LOSSLESS = {"ppm", "bmp"}


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    return CODECS[fmt][1](bytes(data))


def encode_image(arr: np.ndarray, fmt: str) -> bytes:
    return CODECS[fmt][0](arr)


# ---------------------------------------------------------------- phash


def to_gray(arr: np.ndarray) -> np.ndarray:
    return (
        0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
    ).astype(np.float64)


def _resize_mean(gray: np.ndarray, size: int = 32) -> np.ndarray:
    """Box-mean resample to size x size (deterministic, no interpolation lib)."""
    h, w = gray.shape
    ys = (np.arange(size + 1) * h // size).astype(int)
    xs = (np.arange(size + 1) * w // size).astype(int)
    out = np.empty((size, size))
    csum = np.zeros((h + 1, w + 1))
    csum[1:, 1:] = gray.cumsum(0).cumsum(1)
    for i in range(size):
        for j in range(size):
            y0, y1, x0, x1 = ys[i], max(ys[i + 1], ys[i] + 1), xs[j], max(xs[j + 1], xs[j] + 1)
            area = (y1 - y0) * (x1 - x0)
            out[i, j] = (csum[y1, x1] - csum[y0, x1] - csum[y1, x0] + csum[y0, x0]) / area
    return out


def phash64(arr: np.ndarray) -> int:
    """8x8-DCT perceptual hash, signed 64-bit (Spark LongType friendly)."""
    small = _resize_mean(to_gray(arr), 32)
    n = 32
    k = np.arange(n)
    m = np.sqrt(2.0 / n) * np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n))
    m[0, :] = np.sqrt(1.0 / n)
    # only the top-left 8x8 of the DCT is used: rows 0-7 of m give it
    # directly, term for term the same sums as the full transform
    block = _dct2(small, m[:8]).flatten()
    med = np.median(block[1:])  # exclude DC
    bits = (block > med).astype(np.uint64)
    val = np.uint64(0)
    for b in bits:
        val = (val << np.uint64(1)) | b
    return int(val.astype(np.int64))  # two's-complement into signed 64


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def laplacian_blur_var(arr: np.ndarray) -> float:
    """Variance of the 4-neighbor Laplacian over integer luma — the
    classic 'variance of Laplacian' sharpness score (low = blurry).

    Bit-exact by construction: luma is integer ((299R+587G+114B)//1000),
    the Laplacian and both sums are exact int64 arithmetic, and the
    only float ops are two divisions + one multiply + one subtract in
    a fixed order — so a pure-Python reimplementation (the frozen
    oracle generator, scripts/freeze_blur.py) reproduces the value to
    the last bit."""
    a = arr.astype(np.int64)
    g = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    if g.shape[0] < 3 or g.shape[1] < 3:
        return 0.0
    lap = (
        4 * g[1:-1, 1:-1]
        - g[:-2, 1:-1]
        - g[2:, 1:-1]
        - g[1:-1, :-2]
        - g[1:-1, 2:]
    )
    n = lap.size
    s = int(lap.sum())
    ss = int((lap * lap).sum())
    mean = float(s) / n
    return float(ss) / n - mean * mean


# ---------------------------------------------------------------- dhash


def dhash64(arr: np.ndarray) -> int | None:
    """Row-gradient difference hash (the classic dHash): integer luma,
    box-partitioned to an 8-row x 9-col grid, bit set iff the left
    cell's mean luma exceeds the right cell's. A second, INDEPENDENT
    perceptual-hash family vs phash64 (gradient signs vs DCT spectrum)
    — consensus between the two raises near-dup precision.

    Bit-exact by construction (unlike phash64's float DCT): luma is
    integer ``(299R+587G+114B)//1000``, cell sums are exact int64, and
    each comparison is cross-multiplied — ``sum_l * area_r >
    sum_r * area_l`` — so no division ever happens. int64 bound:
    sum <= 255*4000*3000 ~ 3e9, area <= 12e6, product ~ 3.6e16 << 2^63.

    Images smaller than the 9x8 grid have degenerate cells -> None
    (callers treat it like a failed decode).
    """
    h, w = arr.shape[:2]
    if h < 8 or w < 9:
        return None
    g = (
        299 * arr[:, :, 0].astype(np.int64)
        + 587 * arr[:, :, 1].astype(np.int64)
        + 114 * arr[:, :, 2].astype(np.int64)
    ) // 1000
    csum = np.zeros((h + 1, w + 1), dtype=np.int64)
    csum[1:, 1:] = g.cumsum(0).cumsum(1)
    ys = (np.arange(9) * h // 8).astype(int)
    xs = (np.arange(10) * w // 9).astype(int)
    y0, y1 = ys[:-1], ys[1:]
    x0, x1 = xs[:-1], xs[1:]
    sums = (
        csum[np.ix_(y1, x1)] - csum[np.ix_(y0, x1)]
        - csum[np.ix_(y1, x0)] + csum[np.ix_(y0, x0)]
    )
    areas = np.outer(y1 - y0, x1 - x0).astype(np.int64)
    left = sums[:, :-1] * areas[:, 1:]
    right = sums[:, 1:] * areas[:, :-1]
    bits = (left > right).astype(np.uint64).flatten()
    val = np.uint64(0)
    for b in bits:
        val = (val << np.uint64(1)) | b
    return int(val.astype(np.int64))

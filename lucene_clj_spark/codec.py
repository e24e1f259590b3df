"""Posting-block codec — vectorized FOR bit-packing + varint + delta.

The north-star index layout stores postings as compressed blocks of
~128 docs (Lucene's block size), per block: delta-coded doc ids,
term frequencies, per-posting norm bytes, and concatenated
delta-coded positions — plus ``block_max_score`` metadata for
block-max WAND skipping (SURVEY.md §4.2).

Two codecs, both numpy-vectorized (no per-value Python loops):

- ``encode_block``/``decode_block`` — the segment-format-5 block
  codec: adaptive FOR/PFor/varint, the ``ForUtil`` + PForDelta
  family Lucene uses per 128-doc postings block (the north star
  names "varint/PForDelta block compression" verbatim). A one-byte
  tag + LEB128 count + LEB128 first value (Lucene's doc-base split:
  the block's leading absolute offset rides in the header so it
  can't force the shared width up), then ``(n-1)*width`` bits
  packed LSB-first via ``np.packbits``/``np.unpackbits`` (C-speed).
  Tags 1-32 are plain FOR at that width; tag ``0x40|w`` is PFor —
  base width ``w`` chosen by an exact bit-length-histogram cost
  model, and the outliers' high bits patched back in from two
  fixed-width side streams (indices, highs), so a single tf=255 in
  a block of tf=1..3 costs bytes proportional to ONE exception
  instead of widening all 128 values to 8 bits; tag 0 is the varint
  arm, chosen only when >=12.5% smaller than the best packed arm
  (it decodes 2-3x slower) and always for values wider than 32
  bits. Measured on realistic block shapes (BENCH/BASELINE.md
  round-4 codec sections): tf streams 33% smaller than plain FOR,
  outlier-contaminated delta blocks 71% smaller, decode 16-22us per
  128-value block.
- ``encode_varints``/``decode_varints`` — LEB128, kept as the tag-0
  fallback and for non-block metadata: encode builds the byte stream
  with masked passes; decode finds value boundaries from continuation
  bits and reduces 7-bit groups with ``np.add.reduceat``.

These kernels run inside Arrow UDFs on executors — the hot path of
both index build and WAND scoring.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def encode_varints(a: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int array (vectorized)."""
    a = np.ascontiguousarray(a, dtype=np.uint64)
    if a.size == 0:
        return b""
    nb = np.ones(a.shape, dtype=np.int64)
    v = a >> np.uint64(7)
    while v.any():
        nb += (v > 0).astype(np.int64)
        v >>= np.uint64(7)
    starts = np.concatenate(([0], np.cumsum(nb)[:-1]))
    buf = np.zeros(int(nb.sum()), dtype=np.uint8)
    kmax = int(nb.max())
    for k in range(kmax):
        m = nb > k
        byte = ((a[m] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[m] - 1) > k
        buf[starts[m] + k] = byte | (cont.astype(np.uint8) << 7)
    return buf.tobytes()


def decode_varints(buf: bytes) -> np.ndarray:
    """Inverse of encode_varints -> uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    # group id per byte: 0-based index of the value this byte belongs to
    group = np.zeros(b.size, dtype=np.int64)
    group[1:] = np.cumsum(is_end)[:-1]
    starts = np.flatnonzero(np.diff(np.concatenate(([-1], group))) > 0)
    pos_in_group = np.arange(b.size) - starts[group]
    contrib = (b & 0x7F).astype(np.uint64) << (7 * pos_in_group).astype(
        np.uint64
    )
    return np.add.reduceat(contrib, starts)


_FOR_VARINT_TAG = 0
_FOR_MAX_WIDTH = 32
_PFOR_TAG_BASE = 0x40  # tag 0x40|w = PFor: base width w + patch list
_BIT_WEIGHTS = np.uint64(1) << np.arange(_FOR_MAX_WIDTH, dtype=np.uint64)
def _pack_bits(vals: np.ndarray, w: int) -> bytes:
    """LSB-first fixed-width bit-pack (np.packbits, C-speed)."""
    bits = ((vals[:, None] >> np.arange(w, dtype=np.uint64))
            & np.uint64(1))
    return np.packbits(bits.astype(np.uint8).ravel(),
                       bitorder="little").tobytes()


def _unpack_bits(buf: bytes, off: int, n: int, w: int) -> np.ndarray:
    """Inverse of ``_pack_bits`` -> uint64 array of ``n`` values."""
    bits = np.unpackbits(
        np.frombuffer(buf, dtype=np.uint8, offset=off,
                      count=(n * w + 7) // 8),
        count=n * w, bitorder="little",
    ).reshape(n, w)
    return bits.astype(np.uint64) @ _BIT_WEIGHTS[:w]


def encode_block(a: np.ndarray) -> bytes:
    """Adaptively encode a non-negative int array (segment format 5):
    smallest of plain FOR, PFor (patched FOR), or varint.

    FOR layout: ``[width:1][n:LEB128][first:LEB128]`` + ``n-1``
    values packed at ``width`` bits LSB-first — the codec family
    Lucene's ``ForUtil`` uses per postings block, with the block's
    first value split into the header (Lucene's doc-base trick)
    because a delta block starts with an ABSOLUTE in-chunk offset
    that would otherwise force the whole block's width up.

    PFor layout: ``[0x40|w][n:LEB][first:LEB][wi:1][wh:1]
    [n_exc:LEB]`` + base values at ``w`` bits (exceptions keep only
    their low ``w`` bits) + exception indices at ``wi`` bits +
    exception high parts at ``wh`` bits. The base width is chosen by
    an exact per-width cost model over the tail's bit-length
    histogram — a few outliers stop widening the whole block.

    Varint layout: ``[0x00]`` + LEB128 payload; chosen only when it
    is >= 12.5% smaller than the best packed arm (tiny/sparse
    blocks), and always for values wider than 32 bits. The bias
    exists because the packed arms decode ~2-3x faster per block
    (``unpackbits`` + matmul) than the varint boundary-scan — a
    near-tie on bytes should not buy a 2x decode-time regression on
    the WAND scan's hottest loop."""
    a = np.ascontiguousarray(a, dtype=np.uint64)
    if a.size == 0:
        return bytes([_FOR_VARINT_TAG])
    if a.size > 1:
        rest = a[1:]
        w_max = max(1, int(rest.max()).bit_length())
        if w_max <= _FOR_MAX_WIDTH:
            head = _leb(int(a.size)) + _leb(int(a[0]))
            n1 = a.size - 1
            best_w, best_len, best_exc = w_max, (
                1 + len(head) + (n1 * w_max + 7) // 8), None
            # PFor width selection — a handful of outliers (one
            # tf=255 in a block of tf=1..3) must not force every
            # value to the max width; exceptions patch their high
            # bits back in from two fixed-width side streams
            # (absolute indices at wi bits, high parts at wh bits —
            # bit-packed like the base, so the patch decodes at FOR
            # speed, not a varint scan). The base width is picked
            # from an exact bit-length histogram (np.frexp's exponent
            # IS bit_length for w_max<=32) with a vectorized
            # per-width cost model — no percentile sorts, no
            # per-candidate scans; one exact pass for the winner.
            if w_max > 2 and n1 >= 8:
                bl = np.frexp(rest.astype(np.float64))[1]
                hist = np.bincount(bl, minlength=w_max + 1)
                n_exc_at = n1 - np.cumsum(hist)  # [w] = #values bl>w
                ws = np.arange(1, w_max)
                wi_ub = max(1, (n1 - 1).bit_length())
                costs = ((n1 * ws + 7) // 8 + 3
                         + (n_exc_at[ws] * (wi_ub + (w_max - ws))
                            + 7) // 8)
                k = int(np.argmin(costs))
                w = int(ws[k])
                if costs[k] < (n1 * w_max + 7) // 8:
                    idx = np.flatnonzero(rest >> np.uint64(w))
                    high = rest[idx] >> np.uint64(w)
                    wi = max(1, int(idx[-1]).bit_length())
                    wh = max(1, int(high.max()).bit_length())
                    plen = (1 + len(head) + 2 + len(_leb(idx.size))
                            + (n1 * w + 7) // 8
                            + (idx.size * wi + 7) // 8
                            + (idx.size * wh + 7) // 8)
                    if plen < best_len:
                        best_w, best_len = w, plen
                        best_exc = (idx.astype(np.uint64), high, wi, wh)
            # packed unless varint is >=12.5% smaller (7/8 = the
            # bias: FOR/PFor decode 2-3x faster than the varint
            # boundary-scan); a.size is varint's exact lower bound
            # (>=1 byte/value), so dense blocks skip the length pass
            if (best_len * 7 <= a.size * 8
                    or best_len * 7 <= _varint_len(a) * 8):
                w = best_w
                if best_exc is None:
                    return bytes([w]) + head + _pack_bits(rest, w)
                idx, high, wi, wh = best_exc
                return (bytes([_PFOR_TAG_BASE | w]) + head
                        + bytes([wi, wh]) + _leb(idx.size)
                        + _pack_bits(rest & np.uint64((1 << w) - 1), w)
                        + _pack_bits(idx, wi) + _pack_bits(high, wh))
    return bytes([_FOR_VARINT_TAG]) + encode_varints(a)


def _varint_len(a: np.ndarray) -> int:
    """Exact LEB128-encoded byte length of ``a`` without building it."""
    nb = np.ones(a.shape, dtype=np.int64)
    v = a >> np.uint64(7)
    while v.any():
        nb += (v > 0).astype(np.int64)
        v >>= np.uint64(7)
    return int(nb.sum())


def _leb(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def decode_block(buf: bytes) -> np.ndarray:
    """Inverse of ``encode_block`` -> uint64 array (vectorized)."""
    if len(buf) == 0:
        return np.zeros(0, dtype=np.uint64)
    tag = buf[0]
    if tag == _FOR_VARINT_TAG:
        return decode_varints(buf[1:])
    w = tag & (_PFOR_TAG_BASE - 1)
    n, off = _read_leb(buf, 1)
    first, off = _read_leb(buf, off)
    wi = wh = n_exc = 0
    if tag & _PFOR_TAG_BASE:
        wi, wh = buf[off], buf[off + 1]
        n_exc, off = _read_leb(buf, off + 2)
    out = np.empty(n, dtype=np.uint64)
    out[0] = first
    out[1:] = _unpack_bits(buf, off, n - 1, w)
    if n_exc:
        off += ((n - 1) * w + 7) // 8
        idx = _unpack_bits(buf, off, n_exc, wi).astype(np.int64)
        off += (n_exc * wi + 7) // 8
        high = _unpack_bits(buf, off, n_exc, wh)
        out[idx + 1] |= high << np.uint64(w)  # +1: out[0] = first
    return out


def _read_leb(buf: bytes, off: int) -> tuple[int, int]:
    n = 0
    shift = 0
    while True:
        b = buf[off]
        off += 1
        n |= (b & 0x7F) << shift
        if not (b & 0x80):
            return n, off
        shift += 7


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing ids -> first value + gaps (all >= 0)."""
    a = np.ascontiguousarray(sorted_ids, dtype=np.int64)
    out = np.empty_like(a)
    if a.size:
        out[0] = a[0]
        np.subtract(a[1:], a[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(np.ascontiguousarray(deltas, dtype=np.int64))


def encode_positions(tfs: np.ndarray, positions: list[np.ndarray]) -> bytes:
    """Concatenate per-posting position lists, each delta-coded, into
    one varint stream; ``tfs`` gives the per-posting counts needed to
    split at decode time. One flat pass: deltas across the whole
    concatenation with a reset at each posting boundary — no per-
    posting numpy calls (this is the index build's hottest loop)."""
    if len(positions) == 0:
        return b""
    flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in positions])
    return encode_positions_flat(tfs, flat)


def encode_positions_flat(tfs: np.ndarray, flat: np.ndarray) -> bytes:
    """``encode_positions`` over an ALREADY-flat position stream —
    the zero-copy entry used by the slab encoder, which slices the
    Arrow list column's values buffer directly instead of building a
    python list of per-posting arrays.

    Layout (format 4): ``[len(firsts_block):LEB128]`` + two
    ``encode_block`` payloads — the per-posting ABSOLUTE first
    positions, then the flat intra-posting gaps. Splitting the two
    populations lets each pack at its own FOR width (firsts ~11-13
    bits, gaps ~2-6 bits); interleaved (the format-3 layout) the
    absolute resets forced every gap up to the firsts' width, and
    the adaptive codec would flee to the slower varint arm. Measured
    (tools-free micro A/B, BENCH/BASELINE.md round-4 codec section):
    on web-page-like blocks (128 postings, avg tf 10, bursty gaps)
    the split stream is 44% smaller than interleaved FOR at ~1.3x
    its decode pass (both linear unpackbits); on short-doc blocks
    (tf mostly 1, the gaps stream near-empty) it is size-neutral
    (-0.8%). Positions dominate index bytes on web corpora, so the
    long-doc regime is the one that matters at scale."""
    if flat.size == 0:
        return b""
    flat = np.ascontiguousarray(flat, dtype=np.int64)
    counts = np.asarray(tfs, dtype=np.int64)
    p_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    deltas = np.empty_like(flat)
    deltas[0] = flat[0]
    np.subtract(flat[1:], flat[:-1], out=deltas[1:])
    firsts = flat[p_starts]
    gap_mask = np.ones(flat.size, dtype=bool)
    gap_mask[p_starts] = False
    fb = encode_block(firsts.astype(np.uint64))
    gb = encode_block(deltas[gap_mask].astype(np.uint64))
    return _leb(len(fb)) + fb + gb


def decode_positions_flat(
    buf: bytes, tfs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_positions WITHOUT splitting: returns
    ``(flat, starts)`` where posting ``j``'s positions are
    ``flat[starts[j] : starts[j] + tfs[j]]``. Vectorized: decode the
    firsts and gaps blocks, scatter them back into one delta stream
    (absolutes at posting boundaries), then one cumsum with a
    per-posting offset correction (the cumsum carries the previous
    postings' totals across boundaries). The flat form feeds the
    positions kernels' and the tree kernel's phrase leaves' vectorized
    multi-segment gather;
    ``decode_positions`` wraps it with zero-copy splits."""
    counts = np.asarray(tfs, dtype=np.int64)
    if len(buf) == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, (np.zeros(counts.size, dtype=np.int64)
                   if counts.size == 0 else
                   np.concatenate(([0], np.cumsum(counts)[:-1])))
    n_fb, off = _read_leb(buf, 0)
    firsts = decode_block(buf[off:off + n_fb]).astype(np.int64)
    gaps = decode_block(buf[off + n_fb:]).astype(np.int64)
    if counts.size == 0:
        return gaps[:0], np.zeros(0, dtype=np.int64)
    p_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    total = firsts.size + gaps.size
    if total == 0:
        return gaps[:0], p_starts
    deltas = np.empty(total, dtype=np.int64)
    gap_mask = np.ones(total, dtype=bool)
    gap_mask[p_starts] = False
    deltas[p_starts] = firsts
    deltas[gap_mask] = gaps
    starts = p_starts[1:]
    c = np.cumsum(deltas)
    # subtract each posting's incoming running total (c[start-1]) so
    # every split behaves like its own cumsum
    run_off = np.concatenate(([0], c[starts - 1]))
    adj = c - np.repeat(run_off, counts)
    return adj, p_starts


def decode_positions(buf: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Inverse of encode_positions -> per-posting position arrays."""
    counts = np.asarray(tfs, dtype=np.int64)
    adj, p_starts = decode_positions_flat(buf, tfs)
    if adj.size == 0:
        return [np.zeros(0, dtype=np.int64) for _ in range(counts.size)]
    return np.split(adj, p_starts[1:])

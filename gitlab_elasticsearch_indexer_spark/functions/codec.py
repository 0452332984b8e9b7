"""Posting-block codecs: docID-delta + LEB128 varint, and FOR
(frame-of-reference) fixed-width bit-packing — both numpy-vectorized.

The reference delegates this to Lucene (FOR/vInt block postings with skip
data and block-max metadata — driven by the mapping's per-field
``index_options``, elastic/index.go:115-119,188-191).  This module is our
from-scratch equivalent: encode/decode whole uint64 arrays without
per-element Python loops, so the posting kernel and the query-time block
reader stay Arrow/numpy-speed.  The single-block encoders below are the
format's reference; the kernel encodes a whole chunk of blocks at once
(``for_blocks``, ``varint_spans``) with byte-identical output, and the
query kernel decodes all of a query's blocks at once (``for_unpack_blocks``).

Layout per block (BLOCK_SIZE=128 postings, like Lucene):
- ``docids_enc``: encoded deltas where delta[0]=docid[0]-base, rest adjacent
  diffs (strictly positive — docids are unique and sorted).
- ``tfs_enc``:    encoded tf values.
Block metadata (first/max docid = skip pointers; max_tf and min_dl give the
block-max score bound) lives in sibling columns of the segments table
(schemas.py).

Self-describing payloads: the first byte tags the codec —
``0x00`` LEB128 varint stream, ``0x01`` FOR bit-packing
(u8 width | u32 count | little-endian packed words).  The encoder picks FOR
when the block's max value fits ≤32 bits (docid deltas within an 8192-doc
range need ≤13; tfs are small), else falls back to varint — so decode never
needs out-of-band configuration, mirroring Lucene's per-block FOR/vInt
switching.  Exception-patching (PForDelta proper) is intentionally omitted:
with delta+range-bounded blocks the width is already tight, and a single
wide block falls back to varint.
"""

from __future__ import annotations

import numpy as np

TAG_VARINT = 0x00
TAG_FOR = 0x01
FOR_MAX_WIDTH = 32  # wider values → varint fallback (shift safety + rarity)
FOR_HEADER_BYTES = 6  # tag | width | u32 count


def _bit_width(max_value: int) -> int:
    return max(int(max_value).bit_length(), 1)


def for_pack(values: np.ndarray, width: int) -> bytes:
    """Fixed-width little-endian bit-packing, vectorized (width ≤ 32)."""
    values = np.asarray(values, dtype=np.uint64)
    n = values.size
    total_bits = n * width
    n_bytes = (total_bits + 7) // 8
    buf = np.zeros(n_bytes + 8, dtype=np.uint8)  # slack for last shifts
    offsets = np.arange(n, dtype=np.int64) * width
    byte_idx = offsets >> 3
    shifts = (offsets & 7).astype(np.uint64)
    shifted = values << shifts  # ≤ 32+7 bits, safe in uint64
    for b in range((width + 7 + 7) // 8 + 1):
        chunk = ((shifted >> np.uint64(8 * b)) & np.uint64(0xFF)).astype(np.uint8)
        np.add.at(buf, byte_idx + b, chunk)  # disjoint bits per byte → OR==ADD
    return buf[:n_bytes].tobytes()


def for_unpack(buf: bytes, n: int, width: int) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8)
    padded = np.zeros(b.size + 8, dtype=np.uint8)
    padded[: b.size] = b
    offsets = np.arange(n, dtype=np.int64) * width
    byte_idx = offsets >> 3
    shifts = (offsets & 7).astype(np.uint64)
    acc = np.zeros(n, dtype=np.uint64)
    for i in range((width + 7 + 7) // 8 + 1):
        acc |= padded[byte_idx + i].astype(np.uint64) << np.uint64(8 * i)
    acc >>= shifts
    mask = np.uint64((1 << width) - 1)
    return acc & mask


def block_encode(values: np.ndarray) -> bytes:
    """Tagged block encoding: FOR when the max fits ≤32 bits, else varint."""
    values = np.asarray(values, dtype=np.uint64)
    if values.size == 0:
        return bytes([TAG_VARINT])
    width = _bit_width(int(values.max()))
    if width <= FOR_MAX_WIDTH:
        header = bytes([TAG_FOR, width]) + np.uint32(values.size).tobytes()
        return header + for_pack(values, width)
    return bytes([TAG_VARINT]) + varint_encode(values)


# bit_length(x) == number of powers of two <= x
_POW2 = np.array([1 << i for i in range(64)], dtype=np.uint64)


def for_blocks(values: np.ndarray, starts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``block_encode`` of many blocks in one numpy pass.

    ``values`` holds every block's values back to back, block ``i`` starting
    at ``starts[i]`` (``starts[0] == 0``).  Returns the concatenated payloads
    as a uint8 array plus ``len(starts) + 1`` byte offsets; block ``i``'s
    bytes equal ``block_encode(values[starts[i]:starts[i + 1]])``.  Every
    block is FOR: a block whose values need more than FOR_MAX_WIDTH bits
    raises instead of falling back to varint."""
    values = np.asarray(values, dtype=np.uint64)
    starts = np.asarray(starts, dtype=np.int64)
    n = starts.size
    offsets = np.zeros(n + 1, dtype=np.int64)
    if n == 0:
        return np.zeros(0, dtype=np.uint8), offsets
    counts = np.diff(np.append(starts, values.size))
    widths = np.searchsorted(_POW2, np.maximum.reduceat(values, starts), side="right")
    np.maximum(widths, 1, out=widths)
    w_max = int(widths.max())
    if w_max > FOR_MAX_WIDTH:
        raise ValueError(f"FOR width {w_max} exceeds {FOR_MAX_WIDTH} bits")
    np.cumsum(FOR_HEADER_BYTES + (counts * widths + 7) // 8, out=offsets[1:])

    # header: tag | width | little-endian u32 count
    hdr = np.empty((n, FOR_HEADER_BYTES), dtype=np.int64)
    hdr[:, 0] = TAG_FOR
    hdr[:, 1] = widths
    for j in range(4):
        hdr[:, 2 + j] = (counts >> (8 * j)) & 0xFF
    hdr_idx = offsets[:-1, None] + np.arange(FOR_HEADER_BYTES)

    # value k of block i sits at bit (offsets[i] + header) * 8 + k * width[i];
    # shifted into place it spans at most (width + 7 + 7) // 8 bytes
    blk = np.repeat(np.arange(n), counts)
    k = np.arange(values.size) - starts[blk]
    bit = (offsets[:-1][blk] + FOR_HEADER_BYTES) * 8 + k * widths[blk]
    shifted = values << (bit & 7).astype(np.uint64)
    byte0 = bit >> 3
    planes = range((w_max + 14) // 8)
    idx = np.concatenate([hdr_idx.ravel()] + [byte0 + j for j in planes])
    byte_vals = np.concatenate(
        [hdr.ravel()]
        + [(shifted >> np.uint64(8 * j)) & np.uint64(0xFF) for j in planes]
    )
    # values own disjoint bits, so summing their bytes is OR-ing them
    data = np.bincount(idx, weights=byte_vals, minlength=int(offsets[-1]))
    return data[: offsets[-1]].astype(np.uint8), offsets


def for_unpack_blocks(
    data: np.ndarray, offsets: np.ndarray, counts: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """The inverse of ``for_blocks``: block ``i`` is the FOR payload
    ``data[offsets[i]:offsets[i + 1]]``; returns every block's values back
    to back (uint64) and each block's start in them.  One numpy pass over
    all blocks.  A payload that is not FOR, whose length disagrees with its
    header, or whose header count differs from ``counts[i]`` raises
    ``ValueError``."""
    data = np.asarray(data, dtype=np.uint8)
    offsets = np.asarray(offsets, dtype=np.int64)
    head, sizes = offsets[:-1], np.diff(offsets)
    if head.size == 0:
        return np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.int64)
    if (sizes < FOR_HEADER_BYTES).any() or (data[head] != TAG_FOR).any():
        raise ValueError("not a FOR block payload")
    widths = data[head + 1].astype(np.int64)
    if widths.max() > FOR_MAX_WIDTH:
        raise ValueError(f"FOR width above {FOR_MAX_WIDTH} bits")
    n = np.zeros(head.size, dtype=np.int64)
    for j in range(4):  # little-endian u32 count
        n |= data[head + 2 + j].astype(np.int64) << (8 * j)
    if counts is not None and not np.array_equal(n, counts):
        raise ValueError("block header counts differ from the expected counts")
    if not np.array_equal(sizes, FOR_HEADER_BYTES + (n * widths + 7) // 8):
        raise ValueError("FOR payload length does not match its header")
    starts = np.zeros(head.size, dtype=np.int64)
    np.cumsum(n[:-1], out=starts[1:])
    blk = np.repeat(np.arange(head.size), n)
    k = np.arange(starts[-1] + n[-1]) - starts[blk]
    bit = (head[blk] + FOR_HEADER_BYTES) * 8 + k * widths[blk]
    byte0 = bit >> 3
    padded = np.zeros(data.size + 8, dtype=np.uint8)  # slack for the last value
    padded[: data.size] = data
    acc = np.zeros(k.size, dtype=np.uint64)
    for j in range((int(widths.max()) + 14) // 8):
        acc |= padded[byte0 + j].astype(np.uint64) << np.uint64(8 * j)
    acc >>= (bit & 7).astype(np.uint64)
    acc &= ((np.uint64(1) << widths.astype(np.uint64)) - np.uint64(1))[blk]
    return acc, starts


def block_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    tag = buf[0]
    if tag == TAG_FOR:
        width = buf[1]
        n = int(np.frombuffer(buf[2:6], dtype=np.uint32)[0])
        out = for_unpack(buf[6:], n, width)
    elif tag == TAG_VARINT:
        out = varint_decode(buf[1:])
    else:
        raise ValueError(f"unknown codec tag {tag}")
    if count is not None and out.size != count:
        raise ValueError(f"decoded {out.size} values, expected {count}")
    return out


def varint_encode(values: np.ndarray) -> bytes:
    """Vectorized LEB128: uint64 array -> bytes."""
    return varint_spans(values)[0].tobytes()


# LEB128 needs one more byte at each of these thresholds (2^7 ... 2^63)
_VARINT_LIMITS = np.array([1 << (7 * i) for i in range(1, 10)], dtype=np.uint64)


def varint_spans(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 of a whole uint64 array in one pass: the encoded bytes as a
    uint8 array, plus each value's start byte offset (``n + 1`` entries, the
    last is the total).  LEB128 values concatenate, so any run of values
    ``[i, j)`` encodes to ``data[offsets[i]:offsets[j]]``."""
    values = np.asarray(values, dtype=np.uint64)
    widths = 1 + np.searchsorted(_VARINT_LIMITS, values, side="right")
    offsets = np.zeros(values.size + 1, dtype=np.int64)
    np.cumsum(widths, out=offsets[1:])
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    shifted = values.copy()
    for byte_i in range(int(widths.max()) if values.size else 0):
        active = widths > byte_i
        pos = offsets[:-1][active] + byte_i
        chunk = (shifted[active] & np.uint64(0x7F)).astype(np.uint8)
        more = widths[active] > (byte_i + 1)
        out[pos] = chunk | (more.astype(np.uint8) << 7)
        shifted[active] >>= np.uint64(7)
    return out, offsets


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """bytes -> uint64 array, vectorized (no per-value Python loop)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.nonzero(b < 128)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    widths = ends - starts + 1
    n = starts.size
    values = np.zeros(n, dtype=np.uint64)
    for byte_i in range(int(widths.max())):
        active = widths > byte_i
        chunk = (b[starts[active] + byte_i] & np.uint8(0x7F)).astype(np.uint64)
        values[active] |= chunk << np.uint64(7 * byte_i)
    if count is not None and n != count:
        raise ValueError(f"decoded {n} values, expected {count}")
    return values


def encode_docids(docids: np.ndarray, base: int = 0) -> bytes:
    """Sorted unique docids -> delta + tagged block bytes (delta[0] relative
    to base)."""
    docids = np.asarray(docids, dtype=np.int64)
    deltas = np.diff(docids, prepend=np.int64(base))
    if deltas.size and deltas.min() < 0:
        raise ValueError("docids must be sorted ascending and >= base")
    return block_encode(deltas.astype(np.uint64))


def decode_docids(buf: bytes, base: int = 0, count: int | None = None) -> np.ndarray:
    deltas = block_decode(buf, count).astype(np.int64)
    if deltas.size == 0:
        return deltas
    out = np.cumsum(deltas)
    out += base
    return out


def encode_tfs(tfs: np.ndarray) -> bytes:
    return block_encode(np.asarray(tfs, dtype=np.uint64))


def decode_tfs(buf: bytes, count: int | None = None) -> np.ndarray:
    return block_decode(buf, count).astype(np.int64)


def encode_positions(position_lists: list[np.ndarray]) -> bytes:
    """Optional positions payload (index_options=positions/offsets, §1.4):
    per posting: varint(len) + varint(delta positions)."""
    parts: list[np.ndarray] = []
    for pos in position_lists:
        pos = np.asarray(pos, dtype=np.int64)
        deltas = np.diff(pos, prepend=np.int64(0))
        parts.append(np.concatenate(([pos.size], deltas)).astype(np.uint64))
    if not parts:
        return b""
    return varint_encode(np.concatenate(parts))


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Every posting's positions, concatenated in posting order, in whole-block
    numpy passes: posting i holds ``tfs[i]`` positions, so its length prefix
    sits at a known offset and no per-posting loop is needed."""
    tfs = np.asarray(tfs, dtype=np.int64)
    flat = varint_decode(buf).astype(np.int64)
    heads = np.cumsum(tfs + 1) - (tfs + 1)
    if flat.size != heads.size + tfs.sum() or not np.array_equal(flat[heads], tfs):
        raise ValueError("positions payload does not match the block's tfs")
    body = np.ones(flat.size, dtype=bool)
    body[heads] = False
    pos = np.cumsum(flat[body])  # deltas; each posting's first value is absolute
    before = np.concatenate(([0], pos))[np.cumsum(tfs) - tfs]
    return pos - np.repeat(before, tfs)


def encode_offsets(offset_lists: list[tuple[np.ndarray, np.ndarray]]) -> bytes:
    """Offsets payload (index_options=offsets, §1.4 — the reference stores
    docs+freqs+positions+offsets on project-level fields,
    elastic/index.go:208-218): per posting varint(n) + delta-coded start
    offsets + (end-start) lengths."""
    parts: list[np.ndarray] = []
    for starts, ends in offset_lists:
        starts = np.asarray(starts, dtype=np.int64)
        ends = np.asarray(ends, dtype=np.int64)
        deltas = np.diff(starts, prepend=np.int64(0))
        lens = ends - starts
        parts.append(
            np.concatenate(([starts.size], deltas, lens)).astype(np.uint64)
        )
    if not parts:
        return b""
    return varint_encode(np.concatenate(parts))


def decode_offsets(buf: bytes, n_postings: int) -> list[tuple[np.ndarray, np.ndarray]]:
    flat = varint_decode(buf).astype(np.int64)
    out: list[tuple[np.ndarray, np.ndarray]] = []
    i = 0
    for _ in range(n_postings):
        n = int(flat[i])
        starts = np.cumsum(flat[i + 1 : i + 1 + n])
        lens = flat[i + 1 + n : i + 1 + 2 * n]
        out.append((starts, starts + lens))
        i += 1 + 2 * n
    return out

"""Posting-list codec: delta + LEB128 varint with block-max metadata.

The reference keeps postings as uncompressed ``Vec<String>`` with one entry
per token occurrence (``src/lib.rs:341-343,359-365``). At 10^12-doc scale
that layout is untenable; per the north_rule, segments store docID-sorted,
delta + varint-compressed posting lists with per-block metadata:

- ``last_docid`` per block       -> skip/seek without decoding,
- ``(max_tf, min_dl)`` per block -> BM25 block upper bound. The norm
  ``tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`` is monotone increasing in
  tf and decreasing in dl for every avgdl, so
  ``norm(max_tf, min_dl) >= norm(tf_i, dl_i)`` for every posting in the
  block — a valid block-max bound that is **independent of corpus-global
  stats** (avgdl, idf). This is what lets the index build run in a
  single corpus pass with zero global joins: nothing in a segment
  depends on any other partition. idf and avgdl are applied at query
  time (``BlockMeta.max_norms``).
- byte offsets + per-block codec flag -> decode individual blocks
  standalone (codec 0 = LEB128 varint; codec 1 = PForDelta, i.e.
  bit-packed frame-of-reference with varint-patched exceptions).

Everything is numpy-vectorized (no per-value Python loops; the LEB128
encoder/decoder loop is over the ≤10 byte positions, not over values),
so the kernels run at Arrow-batch speed inside Arrow/pandas UDFs. Both
directions also batch across terms: :func:`encode_postings_batch`
encodes a whole bucket's terms at once, and
:func:`decode_postings_batch` decodes them back at once — every
blockmeta parsed into one block table per stream (docid, tf), each
table decoded by one call of the one block decoder
(``_decode_stream``), then one per-term delta reset — so a segment
merge pays no per-term Python call.

Layout of the ``postings`` binary per term:
    [docid blocks][tf blocks]  (docids are gap-encoded, gaps = docid
    diffs with an implicit previous of -1, i.e. first gap = docid+1 so
    docid 0 encodes as 1 — keeps every gap >= 1)

Layout of the ``blockmeta`` binary per term (codec v2):
    uint32 n_blocks, uint32 block_size,
    int64  last_docid[n_blocks],
    uint32 max_tf[n_blocks],
    uint32 min_dl[n_blocks],
    uint8  docid_codec[n_blocks],
    uint8  tf_codec[n_blocks],
    uint32 docid_byte_off[n_blocks + 1],
    uint32 tf_byte_off[n_blocks + 1]
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

_U7 = np.uint64(7)
_U0x7F = np.uint64(0x7F)


def varint_encode_with_lens(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array; also return per-value byte lengths
    (enables batched encoding with post-hoc offset slicing)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    buf = np.zeros((n, 10), dtype=np.uint8)
    lens = np.ones(n, dtype=np.int64)
    cur = v.copy()
    for i in range(10):
        buf[:, i] = (cur & _U0x7F).astype(np.uint8)
        cur >>= _U7
        more = cur > 0
        if not more.any():
            break
        buf[more, i] |= 0x80
        lens[more] = i + 2
    mask = np.arange(10)[None, :] < lens[:, None]
    return buf[mask].tobytes(), lens


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array. Vectorized over values."""
    return varint_encode_with_lens(values)[0]


def varint_decode(data: bytes | memoryview | np.ndarray) -> np.ndarray:
    """Decode a full LEB128 byte stream back to uint64. Vectorized."""
    a = np.frombuffer(data, dtype=np.uint8)
    ends = (a & 0x80) == 0
    if ends.all():  # every value < 128 (empty too): one byte each
        return a.astype(np.uint64)
    gid = np.zeros(len(a), dtype=np.int64)
    np.cumsum(ends[:-1], out=gid[1:])
    first = np.ones(len(a), dtype=bool)
    first[1:] = ends[:-1]
    starts = np.flatnonzero(first)
    offs = (np.arange(len(a)) - starts[gid]).astype(np.uint64)
    vals = (a.astype(np.uint64) & _U0x7F) << (offs * _U7)
    return np.add.reduceat(vals, starts)


def delta_encode(docids: np.ndarray) -> np.ndarray:
    """Sorted docids -> gaps (first gap = docid + 1, all gaps >= 1)."""
    d = np.asarray(docids, dtype=np.int64)
    gaps = np.empty(len(d), dtype=np.uint64)
    if len(d):
        gaps[0] = d[0] + 1
        gaps[1:] = np.diff(d)
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    g = np.asarray(gaps, dtype=np.uint64).astype(np.int64)
    if len(g) == 0:
        return np.empty(0, dtype=np.int64)
    out = np.cumsum(g)
    return out - 1


def bm25_norm(tfs: np.ndarray, dls: np.ndarray, avgdl: float, k1: float = 1.2, b: float = 0.75) -> np.ndarray:
    """idf-independent BM25 term normalization per posting (float64)."""
    tf = np.asarray(tfs, dtype=np.float64)
    dl = np.asarray(dls, dtype=np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / float(avgdl)))


class EncodedPostings:
    __slots__ = ("postings", "blockmeta")

    def __init__(self, postings: bytes, blockmeta: bytes):
        self.postings = postings
        self.blockmeta = blockmeta


def _gather_ranges(src: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate src[starts[i] : starts[i]+lens[i]] — vectorized."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=src.dtype)
    rep_starts = np.repeat(starts, lens)
    within = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens
    )
    return src[rep_starts + within]


def _pfor_stream(
    vals: np.ndarray,
    bstarts: np.ndarray,
    bends: np.ndarray,
    varint_buf: np.ndarray,
    vcum: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-block cheapest-codec transform of one value stream.

    For every block (value slice [bstarts_i, bends_i)) pick the cheaper
    of (a) its LEB128 varint chunk (already encoded: ``varint_buf`` with
    per-value byte offsets ``vcum``), (b) frame-of-reference bit packing
    at the block's max bit width, (c) PFor: packing at the 7/8-quantile
    width with varint-patched exceptions. Candidates (b)/(c) use one
    self-describing block layout: [u8 width][u8 n_exc][u16 n][low bits,
    bit-packed, byte-aligned][varint (position, high bits) pairs for the
    exceptions]. Entirely
    vectorized: histograms, width choice, bit packing (one global
    np.packbits) and exception varints each run once over the whole
    batch.

    Returns (stream uint8 array, per-block chunk lengths, codec flags).
    """
    n_blocks = len(bstarts)
    counts = (bends - bstarts).astype(np.int64)
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    bl = bit_lengths(v)
    block_of = np.repeat(np.arange(n_blocks, dtype=np.int64), counts)
    pos_in_block = np.arange(len(v), dtype=np.int64) - np.repeat(bstarts, counts)

    varint_len = (vcum[bends] - vcum[bstarts]).astype(np.int64)
    w_max = np.maximum.reduceat(bl, bstarts).astype(np.int64)
    size_full = PFOR_HEADER + (counts * w_max + 7) // 8

    # 7/8-quantile width via per-block bit-length histogram.
    BLCAP = 48
    blc = np.minimum(bl, BLCAP).astype(np.int64)
    H = np.bincount(
        block_of * (BLCAP + 1) + blc, minlength=n_blocks * (BLCAP + 1)
    ).reshape(n_blocks, BLCAP + 1)
    cum = np.cumsum(H, axis=1)
    thresh = (counts * 7 + 7) // 8
    w_sub = np.argmax(cum >= thresh[:, None], axis=1).astype(np.int64)
    # exception cost at w_sub, exact, per value
    wsub_v = w_sub[block_of]
    exc_mask = bl > wsub_v
    idx_len = np.where(pos_in_block < 128, 1, np.where(pos_in_block < 16384, 2, 3))
    high_len = (bl.astype(np.int64) - wsub_v + 6) // 7
    cost_v = np.where(exc_mask, idx_len + np.maximum(high_len, 1), 0)
    exc_bytes = np.add.reduceat(cost_v, bstarts).astype(np.int64)
    n_exc = np.add.reduceat(exc_mask.astype(np.int64), bstarts)
    size_sub = PFOR_HEADER + (counts * w_sub + 7) // 8 + exc_bytes
    size_sub = np.where(n_exc <= 255, size_sub, np.iinfo(np.int64).max)
    # w_max capped at 255 (u8 header); values wider than that stay varint
    size_full = np.where(w_max <= 255, size_full, np.iinfo(np.int64).max)

    pick_sub = size_sub < size_full
    pf_w = np.where(pick_sub, w_sub, w_max)
    pf_nexc = np.where(pick_sub, n_exc, 0)
    pf_size = np.minimum(size_sub, size_full)
    use_pfor = pf_size < varint_len
    flags = use_pfor.astype(np.uint8)
    chunk_len = np.where(use_pfor, pf_size, varint_len).astype(np.int64)

    # ---- build the pfor chunks (only for chosen blocks), in block order
    pf_idx = np.flatnonzero(use_pfor)
    pfor_buf = np.empty(0, dtype=np.uint8)
    pf_chunk_off = np.zeros(n_blocks + 1, dtype=np.int64)
    if len(pf_idx):
        sel_v = use_pfor[block_of]
        w_v = pf_w[block_of]
        exc_sel = sel_v & (bl > w_v)
        # exceptions: interleaved (pos, high) varints, global
        exc_bytes_arr = np.empty(0, dtype=np.uint8)
        exc_len_per_block = np.zeros(n_blocks, dtype=np.int64)
        if exc_sel.any():
            e_idx = np.flatnonzero(exc_sel)
            inter = np.empty(2 * len(e_idx), dtype=np.uint64)
            inter[0::2] = pos_in_block[e_idx].astype(np.uint64)
            inter[1::2] = v[e_idx] >> w_v[e_idx].astype(np.uint64)
            exc_b, exc_lens = varint_encode_with_lens(inter)
            exc_bytes_arr = np.frombuffer(exc_b, dtype=np.uint8)
            pair_len = exc_lens[0::2] + exc_lens[1::2]
            exc_len_per_block = np.bincount(
                block_of[e_idx], weights=pair_len, minlength=n_blocks
            ).astype(np.int64)
        # packed low bits: per selected block, byte-aligned
        packed_len = np.where(use_pfor, (counts * pf_w + 7) // 8, 0)
        packed_off = np.zeros(n_blocks + 1, dtype=np.int64)
        np.cumsum(packed_len, out=packed_off[1:])
        total_bits = int(packed_off[-1]) * 8
        target = np.zeros(total_bits, dtype=np.uint8)
        w_shift = np.minimum(w_v, 63).astype(np.uint64)
        mask64 = np.where(
            w_v >= 64,
            np.uint64(0xFFFFFFFFFFFFFFFF),
            (np.uint64(1) << w_shift) - np.uint64(1),
        )
        low = v & mask64
        base_bits = packed_off[block_of] * 8 + pos_in_block * w_v
        max_w = int(pf_w[pf_idx].max()) if len(pf_idx) else 0
        for j in range(max_w):
            m = sel_v & (w_v > j)
            if not m.any():
                continue
            bitset = ((low[m] >> np.uint64(j)) & np.uint64(1)).astype(bool)
            pos = base_bits[m][bitset] + j
            target[pos] = 1
        packed_all = np.packbits(target, bitorder="little")
        # headers
        hdr = np.zeros((n_blocks, PFOR_HEADER), dtype=np.uint8)
        hdr[:, 0] = pf_w.astype(np.uint8)
        hdr[:, 1] = pf_nexc.astype(np.uint8)
        hdr[:, 2] = (counts & 0xFF).astype(np.uint8)
        hdr[:, 3] = ((counts >> 8) & 0xFF).astype(np.uint8)
        # assemble chunks contiguously in block order
        exc_off = np.zeros(n_blocks + 1, dtype=np.int64)
        np.cumsum(exc_len_per_block, out=exc_off[1:])
        pf_chunk_len = np.where(use_pfor, chunk_len, 0)
        np.cumsum(pf_chunk_len, out=pf_chunk_off[1:])
        pfor_buf = np.empty(int(pf_chunk_off[-1]), dtype=np.uint8)
        # scatter headers
        hdr_dst = _range_indices(pf_chunk_off[pf_idx], np.full(len(pf_idx), PFOR_HEADER, dtype=np.int64))
        pfor_buf[hdr_dst] = hdr[pf_idx].ravel()
        # scatter packed
        pk_lens = packed_len[pf_idx]
        pk_dst = _range_indices(pf_chunk_off[pf_idx] + PFOR_HEADER, pk_lens)
        pfor_buf[pk_dst] = _gather_ranges(packed_all, packed_off[pf_idx], pk_lens)
        # scatter exceptions
        ex_lens = exc_len_per_block[pf_idx]
        ex_dst = _range_indices(
            pf_chunk_off[pf_idx] + PFOR_HEADER + pk_lens, ex_lens
        )
        pfor_buf[ex_dst] = _gather_ranges(exc_bytes_arr, exc_off[pf_idx], ex_lens)

    # ---- final stream: per block, varint slice or pfor chunk
    out_off = np.zeros(n_blocks + 1, dtype=np.int64)
    np.cumsum(chunk_len, out=out_off[1:])
    out = np.empty(int(out_off[-1]), dtype=np.uint8)
    vi = np.flatnonzero(~use_pfor)
    if len(vi):
        dst = _range_indices(out_off[vi], varint_len[vi])
        out[dst] = _gather_ranges(
            varint_buf, vcum[bstarts[vi]].astype(np.int64), varint_len[vi]
        )
    if len(pf_idx):
        dst = _range_indices(out_off[pf_idx], chunk_len[pf_idx])
        out[dst] = _gather_ranges(
            pfor_buf, pf_chunk_off[pf_idx], chunk_len[pf_idx]
        )
    return out, chunk_len, flags


def _range_indices(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Index array covering [starts[i], starts[i]+lens[i]) runs."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    return np.repeat(starts, lens) + (
        np.arange(total, dtype=np.int64)
        - np.repeat(np.cumsum(lens) - lens, lens)
    )


def encode_postings(
    docids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = BLOCK_SIZE,
    pfor: bool = False,
) -> EncodedPostings:
    """Encode one term's postings (docid-sorted) into the segment layout.

    ``dls`` is the document length per posting (same order as docids);
    only the per-block min survives into the metadata — the bound pair
    ``(max_tf, min_dl)`` makes blockmeta independent of corpus-global
    stats (see module docstring).
    """
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    dls = np.asarray(dls, dtype=np.int64)
    n = len(docids)
    if n == 0:
        raise ValueError("empty posting list")
    if n > 1 and not (np.diff(docids) > 0).all():
        raise ValueError("docids must be strictly increasing")
    if pfor:
        return encode_postings_batch(
            docids, tfs, dls, np.array([0]), np.array([n]),
            block_size=block_size, pfor=True,
        )[0]

    n_blocks = (n + block_size - 1) // block_size
    bounds = np.minimum(np.arange(1, n_blocks + 1) * block_size, n)
    starts = np.concatenate(([0], bounds[:-1]))

    gaps = delta_encode(docids)
    docid_chunks = []
    tf_chunks = []
    docid_offs = np.zeros(n_blocks + 1, dtype=np.uint32)
    tf_offs = np.zeros(n_blocks + 1, dtype=np.uint32)
    for i, (s, e) in enumerate(zip(starts, bounds)):
        dchunk = varint_encode(gaps[s:e])
        tchunk = varint_encode(tfs[s:e])
        docid_chunks.append(dchunk)
        tf_chunks.append(tchunk)
        docid_offs[i + 1] = docid_offs[i] + len(dchunk)
        tf_offs[i + 1] = tf_offs[i] + len(tchunk)

    last_docids = docids[bounds - 1].astype(np.int64)
    max_tfs = np.maximum.reduceat(tfs, starts).astype(np.uint32)
    min_dls = np.minimum.reduceat(dls, starts).astype(np.uint32)

    header = np.array([n_blocks, block_size], dtype=np.uint32).tobytes()
    blockmeta = (
        header
        + last_docids.tobytes()
        + max_tfs.tobytes()
        + min_dls.tobytes()
        + np.zeros(n_blocks, dtype=np.uint8).tobytes()  # docid codec: varint
        + np.zeros(n_blocks, dtype=np.uint8).tobytes()  # tf codec: varint
        + docid_offs.tobytes()
        + tf_offs.tobytes()
    )
    postings = b"".join(docid_chunks) + b"".join(tf_chunks)
    return EncodedPostings(postings, blockmeta)


def encode_postings_batch(
    doc_idx: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    block_size: int = BLOCK_SIZE,
    pfor: bool = False,
) -> list[EncodedPostings]:
    """Encode MANY terms' postings in one vectorized pass.

    ``doc_idx``/``tfs``/``dls`` are the concatenated per-term arrays
    (term-major, docids strictly increasing within each term);
    ``starts``/``ends`` give each term's slice. With ``pfor=False`` the
    output is byte-identical to calling :func:`encode_postings` per term
    (asserted in tests); with ``pfor=True`` :func:`encode_postings`
    delegates HERE. Its PFor width search tries two candidates per
    block, so its blocks are decode-compatible with, but not
    byte-identical to, an exhaustive-width single-block encoder's (the
    reference encoder in ``tests/test_codec.py``). The varint encode, delta encode,
    block splitting, and block-max reductions each run ONCE over the
    whole batch — the per-term Python work collapses to buffer slicing. This is what makes the index build's docs/sec scale:
    the encode stage's cost per posting is a few vectorized numpy passes,
    not per-term function calls.
    """
    doc_idx = np.ascontiguousarray(doc_idx, dtype=np.int64)
    tfs_a = np.ascontiguousarray(tfs, dtype=np.uint64)
    dls_a = np.ascontiguousarray(dls, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    n = len(doc_idx)
    n_terms = len(starts)
    if n_terms == 0:
        return []
    if pfor and block_size > 0xFFFF:
        # the PFor block header stores the value count in a u16
        # (see _pfor_stream's block layout); without this guard
        # a larger block_size silently truncates n and decodes garbage
        raise ValueError(
            f"pfor=True requires block_size <= 65535 (u16 header), "
            f"got {block_size}"
        )

    # Delta-encode all terms at once: gaps = diff, then reset each term's
    # first gap to docid + 1.
    gaps = np.empty(n, dtype=np.uint64)
    if n > 1:
        gaps[1:] = np.diff(doc_idx).astype(np.uint64)
    gaps[starts] = (doc_idx[starts] + 1).astype(np.uint64)

    docid_bytes, dlens = varint_encode_with_lens(gaps)
    tf_bytes, tlens = varint_encode_with_lens(tfs_a)
    dcum = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(dlens, out=dcum[1:])
    tcum = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tlens, out=tcum[1:])

    # Global block starts: every position that is a multiple of block_size
    # within its term. pos_in_term via repeat of term starts.
    counts = ends - starts
    term_of = np.repeat(np.arange(n_terms), counts)
    pos_in_term = np.arange(n) - starts[term_of]
    bstart_mask = (pos_in_term % block_size) == 0
    bstarts = np.flatnonzero(bstart_mask)
    b_term = term_of[bstarts]
    bends = np.minimum(bstarts + block_size, ends[b_term])
    last_docids = doc_idx[bends - 1].astype(np.int64)
    max_tfs = np.maximum.reduceat(tfs_a, bstarts).astype(np.uint32)
    min_dls = np.minimum.reduceat(dls_a, bstarts).astype(np.uint32)
    nblocks_per_term = np.bincount(b_term, minlength=n_terms).astype(np.int64)
    bterm_cum = np.zeros(n_terms + 1, dtype=np.int64)
    np.cumsum(nblocks_per_term, out=bterm_cum[1:])

    # Per-block chunk streams: varint slices by default; with pfor=True,
    # each block independently switches to packed/PFor when cheaper.
    if pfor:
        d_stream, d_len_b, d_flags = _pfor_stream(
            gaps, bstarts, bends,
            np.frombuffer(docid_bytes, dtype=np.uint8), dcum,
        )
        t_stream, t_len_b, t_flags = _pfor_stream(
            tfs_a, bstarts, bends,
            np.frombuffer(tf_bytes, dtype=np.uint8), tcum,
        )
    else:
        d_stream = np.frombuffer(docid_bytes, dtype=np.uint8)
        t_stream = np.frombuffer(tf_bytes, dtype=np.uint8)
        d_len_b = (dcum[bends] - dcum[bstarts]).astype(np.int64)
        t_len_b = (tcum[bends] - tcum[bstarts]).astype(np.int64)
        d_flags = np.zeros(len(bstarts), dtype=np.uint8)
        t_flags = np.zeros(len(bstarts), dtype=np.uint8)
    n_blocks_total = len(bstarts)
    d_boff = np.zeros(n_blocks_total + 1, dtype=np.int64)
    np.cumsum(d_len_b, out=d_boff[1:])
    t_boff = np.zeros(n_blocks_total + 1, dtype=np.int64)
    np.cumsum(t_len_b, out=t_boff[1:])

    # Single-block fast path: in a Zipf-tail corpus the vast majority of
    # terms have df <= block_size (one block), whose 42-byte blockmeta is
    # a fixed-width record — build them ALL in one structured-array write
    # and slice per term, leaving the generic loop only for long terms.
    single_dt = np.dtype(
        [
            ("nb", "<u4"), ("bs", "<u4"), ("last", "<i8"),
            ("mtf", "<u4"), ("mdl", "<u4"), ("dc", "u1"), ("tc", "u1"),
            ("d0", "<u4"), ("d1", "<u4"), ("t0", "<u4"), ("t1", "<u4"),
        ]
    )
    assert single_dt.itemsize == 42
    is_single = nblocks_per_term == 1
    single_meta_buf = b""
    single_pos = np.cumsum(is_single) - 1  # index into the packed records
    if is_single.any():
        si = np.flatnonzero(is_single)
        sb = bterm_cum[si]  # each single term's global block index
        rec = np.zeros(len(si), dtype=single_dt)
        rec["nb"] = 1
        rec["bs"] = block_size
        rec["last"] = doc_idx[ends[si] - 1]
        rec["mtf"] = max_tfs[sb]
        rec["mdl"] = min_dls[sb]
        rec["dc"] = d_flags[sb]
        rec["tc"] = t_flags[sb]
        rec["d1"] = d_len_b[sb]
        rec["t1"] = t_len_b[sb]
        single_meta_buf = rec.tobytes()

    out: list[EncodedPostings] = []
    for t in range(n_terms):
        bs, be = bterm_cum[t], bterm_cum[t + 1]
        if is_single[t]:
            p = int(single_pos[t]) * 42
            blockmeta = single_meta_buf[p : p + 42]
        else:
            nb = be - bs
            docid_offs = (d_boff[bs : be + 1] - d_boff[bs]).astype(np.uint32)
            tf_offs = (t_boff[bs : be + 1] - t_boff[bs]).astype(np.uint32)
            header = np.array([nb, block_size], dtype=np.uint32)
            blockmeta = (
                header.tobytes()
                + last_docids[bs:be].tobytes()
                + max_tfs[bs:be].tobytes()
                + min_dls[bs:be].tobytes()
                + d_flags[bs:be].tobytes()
                + t_flags[bs:be].tobytes()
                + docid_offs.tobytes()
                + tf_offs.tobytes()
            )
        postings = (
            d_stream[d_boff[bs] : d_boff[be]].tobytes()
            + t_stream[t_boff[bs] : t_boff[be]].tobytes()
        )
        out.append(EncodedPostings(postings, blockmeta))
    return out


class BlockMeta:
    __slots__ = (
        "n_blocks", "block_size", "last_docids", "max_tfs", "min_dls",
        "docid_codec", "tf_codec", "docid_offs", "tf_offs",
    )

    def __init__(self, blockmeta: bytes):
        mv = memoryview(blockmeta)
        hdr = np.frombuffer(mv[:8], dtype=np.uint32)
        self.n_blocks = int(hdr[0])
        self.block_size = int(hdr[1])
        o = 8
        nb = self.n_blocks
        self.last_docids = np.frombuffer(mv[o : o + 8 * nb], dtype=np.int64)
        o += 8 * nb
        self.max_tfs = np.frombuffer(mv[o : o + 4 * nb], dtype=np.uint32)
        o += 4 * nb
        self.min_dls = np.frombuffer(mv[o : o + 4 * nb], dtype=np.uint32)
        o += 4 * nb
        self.docid_codec = np.frombuffer(mv[o : o + nb], dtype=np.uint8)
        o += nb
        self.tf_codec = np.frombuffer(mv[o : o + nb], dtype=np.uint8)
        o += nb
        self.docid_offs = np.frombuffer(mv[o : o + 4 * (nb + 1)], dtype=np.uint32)
        o += 4 * (nb + 1)
        self.tf_offs = np.frombuffer(mv[o : o + 4 * (nb + 1)], dtype=np.uint32)

    def max_norms(self, avgdl: float, k1: float = 1.2, b: float = 0.75) -> np.ndarray:
        """Per-block BM25 norm upper bounds, given corpus avgdl.

        Valid bound: the norm is monotone increasing in tf and decreasing
        in dl, so norm(max_tf, min_dl) dominates every posting's norm in
        the block regardless of which posting attains which extreme.
        """
        return bm25_norm(
            self.max_tfs.astype(np.float64),
            self.min_dls.astype(np.float64),
            avgdl,
            k1=k1,
            b=b,
        )


def _block_counts(
    a: np.ndarray, starts: np.ndarray, ends: np.ndarray, is_pf: np.ndarray
) -> np.ndarray:
    """Values per block ``a[starts[i]:ends[i]]``: a PFor header carries
    n (u16); a varint block holds one value per terminator byte (high
    bit clear)."""
    counts = np.empty(len(starts), dtype=np.int64)
    pf = np.flatnonzero(is_pf)
    vi = np.flatnonzero(~is_pf)
    if len(pf):
        counts[pf] = a[starts[pf] + 2].astype(np.int64) | (
            a[starts[pf] + 3].astype(np.int64) << 8
        )
    if len(vi):
        terminators = np.zeros(len(a) + 1, dtype=np.int64)
        np.cumsum((a & 0x80) == 0, out=terminators[1:])
        counts[vi] = terminators[ends[vi]] - terminators[starts[vi]]
    return counts


def _decode_stream(
    a: np.ndarray, starts: np.ndarray, ends: np.ndarray, codec: np.ndarray
) -> np.ndarray:
    """Decode the blocks ``a[starts[i]:ends[i]]`` (int64 byte ranges
    into the uint8 buffer ``a``), in order, honoring the per-block
    uint8 codec flags; returns their values concatenated. The one block
    decoder: one term's stream (:func:`decode_postings`) and every term
    of a bucket at once (:func:`decode_postings_batch`) both come here.

    An all-varint table decodes with one LEB128 call (over the bytes in
    place when the blocks are contiguous, else over their gather).
    Mixed-codec tables decode in THREE batched passes, mirroring how
    ``_pfor_stream`` encodes: (1) all varint blocks' bytes gathered and
    LEB128-decoded in one call, (2) all PFor blocks' packed low bits
    unpacked via one global ``np.unpackbits`` + per-bit-plane gather,
    (3) all exception varints decoded in one call and patched with one
    scatter. No per-block Python loop — decode cost per posting is a
    few vectorized numpy passes regardless of how many blocks chose
    PFor (property-tested equal to the per-block reference decode in
    ``tests/test_codec.py``).
    """
    if not codec.any():
        if len(starts) == 0:
            return np.empty(0, dtype=np.uint64)
        if len(starts) == 1 or (starts[1:] == ends[:-1]).all():
            return varint_decode(a[starts[0] : ends[-1]])
        return varint_decode(a[_range_indices(starts, ends - starts)])
    nb = len(starts)
    is_pf = codec != 0
    counts = _block_counts(a, starts, ends, is_pf)
    pf = np.flatnonzero(is_pf)
    vi = np.flatnonzero(~is_pf)
    voff = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(counts, out=voff[1:])
    out = np.zeros(int(voff[-1]), dtype=np.uint64)

    # (1) varint blocks: one gathered decode, one scattered placement
    if len(vi):
        vvals = varint_decode(a[_range_indices(starts[vi], ends[vi] - starts[vi])])
        out[_range_indices(voff[vi], counts[vi])] = vvals

    # (2) PFor blocks: one global unpackbits over the gathered packed
    # regions, then one gather per bit plane (max_w passes)
    if len(pf):
        w = a[starts[pf]].astype(np.int64)
        nexc = a[starts[pf] + 1].astype(np.int64)
        n_b = counts[pf]
        packed_len = (n_b * w + 7) // 8
        packed_bytes = a[_range_indices(starts[pf] + PFOR_HEADER, packed_len)]
        bits = np.unpackbits(packed_bytes, bitorder="little")
        bit_off = np.zeros(len(pf) + 1, dtype=np.int64)
        np.cumsum(packed_len * 8, out=bit_off[1:])
        total_pf = int(n_b.sum())
        n_cum = np.concatenate(([0], np.cumsum(n_b)))[:-1]
        vblock = np.repeat(np.arange(len(pf)), n_b)
        pos_in_b = np.arange(total_pf, dtype=np.int64) - np.repeat(n_cum, n_b)
        w_v = w[vblock]
        base = bit_off[vblock] + pos_in_b * w_v
        pvals = np.zeros(total_pf, dtype=np.uint64)
        for j in range(int(w.max()) if len(w) else 0):
            m = w_v > j
            if not m.any():
                continue
            pvals[m] |= bits[base[m] + j].astype(np.uint64) << np.uint64(j)

        # (3) exceptions: one gathered varint decode, one scatter patch
        if nexc.any():
            exc_start = starts[pf] + PFOR_HEADER + packed_len
            exc = varint_decode(a[_range_indices(exc_start, ends[pf] - exc_start)])
            pair_block = np.repeat(np.arange(len(pf)), nexc)
            pos = exc[0::2].astype(np.int64)
            high = exc[1::2]
            gidx = n_cum[pair_block] + pos
            pvals[gidx] |= high << w[pair_block].astype(np.uint64)

        out[_range_indices(voff[pf], n_b)] = pvals
    return out


def decode_postings(
    postings: bytes, blockmeta: "bytes | BlockMeta"
) -> tuple[np.ndarray, np.ndarray]:
    """Full decode: (docids int64, tfs uint64)."""
    meta = blockmeta if isinstance(blockmeta, BlockMeta) else BlockMeta(blockmeta)
    a = np.frombuffer(postings, dtype=np.uint8)
    d = meta.docid_offs.astype(np.int64)
    t = meta.tf_offs.astype(np.int64) + d[-1]
    gaps = _decode_stream(a, d[:-1], d[1:], meta.docid_codec)
    tfs = _decode_stream(a, t[:-1], t[1:], meta.tf_codec)
    return delta_decode(gaps), tfs


def _flat_binary(values) -> tuple[np.ndarray, np.ndarray]:
    """(uint8 buffer, int64 offsets[n + 1]) of a pyarrow binary column,
    read in place."""
    import pyarrow.types as pat

    if hasattr(values, "combine_chunks"):  # ChunkedArray
        values = values.combine_chunks()
    _, offs, data = values.buffers()
    off_dt = np.int64 if pat.is_large_binary(values.type) else np.int32
    offs = np.frombuffer(offs, dtype=off_dt)[
        values.offset : values.offset + len(values) + 1
    ].astype(np.int64)
    if data is None:  # every entry empty
        return np.empty(0, dtype=np.uint8), offs
    return np.frombuffer(data, dtype=np.uint8), offs


def _read_at(buf: np.ndarray, pos: np.ndarray, dtype: str) -> np.ndarray:
    """One little-endian ``dtype`` value at each byte position of ``buf``."""
    dt = np.dtype(dtype)
    return buf[pos[:, None] + np.arange(dt.itemsize)].view(dt).ravel()


def decode_postings_batch(
    postings, blockmetas
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY terms' postings in one vectorized pass — the inverse
    of :func:`encode_postings_batch`.

    ``postings``/``blockmetas`` are pyarrow binary columns with one
    entry per term (a bucket's term rows), read in place.
    Every blockmeta is parsed at once into one block table for the docid
    streams and one for the tf streams — byte ranges into the
    concatenated postings buffer — and each table is decoded by ONE
    :func:`_decode_stream` call, followed by one per-term delta reset.
    Returns ``(docids int64, tfs uint64, offs int64[n_terms + 1])``:
    term i's postings are ``[offs[i], offs[i + 1])``, equal to
    ``decode_postings(postings[i], blockmetas[i])`` (property-tested).
    """
    a, p_off = _flat_binary(postings)
    m, m_off = _flat_binary(blockmetas)
    n_terms = len(p_off) - 1
    if n_terms == 0:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty.astype(np.uint64), np.zeros(1, dtype=np.int64)
    # blockmeta field positions (module docstring layout), per term ...
    m0 = m_off[:-1]
    nb = _read_at(m, m0, "<u4").astype(np.int64)
    d_offs0 = m0 + 8 + 18 * nb  # docid_byte_off[0]
    d_len = _read_at(m, d_offs0 + 4 * nb, "<u4").astype(np.int64)
    # ... and per block: j-th block of term b_term
    bcum = np.zeros(n_terms + 1, dtype=np.int64)
    np.cumsum(nb, out=bcum[1:])
    b_term = np.repeat(np.arange(n_terms), nb)
    j = np.arange(int(bcum[-1]), dtype=np.int64) - bcum[b_term]
    b_nb, b_off = nb[b_term], d_offs0[b_term] + 4 * j
    d_codec = m[m0[b_term] + 8 + 16 * b_nb + j]
    t_codec = m[m0[b_term] + 8 + 17 * b_nb + j]
    d_lo = p_off[b_term] + _read_at(m, b_off, "<u4")
    d_hi = p_off[b_term] + _read_at(m, b_off + 4, "<u4")
    t_off = b_off + 4 * (b_nb + 1)
    t_base = p_off[b_term] + d_len[b_term]
    t_lo = t_base + _read_at(m, t_off, "<u4")
    t_hi = t_base + _read_at(m, t_off + 4, "<u4")

    gaps = _decode_stream(a, d_lo, d_hi, d_codec).astype(np.int64)
    tfs = _decode_stream(a, t_lo, t_hi, t_codec)
    df = np.add.reduceat(_block_counts(a, d_lo, d_hi, d_codec != 0), bcum[:-1])
    offs = np.zeros(n_terms + 1, dtype=np.int64)
    np.cumsum(df, out=offs[1:])
    # delta reset: each term's gap chain restarts from the implicit -1
    docids = np.cumsum(gaps)
    before = np.zeros(n_terms, dtype=np.int64)
    before[1:] = docids[offs[1:-1] - 1]
    docids -= np.repeat(before + 1, df)
    return docids, tfs, offs


def decode_blocks(
    postings: bytes, meta: BlockMeta, block_idx: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode only the selected blocks (sorted unique indices).

    Returns (docids, tfs) for the postings in those blocks, equal to the
    matching slices of :func:`decode_postings` (property-tested). Each
    stream's selected byte ranges decode in ONE :func:`_decode_stream`
    call; then every block's delta chain is re-anchored at once by the
    previous block's last_docid from the metadata (-1 before block 0,
    whose first gap is docid + 1), so no other bytes are touched. Every
    block but a list's last holds ``block_size`` values, so the block
    lengths need no scan of the bytes.
    """
    blocks = np.asarray(block_idx, dtype=np.int64)
    if len(blocks) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64)
    a = np.frombuffer(postings, dtype=np.uint8)
    d = meta.docid_offs.astype(np.int64)
    t = meta.tf_offs.astype(np.int64) + d[-1]
    gaps = _decode_stream(a, d[blocks], d[blocks + 1], meta.docid_codec[blocks])
    tfs = _decode_stream(a, t[blocks], t[blocks + 1], meta.tf_codec[blocks])
    counts = np.full(len(blocks), meta.block_size, dtype=np.int64)
    counts[-1] = len(gaps) - meta.block_size * (len(blocks) - 1)
    ids = np.cumsum(gaps.astype(np.int64))
    first = np.cumsum(counts) - counts
    anchors = np.where(blocks > 0, meta.last_docids[blocks - 1], -1)
    # block i's ids are anchors[i] + cumsum of its own gaps
    ids += np.repeat(anchors - ids[first] + gaps[first].astype(np.int64), counts)
    return ids, tfs


PFOR_HEADER = 4  # u8 width, u8 n_exceptions, u16 n_values


def bit_lengths(v: np.ndarray) -> np.ndarray:
    """Per-value bit length (0 for 0), vectorized (6 masked passes)."""
    v = np.asarray(v, dtype=np.uint64)
    bl = np.zeros(len(v), dtype=np.uint8)
    tmp = v.copy()
    for s in (32, 16, 8, 4, 2, 1):
        m = tmp >= (np.uint64(1) << np.uint64(s))
        bl[m] += s
        tmp[m] >>= np.uint64(s)
    bl += (tmp > 0).astype(np.uint8)
    return bl

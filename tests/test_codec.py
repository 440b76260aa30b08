"""Codec property tests (FIXTURES.md §3.5): varint/delta roundtrip,
block-max invariants, standalone block decode.

``pfor_decode_block`` and ``pfor_encode_block`` here are the per-block
reference decoder and encoder: the codec encodes and decodes PFor
blocks only in vectorized batches (``codec._pfor_stream``,
``codec._decode_stream``), and these tests check it against this
one-block-at-a-time code."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.index.codec import (
    PFOR_HEADER,
    BlockMeta,
    bit_lengths,
    bm25_norm,
    decode_blocks,
    decode_postings,
    delta_decode,
    delta_encode,
    encode_postings,
    varint_decode,
    varint_encode,
)


def pfor_decode_block(data: "bytes | memoryview") -> np.ndarray:
    """Decode one PForDelta block (self-describing header carries n)."""
    a = np.frombuffer(data, dtype=np.uint8)
    w, n_exc = int(a[0]), int(a[1])
    n = int(a[2]) | (int(a[3]) << 8)
    packed_len = (n * w + 7) // 8
    if w == 0:
        vals = np.zeros(n, dtype=np.uint64)
    else:
        bits = np.unpackbits(
            a[PFOR_HEADER : PFOR_HEADER + packed_len], bitorder="little"
        )[: n * w]
        weights = np.uint64(1) << np.arange(w, dtype=np.uint64)
        vals = bits.reshape(n, w).astype(np.uint64) @ weights
    if n_exc:
        exc = varint_decode(a[PFOR_HEADER + packed_len :].tobytes())
        vals[exc[0::2].astype(np.int64)] |= exc[1::2] << np.uint64(w)
    return vals


def pfor_encode_block(vals: np.ndarray) -> bytes:
    """Encode one block as PForDelta: patched frame-of-reference.

    Layout: [u8 width][u8 n_exc][u16 n][bitpacked low bits, byte-aligned]
    [exceptions: varint (position, high_bits) pairs]. The width is
    chosen by exact cost minimization over all candidate widths (the
    per-block "cheapest" rule; exceptions patch values wider than the
    frame). Single-block reference encoder. The codec's batch path
    (``codec.encode_postings_batch``) trades the exhaustive width search for
    a two-candidate one ({7/8-quantile, max} — ``_pfor_stream``), so its
    blocks are DECODE-compatible but not byte-identical to this
    encoder's; ``test_pfor_cross_encoder_decode_compat`` asserts both decode to the same values and the batch block is never
    larger than the block's varint encoding.
    """
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    n = len(v)
    if n == 0 or n > 0xFFFF:
        raise ValueError("pfor block size out of range")
    bl = bit_lengths(v)
    max_bl = int(bl.max()) if n else 0
    best_w, best_cost = max_bl, None
    for w in range(0, max_bl + 1):
        exc_mask = bl > w
        n_exc = int(exc_mask.sum())
        if n_exc > 255:
            continue
        exc_cost = 0
        if n_exc:
            highs = v[exc_mask] >> np.uint64(w)
            exc_cost = n_exc + int(
                np.sum((bit_lengths(highs).astype(np.int64) + 6) // 7)
            )
        cost = PFOR_HEADER + (n * w + 7) // 8 + exc_cost
        if best_cost is None or cost < best_cost:
            best_cost, best_w = cost, w
    w = best_w
    exc_mask = bl > w
    n_exc = int(exc_mask.sum())
    header = np.zeros(PFOR_HEADER, dtype=np.uint8)
    header[0] = w
    header[1] = n_exc
    header[2:4] = np.frombuffer(
        np.uint16(n).tobytes(), dtype=np.uint8
    )
    low = v & ((np.uint64(1) << np.uint64(w)) - np.uint64(1)) if w else v * 0
    if w:
        bits = ((low[:, None] >> np.arange(w, dtype=np.uint64)) & 1).astype(
            np.uint8
        )
        packed = np.packbits(bits.ravel(), bitorder="little").tobytes()
        packed = packed[: (n * w + 7) // 8]
    else:
        packed = b""
    exc = b""
    if n_exc:
        idx = np.flatnonzero(exc_mask).astype(np.uint64)
        high = v[exc_mask] >> np.uint64(w)
        inter = np.empty(2 * n_exc, dtype=np.uint64)
        inter[0::2] = idx
        inter[1::2] = high
        exc = varint_encode(inter)
    return header.tobytes() + packed + exc


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=500
    )
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == values


@given(
    st.lists(
        st.integers(min_value=1, max_value=10**7), min_size=1, max_size=400
    )
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(gaps):
    docids = np.cumsum(np.array(gaps, dtype=np.int64)) - 1
    assert delta_decode(delta_encode(docids)).tolist() == docids.tolist()


@pytest.mark.parametrize("n", [1, 2, 127, 128, 129, 255, 256, 1000])
def test_encode_decode_roundtrip(n):
    rng = np.random.default_rng(42 + n)
    gaps = rng.integers(1, 1000, size=n)
    docids = np.cumsum(gaps) - 1
    tfs = rng.integers(1, 50, size=n).astype(np.uint64)
    dls = rng.integers(10, 500, size=n)
    enc = encode_postings(docids, tfs, dls)
    got_ids, got_tfs = decode_postings(enc.postings, enc.blockmeta)
    assert got_ids.tolist() == docids.tolist()
    assert got_tfs.tolist() == tfs.tolist()


@pytest.mark.parametrize("n", [1, 129, 1000])
def test_blockmax_invariant(n):
    rng = np.random.default_rng(7 + n)
    docids = np.cumsum(rng.integers(1, 9, size=n)) - 1
    tfs = rng.integers(1, 50, size=n).astype(np.uint64)
    dls = rng.integers(10, 500, size=n)
    norms = bm25_norm(tfs, dls, avgdl=100.0)
    enc = encode_postings(docids, tfs, dls)
    meta = BlockMeta(enc.blockmeta)
    ub = meta.max_norms(100.0)
    for bi in range(meta.n_blocks):
        s = bi * meta.block_size
        e = min(s + meta.block_size, n)
        # (max_tf, min_dl) bound pair must dominate every norm in the
        # block, for any avgdl (checked at a few avgdl values).
        assert meta.max_tfs[bi] == tfs[s:e].max()
        assert meta.min_dls[bi] == dls[s:e].min()
        assert ub[bi] >= norms[s:e].max() - 1e-12
        for avgdl in (25.0, 400.0):
            assert (
                meta.max_norms(avgdl)[bi]
                >= bm25_norm(tfs[s:e], dls[s:e], avgdl).max() - 1e-12
            )
        assert meta.last_docids[bi] == docids[e - 1]


@pytest.mark.parametrize("n,blocks", [(1000, [0]), (1000, [3, 5]), (1000, [7]), (300, [0, 1, 2])])
def test_standalone_block_decode(n, blocks):
    rng = np.random.default_rng(n)
    docids = np.cumsum(rng.integers(1, 100, size=n)) - 1
    tfs = rng.integers(1, 9, size=n).astype(np.uint64)
    enc = encode_postings(docids, tfs, rng.integers(10, 500, size=n))
    meta = BlockMeta(enc.blockmeta)
    got_ids, got_tfs = decode_blocks(enc.postings, meta, np.array(blocks))
    exp_ids, exp_tfs = [], []
    for bi in blocks:
        s, e = bi * 128, min((bi + 1) * 128, n)
        exp_ids.extend(docids[s:e].tolist())
        exp_tfs.extend(tfs[s:e].tolist())
    assert got_ids.tolist() == exp_ids
    assert got_tfs.tolist() == exp_tfs


def test_rejects_unsorted():
    with pytest.raises(ValueError):
        encode_postings(
            np.array([3, 1]), np.array([1, 1]), np.array([10, 10])
        )


def test_compression_beats_raw():
    rng = np.random.default_rng(99)
    n = 10_000
    docids = np.cumsum(rng.integers(1, 50, size=n)) - 1
    tfs = np.minimum(rng.geometric(0.5, size=n), 100).astype(np.uint64)
    enc = encode_postings(docids, tfs, rng.integers(10, 500, size=n))
    raw = 8 * n + 8 * n  # int64 docid + int64 tf
    assert len(enc.postings) < raw / 4


def test_batch_encode_matches_single():
    """encode_postings_batch must be byte-identical to per-term encodes,
    across list lengths spanning block boundaries (df 1..300)."""
    from search_engine_spark.index.codec import encode_postings_batch

    rng = np.random.default_rng(7)
    doc_parts, tf_parts, dl_parts, starts, ends = [], [], [], [], []
    off = 0
    for df in [1, 2, 127, 128, 129, 300, 5, 1, 256]:
        ids = np.cumsum(rng.integers(1, 40, size=df)) - 1
        tfs = np.minimum(rng.geometric(0.4, size=df), 50).astype(np.uint64)
        dls = rng.integers(10, 500, size=df)
        doc_parts.append(ids)
        tf_parts.append(tfs)
        dl_parts.append(dls)
        starts.append(off)
        ends.append(off + df)
        off += df
    batch = encode_postings_batch(
        np.concatenate(doc_parts),
        np.concatenate(tf_parts),
        np.concatenate(dl_parts),
        np.array(starts),
        np.array(ends),
    )
    assert len(batch) == len(doc_parts)
    for enc_b, ids, tfs, dls in zip(batch, doc_parts, tf_parts, dl_parts):
        enc_s = encode_postings(ids, tfs, dls)
        assert enc_b.postings == enc_s.postings
        assert enc_b.blockmeta == enc_s.blockmeta


def test_pfor_block_roundtrip():
    rng = np.random.default_rng(3)
    cases = [
        np.ones(128, dtype=np.uint64),                       # w=0 or 1
        rng.integers(1, 4, size=128).astype(np.uint64),      # tiny widths
        rng.integers(1, 1000, size=128).astype(np.uint64),   # medium
        np.concatenate([np.ones(120), rng.integers(1 << 30, 1 << 40, size=8)]).astype(np.uint64),  # outliers -> exceptions
        np.array([0], dtype=np.uint64),
        np.array([2**63 - 1], dtype=np.uint64),
        rng.integers(0, 2, size=77).astype(np.uint64),
    ]
    for v in cases:
        enc = pfor_encode_block(v)
        got = pfor_decode_block(enc)
        assert got.tolist() == v.tolist()


def test_pfor_postings_roundtrip_and_smaller():
    """pfor=True roundtrips exactly and shrinks the common tf-heavy
    shape (per-block cheapest: never larger than varint + metadata)."""
    from search_engine_spark.index.codec import BlockMeta

    rng = np.random.default_rng(11)
    n = 5000
    docids = np.cumsum(rng.integers(1, 60, size=n)) - 1
    tfs = np.minimum(rng.geometric(0.7, size=n), 50).astype(np.uint64)
    dls = rng.integers(10, 500, size=n)
    plain = encode_postings(docids, tfs, dls)
    pf = encode_postings(docids, tfs, dls, pfor=True)
    for enc in (plain, pf):
        ids, got_tfs = decode_postings(enc.postings, enc.blockmeta)
        assert ids.tolist() == docids.tolist()
        assert got_tfs.tolist() == tfs.tolist()
    assert len(pf.postings) < len(plain.postings)
    meta = BlockMeta(pf.blockmeta)
    assert meta.tf_codec.any()  # tf stream actually switched codec
    # block-level decode still works on the pfor layout
    ids_b, tfs_b = decode_blocks(pf.postings, meta, np.array([1, 3]))
    s, e = 128, 256
    assert ids_b[:128].tolist() == docids[s:e].tolist()
    assert tfs_b[:128].tolist() == tfs[s:e].tolist()


def test_pfor_batch_matches_single():
    from search_engine_spark.index.codec import encode_postings_batch

    rng = np.random.default_rng(23)
    doc_parts, tf_parts, dl_parts, starts, ends = [], [], [], [], []
    off = 0
    for df in [1, 2, 127, 128, 129, 300, 5, 1, 256, 1000]:
        ids = np.cumsum(rng.integers(1, 40, size=df)) - 1
        tfs = np.minimum(rng.geometric(0.6, size=df), 50).astype(np.uint64)
        dls = rng.integers(10, 500, size=df)
        doc_parts.append(ids); tf_parts.append(tfs); dl_parts.append(dls)
        starts.append(off); ends.append(off + df); off += df
    batch = encode_postings_batch(
        np.concatenate(doc_parts), np.concatenate(tf_parts),
        np.concatenate(dl_parts), np.array(starts), np.array(ends),
        pfor=True,
    )
    for enc_b, ids, tfs, dls in zip(batch, doc_parts, tf_parts, dl_parts):
        enc_s = encode_postings(ids, tfs, dls, pfor=True)
        assert enc_b.postings == enc_s.postings
        assert enc_b.blockmeta == enc_s.blockmeta
        gi, gt = decode_postings(enc_b.postings, enc_b.blockmeta)
        assert gi.tolist() == ids.tolist()
        assert gt.tolist() == tfs.tolist()


def test_pfor_large_block_size_rejected():
    """block_size > 65535 with pfor=True must fail fast (the PFor header
    stores n in a u16 — silently truncating it corrupts the index), while
    the varint layout has no such bound and still roundtrips."""
    rng = np.random.default_rng(7)
    n = 131_072 + 17
    docids = np.cumsum(rng.integers(1, 5, size=n)) - 1
    tfs = np.minimum(rng.geometric(0.5, size=n), 50).astype(np.uint64)
    dls = rng.integers(10, 500, size=n)
    with pytest.raises(ValueError, match="65535"):
        encode_postings(docids, tfs, dls, block_size=131_072, pfor=True)
    enc = encode_postings(docids, tfs, dls, block_size=131_072, pfor=False)
    ids, got = decode_postings(enc.postings, enc.blockmeta)
    assert ids.tolist() == docids.tolist()
    assert got.tolist() == tfs.tolist()


def _decode_stream_reference(postings, blockmeta):
    """Per-block reference decode (the pre-vectorization semantics):
    each block independently varint- or pfor-decoded, concatenated."""
    meta = BlockMeta(blockmeta)
    mv = memoryview(postings)
    out = []
    for stream_off, offs, codec in (
        (0, meta.docid_offs, meta.docid_codec),
        (int(meta.docid_offs[-1]), meta.tf_offs, meta.tf_codec),
    ):
        parts = []
        for bi in range(meta.n_blocks):
            chunk = mv[stream_off + int(offs[bi]) : stream_off + int(offs[bi + 1])]
            if codec[bi] == 0:
                parts.append(varint_decode(chunk))
            else:
                parts.append(pfor_decode_block(chunk))
        out.append(
            np.concatenate(parts) if parts else np.empty(0, dtype=np.uint64)
        )
    return out[0], out[1]


@given(st.integers(min_value=1, max_value=2000), st.integers(0, 2**31))
@settings(max_examples=40, deadline=None)
def test_mixed_codec_batch_decode_matches_per_block(n, seed):
    """The vectorized mixed-codec _decode_stream must equal the per-block
    reference decode on layouts that mix varint and PFor blocks (bimodal
    gaps force both flags to appear across blocks)."""
    rng = np.random.default_rng(seed)
    # alternate tight and wide gap regimes every ~64 postings: tight
    # blocks choose PFor, wide blocks stay varint
    regime = (np.arange(n) // 64) % 2
    gaps = np.where(regime == 0, rng.integers(1, 3, n), rng.integers(1, 1 << 20, n))
    docids = np.cumsum(gaps) - 1
    tfs = np.minimum(rng.geometric(0.5, size=n), 1 << 16).astype(np.uint64)
    dls = rng.integers(10, 500, size=n)
    enc = encode_postings(docids, tfs, dls, pfor=True)
    ids_v, tfs_v = decode_postings(enc.postings, enc.blockmeta)  # vectorized
    gaps_r, tfs_r = _decode_stream_reference(enc.postings, enc.blockmeta)
    assert ids_v.tolist() == delta_decode(gaps_r).tolist()
    assert tfs_v.tolist() == tfs_r.tolist()
    assert ids_v.tolist() == docids.tolist()
    assert tfs_v.tolist() == tfs.tolist()


@given(
    st.integers(min_value=1, max_value=1500),
    st.sampled_from([37, 128]),
    st.booleans(),
    st.integers(0, 2**31),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_decode_blocks_equals_full_decode_slices(n, block_size, pfor, seed, data):
    """The vectorized ``decode_blocks`` equals the matching slices of
    ``decode_postings`` for any sorted block selection: a drawn one, and
    the empty selection, block 0, the last block and every other block.
    Value regimes alternate per block, narrow (PFor is cheaper) and
    mostly small with a quarter of wide outliers (varint is cheaper), so
    ``pfor=True`` layouts mix the codecs block by block in both streams."""
    rng = np.random.default_rng(seed)
    narrow = (np.arange(n) // block_size) % 2 == 0
    wide = rng.random(n) < 0.25
    small = rng.integers(1, 100, n)
    gaps = np.where(narrow, rng.integers(1, 3, n), np.where(wide, 1 << 36, small))
    tfs = np.where(narrow, rng.geometric(0.5, n), np.where(wide, 60_000, small))
    enc = encode_postings(
        np.cumsum(gaps) - 1, tfs.astype(np.uint64), rng.integers(10, 500, size=n),
        block_size=block_size, pfor=pfor,
    )
    meta = BlockMeta(enc.blockmeta)
    if pfor and n > 4 * block_size:  # both regimes, several blocks each
        for codec in (meta.docid_codec, meta.tf_codec):
            assert 0 < codec.sum() < meta.n_blocks, codec
    else:
        assert pfor or not (meta.docid_codec.any() or meta.tf_codec.any())
    all_ids, all_tfs = decode_postings(enc.postings, enc.blockmeta)
    nb = meta.n_blocks
    drawn = data.draw(st.lists(st.booleans(), min_size=nb, max_size=nb))
    for sel in (np.flatnonzero(drawn), [], [0], [nb - 1], np.arange(0, nb, 2)):
        sel = np.asarray(sel, dtype=np.int64)
        ids, got_tfs = decode_blocks(enc.postings, meta, sel)
        rows = [np.arange(bi * block_size, min((bi + 1) * block_size, n)) for bi in sel]
        rows = np.concatenate(rows) if rows else np.empty(0, dtype=np.int64)
        assert ids.dtype == np.int64 and ids.tolist() == all_ids[rows].tolist()
        assert got_tfs.tolist() == all_tfs[rows].tolist()


def test_pfor_cross_encoder_decode_compat():
    """Batch-path PFor blocks (two-candidate width search) are decode-
    compatible with the exhaustive single-block encoder's blocks, and
    never larger than the block's varint chunk (else _pfor_stream would
    have kept varint). Bimodal data is the case where the two width
    searches genuinely diverge."""
    rng = np.random.default_rng(99)
    n = 128 * 300
    # bimodal: mostly 3-bit gaps with ~13% 8-bit outliers — just over the
    # batch path's 1/8 exception budget, so its 7/8-quantile width snaps
    # to 8 bits while the exhaustive search keeps the 3-bit frame and
    # patches the outliers (different layout, same values); both beat
    # the 1-byte-per-value varint chunk, so the blocks stay PFor
    vals = rng.integers(1, 8, size=n).astype(np.uint64)
    hot = rng.random(n) < 17.0 / 128.0
    vals[hot] = rng.integers(128, 256, size=int(hot.sum()))
    docids = np.cumsum(vals) - 1
    tfs = np.minimum(rng.geometric(0.6, size=n), 50).astype(np.uint64)
    dls = rng.integers(10, 500, size=n)
    enc = encode_postings(docids, tfs, dls, pfor=True)
    meta = BlockMeta(enc.blockmeta)
    assert meta.docid_codec.any() or meta.tf_codec.any()
    mv = memoryview(enc.postings)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = docids[0] + 1
    gaps[1:] = np.diff(docids).astype(np.uint64)
    n_diverged = 0
    for bi in range(meta.n_blocks):
        if meta.docid_codec[bi] == 0:
            continue
        s, e = bi * meta.block_size, min((bi + 1) * meta.block_size, n)
        chunk = bytes(mv[int(meta.docid_offs[bi]) : int(meta.docid_offs[bi + 1])])
        single = pfor_encode_block(gaps[s:e])
        # decode-compat both directions; byte layouts may differ
        assert pfor_decode_block(chunk).tolist() == gaps[s:e].tolist()
        assert pfor_decode_block(single).tolist() == gaps[s:e].tolist()
        if chunk != single:
            n_diverged += 1
        # batch chunk beat varint for this block, by construction
        assert len(chunk) <= len(varint_encode(gaps[s:e]))
    # the two encoders really do pick different layouts on bimodal data
    assert n_diverged > 0

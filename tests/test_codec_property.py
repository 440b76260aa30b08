"""Property-based codec tests (hypothesis): encode/decode roundtrips and
block-max invariants over adversarial docid-gap/tf distributions."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.index.codec import (
    BlockMeta,
    bm25_norm,
    decode_blocks,
    decode_postings,
    decode_postings_batch,
    encode_postings,
    encode_postings_batch,
    varint_decode,
    varint_encode,
)

gaps_lists = st.lists(
    st.integers(min_value=1, max_value=2**40), min_size=1, max_size=500
)
tf_lists = st.lists(st.integers(min_value=1, max_value=10_000), min_size=1, max_size=500)


@settings(max_examples=200, deadline=None)
@given(gaps_lists)
def test_varint_roundtrip(gaps):
    arr = np.array(gaps, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == gaps


@settings(max_examples=100, deadline=None)
@given(gaps_lists, st.integers(min_value=1, max_value=300))
def test_postings_roundtrip_any_blocksize(gaps, block_size):
    docids = np.cumsum(np.array(gaps, dtype=np.int64)) - 1
    n = len(docids)
    rng = np.random.default_rng(n)
    tfs = rng.integers(1, 100, size=n).astype(np.uint64)
    dls = rng.integers(10, 500, size=n)
    norms = bm25_norm(tfs, dls, avgdl=100.0)
    enc = encode_postings(docids, tfs, dls, block_size=block_size)
    got_ids, got_tfs = decode_postings(enc.postings, enc.blockmeta)
    assert got_ids.tolist() == docids.tolist()
    assert got_tfs.tolist() == tfs.tolist()
    # block-max invariant: every block's max_norm >= max norm in block
    meta = BlockMeta(enc.blockmeta)
    ub = meta.max_norms(100.0)
    for bi in range(meta.n_blocks):
        s, e = bi * block_size, min((bi + 1) * block_size, n)
        assert ub[bi] >= norms[s:e].max() - 1e-12
        assert meta.last_docids[bi] == docids[e - 1]
        # per-block decode equals the slice
        ids_b, tfs_b = decode_blocks(enc.postings, meta, np.array([bi]))
        assert ids_b.tolist() == docids[s:e].tolist()
        assert tfs_b.tolist() == tfs[s:e].tolist()


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=260),  # df
            st.integers(min_value=0, max_value=10_000),  # seed
        ),
        min_size=1,
        max_size=30,
    )
)
def test_batch_equals_single_property(term_specs):
    """Batch encode is byte-identical to per-term encode (varint), and
    batch decode equals per-term decode and the inputs, for both codecs;
    df 1-260 spans the 128/129/256 block edges."""
    doc_parts, tf_parts, dl_parts, starts, ends = [], [], [], [], []
    off = 0
    for df, seed in term_specs:
        rng = np.random.default_rng(seed)
        ids = np.cumsum(rng.integers(1, 50, size=df)) - 1
        tfs = rng.integers(1, 30, size=df).astype(np.uint64)
        dls = rng.integers(10, 400, size=df)
        doc_parts.append(ids)
        tf_parts.append(tfs)
        dl_parts.append(dls)
        starts.append(off)
        ends.append(off + df)
        off += df
    for pfor in (False, True):
        batch = encode_postings_batch(
            np.concatenate(doc_parts),
            np.concatenate(tf_parts),
            np.concatenate(dl_parts),
            np.array(starts),
            np.array(ends),
            pfor=pfor,
        )
        if not pfor:
            for enc_b, ids, tfs, dls in zip(batch, doc_parts, tf_parts, dl_parts):
                enc_s = encode_postings(ids, tfs, dls)
                assert enc_b.postings == enc_s.postings
                assert enc_b.blockmeta == enc_s.blockmeta
        got_ids, got_tfs, offs = decode_postings_batch(
            pa.array([e.postings for e in batch]), pa.array([e.blockmeta for e in batch])
        )
        assert offs.tolist() == [0] + ends
        for i, (enc, ids, tfs) in enumerate(zip(batch, doc_parts, tf_parts)):
            one_ids, one_tfs = decode_postings(enc.postings, enc.blockmeta)
            s, e = offs[i], offs[i + 1]
            assert got_ids[s:e].tolist() == one_ids.tolist() == ids.tolist()
            assert got_tfs[s:e].tolist() == one_tfs.tolist() == tfs.tolist()


def test_batch_decode_empty_and_single_posting():
    ids, tfs, offs = decode_postings_batch(pa.array([], pa.binary()), pa.array([], pa.binary()))
    assert len(ids) == len(tfs) == 0 and offs.tolist() == [0]
    for pfor in (False, True):
        enc = encode_postings(np.array([7]), np.array([3]), np.array([9]), pfor=pfor)
        # read in place, honoring a slice offset and chunking
        ids, tfs, offs = decode_postings_batch(
            pa.array([b"x", enc.postings]).slice(1),
            pa.chunked_array([pa.array([b"y", enc.blockmeta]).slice(1)]),
        )
        assert (ids.tolist(), tfs.tolist(), offs.tolist()) == ([7], [3], [0, 1])


@settings(max_examples=100, deadline=None)
@given(gaps_lists, st.integers(min_value=0, max_value=10_000))
def test_pfor_roundtrip_property(gaps, seed):
    """pfor=True postings decode to exactly the inputs for adversarial
    gap/tf distributions, and are never larger than necessary vs varint
    (per-block cheapest rule => postings bytes <= varint postings)."""
    from search_engine_spark.index.codec import encode_postings

    docids = np.cumsum(np.array(gaps, dtype=np.int64)) - 1
    n = len(docids)
    rng = np.random.default_rng(seed)
    tfs = np.minimum(rng.geometric(0.5, size=n), 10_000).astype(np.uint64)
    dls = rng.integers(1, 1000, size=n)
    plain = encode_postings(docids, tfs, dls)
    pf = encode_postings(docids, tfs, dls, pfor=True)
    got_ids, got_tfs = decode_postings(pf.postings, pf.blockmeta)
    assert got_ids.tolist() == docids.tolist()
    assert got_tfs.tolist() == tfs.tolist()
    assert len(pf.postings) <= len(plain.postings)

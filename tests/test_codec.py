"""Round-trip and property tests for the delta+varint posting codec."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_search.codec import (
    decode_block,
    decode_blocks,
    encode_blocks,
    varint_decode,
    varint_encode,
)


def test_varint_known_values():
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([1], dtype=np.uint64)) == b"\x01"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=500
    )
)
def test_varint_roundtrip(vals):
    a = np.array(vals, dtype=np.uint64)
    out = varint_decode(varint_encode(a))
    assert out.tolist() == vals


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**12),
            st.integers(min_value=1, max_value=5000),
        ),
        min_size=1,
        max_size=600,
        unique_by=lambda x: x[0],
    ),
    st.sampled_from([4, 128, 256]),
)
def test_block_roundtrip(postings, block_size):
    postings.sort()
    doc_ids = np.array([p[0] for p in postings], dtype=np.int64)
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    blocks = encode_blocks(doc_ids, tfs, block_size=block_size)

    got_docs, got_tfs = [], []
    for first, last, n, max_tf, deltas, tf_bytes in blocks:
        d, t = decode_block(first, deltas, tf_bytes)
        assert d.size == n == t.size
        assert d[0] == first and d[-1] == last
        assert t.max() == max_tf
        got_docs.extend(d.tolist())
        got_tfs.extend(t.tolist())
    assert got_docs == doc_ids.tolist()
    assert got_tfs == tfs.tolist()


def _block_structs(postings_lists, block_size):
    """encode_blocks output as stored block structs (the Arrow-to-pandas
    dict shape); every other block carries bytearray payloads, the shape
    a collected Row hands back."""
    out = []
    for postings in postings_lists:
        postings = sorted(postings)
        enc = encode_blocks(
            np.array([p[0] for p in postings], dtype=np.int64),
            np.array([p[1] for p in postings], dtype=np.int64),
            block_size=block_size,
        )
        for first, last, n, max_tf, deltas, tf_bytes in enc:
            wrap = bytearray if len(out) % 2 else bytes
            out.append(
                {"first_doc": first, "last_doc": last, "n": n,
                 "max_tf": max_tf, "deltas": wrap(deltas),
                 "tfs": wrap(tf_bytes)}
            )
    return out


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(
                # ids and tfs past 2**35: multi-byte varints in both streams
                st.one_of(
                    st.integers(min_value=0, max_value=300),
                    st.integers(min_value=2**35, max_value=2**52),
                ),
                st.one_of(
                    st.integers(min_value=1, max_value=200),
                    st.integers(min_value=2**35, max_value=2**40),
                ),
            ),
            min_size=1,
            max_size=300,
            unique_by=lambda x: x[0],
        ),
        min_size=0,
        max_size=6,
    ),
    st.sampled_from([1, 4, 128]),
)
def test_decode_blocks_equals_per_block(postings_lists, block_size):
    blocks = _block_structs(postings_lists, block_size)
    ids, tfs = decode_blocks(blocks)
    parts = [
        decode_block(b["first_doc"], bytes(b["deltas"]), bytes(b["tfs"]))
        for b in blocks
    ]
    exp_ids = (
        np.concatenate([p[0] for p in parts]) if parts
        else np.empty(0, np.int64)
    )
    exp_tfs = (
        np.concatenate([p[1] for p in parts]) if parts
        else np.empty(0, np.int64)
    )
    assert ids.dtype == tfs.dtype == np.int64
    assert ids.tolist() == exp_ids.tolist()
    assert tfs.tolist() == exp_tfs.tolist()


def test_decode_blocks_empty_and_single():
    ids, tfs = decode_blocks([])
    assert ids.size == tfs.size == 0
    assert ids.dtype == tfs.dtype == np.int64
    [blk] = _block_structs([[(7, 2), (2**36, 3), (2**36 + 5, 2**35)]], 128)
    ids, tfs = decode_blocks([blk])
    assert ids.tolist() == [7, 2**36, 2**36 + 5]
    assert tfs.tolist() == [2, 3, 2**35]


def test_encode_blocks_batch_equals_per_list():
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from spark_search.codec import encode_blocks, encode_blocks_batch

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.tuples(
                    st.integers(min_value=1, max_value=10**12),
                    st.integers(min_value=1, max_value=10**6),
                ),
                min_size=0,
                max_size=300,
            ),
            min_size=0,
            max_size=20,
        )
    )
    def check(groups):
        id_arrays, tf_arrays = [], []
        for g in groups:
            ids = np.array(sorted({i for i, _ in g}), dtype=np.int64)
            tfs = np.arange(1, ids.size + 1, dtype=np.int64)
            id_arrays.append(ids)
            tf_arrays.append(tfs)
        batch = encode_blocks_batch(id_arrays, tf_arrays, block_size=128)
        for ids, tfs, got in zip(id_arrays, tf_arrays, batch):
            want = encode_blocks(ids, tfs, block_size=128) if ids.size else []
            assert got == want

    check()

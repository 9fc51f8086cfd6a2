"""Varint/delta codec and posting-block format: round-trip properties,
skip-pointer selective decode, block-max invariants (SURVEY.md §5.2/5.5)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from searchengine_spark.functions.codec import (
    decode_postings,
    delta_decode,
    delta_encode,
    encode_postings,
    varint_byte_lengths,
    varint_decode,
    varint_encode,
)
from searchengine_spark.index.format import decode_run, encode_blocks


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


def test_varint_known_encodings():
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


def test_varint_byte_lengths():
    v = np.array([0, 1, 127, 128, 2**14 - 1, 2**14, 2**63], dtype=np.uint64)
    assert varint_byte_lengths(v).tolist() == [1, 1, 1, 2, 2, 3, 10]


@given(
    st.sets(st.integers(min_value=0, max_value=2**62), min_size=0, max_size=400)
)
@settings(max_examples=200, deadline=None)
def test_postings_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    assert np.array_equal(decode_postings(encode_postings(arr), len(arr)), arr)


def test_delta_rejects_unsorted():
    with pytest.raises(ValueError):
        delta_encode(np.array([3, 2, 5], dtype=np.uint64))
    with pytest.raises(ValueError):
        delta_encode(np.array([3, 3], dtype=np.uint64))  # duplicates


def test_delta_roundtrip():
    v = np.array([5, 6, 100, 2**40], dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(v)), v)


@pytest.mark.parametrize("n,block", [(1, 128), (127, 128), (128, 128), (129, 128), (1000, 64), (5000, 128)])
def test_block_roundtrip(n, block):
    rng = np.random.default_rng(n)
    ids = np.sort(rng.choice(10**8, size=n, replace=False)).astype(np.uint64)
    tfs = rng.integers(1, 100, n)
    dls = rng.integers(1, 1000, n)
    row = encode_blocks(ids, tfs, dls, block)
    d, t, l = decode_run(row)
    assert np.array_equal(d, ids)
    assert np.array_equal(t.astype(np.int64), tfs)
    assert np.array_equal(l.astype(np.int64), dls)


def test_block_selective_decode_matches_full():
    rng = np.random.default_rng(0)
    n, block = 1000, 64
    ids = np.sort(rng.choice(10**7, size=n, replace=False)).astype(np.uint64)
    tfs = rng.integers(1, 9, n)
    dls = rng.integers(5, 50, n)
    row = encode_blocks(ids, tfs, dls, block)
    for sel in [[0], [row["n_blocks"] - 1], [2, 5, 7], list(range(row["n_blocks"]))]:
        d, t, l = decode_run(row, np.array(sel))
        exp = np.concatenate([ids[i * block: (i + 1) * block] for i in sel])
        assert np.array_equal(d, exp)


def test_block_metadata_invariants():
    """block_first/last bracket members; max_tf/min_dl are true extrema;
    Σ df_run == posting count (SURVEY.md §5.5)."""
    rng = np.random.default_rng(3)
    n, block = 777, 32
    ids = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.uint64)
    tfs = rng.integers(1, 50, n)
    dls = rng.integers(1, 400, n)
    row = encode_blocks(ids, tfs, dls, block)
    assert row["df_run"] == n
    assert row["cf_run"] == int(tfs.sum())
    for i in range(row["n_blocks"]):
        s, e = i * block, min((i + 1) * block, n)
        assert row["block_first"][i] == ids[s]
        assert row["block_last"][i] == ids[e - 1]
        assert row["block_max_tf"][i] == tfs[s:e].max()
        assert row["block_min_dl"][i] == dls[s:e].min()


def test_compression_beats_raw():
    """Delta+varint on dense doc ids must be ~1 byte/posting, far below
    the 8-byte raw form — the reason the format exists."""
    ids = np.arange(0, 100_000, 2, dtype=np.uint64)
    row = encode_blocks(ids, np.ones(ids.size, dtype=np.int64), np.ones(ids.size, dtype=np.int64), 128)
    assert len(row["doc_bytes"]) < ids.size * 1.2


@given(
    st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=12),
    st.integers(min_value=1, max_value=17),
)
@settings(max_examples=60, deadline=None)
def test_encode_partition_batch_boundaries(group_sizes, batch_rows):
    """encode_partition must produce IDENTICAL rows (bytes included)
    regardless of where Arrow batch boundaries fall — groups spanning
    many batches are carried as a list of frames and encoded once."""
    from searchengine_spark.index.format import encode_partition, encode_sorted_frame

    rows = []
    doc = 0
    for g, size in enumerate(group_sizes):
        for _ in range(size):
            rows.append((f"t{g:03d}", g % 2, doc, 1 + doc % 7, 10 + doc % 5, g % 4))
            doc += 2
    pdf = pd.DataFrame(
        rows, columns=["term", "salt", "doc_id", "tf", "dl", "bucket"]
    )
    want = encode_sorted_frame(pdf, block_size=8)

    batches = [
        pdf.iloc[i: i + batch_rows].reset_index(drop=True)
        for i in range(0, len(pdf), batch_rows)
    ]
    got = pd.concat(list(encode_partition(iter(batches), 8)), ignore_index=True)
    assert len(got) == len(want)
    for col in want.columns:
        assert list(got[col]) == list(want[col]), col


@given(
    st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=12),
    st.integers(min_value=1, max_value=17),
)
@settings(max_examples=60, deadline=None)
def test_arrow_and_pandas_encoders_agree(group_sizes, batch_rows):
    """encode_partition_arrow (the builder's mapInArrow kernel) and
    encode_partition (the pandas twin) are independent implementations
    of the same contract — identical rows, bytes included, at every
    batch-boundary placement."""
    import pyarrow as pa

    from searchengine_spark.index.format import (
        encode_partition,
        encode_partition_arrow,
    )

    rows = []
    doc = 0
    for g, size in enumerate(group_sizes):
        for _ in range(size):
            rows.append((f"t{g:03d}", g % 2, doc, 1 + doc % 7, 10 + doc % 5, g % 4))
            doc += 2
    pdf = pd.DataFrame(
        rows, columns=["term", "salt", "doc_id", "tf", "dl", "bucket"]
    )
    frames = [
        pdf.iloc[i: i + batch_rows].reset_index(drop=True)
        for i in range(0, len(pdf), batch_rows)
    ]
    want = pd.concat(list(encode_partition(iter(frames), 8)), ignore_index=True)
    batches = [pa.RecordBatch.from_pandas(f, preserve_index=False) for f in frames]
    got = pa.Table.from_batches(
        list(encode_partition_arrow(iter(batches), 8))
    ).to_pandas()
    assert len(got) == len(want)
    for col in want.columns:
        g_vals, w_vals = got[col].tolist(), want[col].tolist()
        for gv, wv in zip(g_vals, w_vals):
            if hasattr(gv, "__len__") and not isinstance(gv, (str, bytes)):
                assert list(gv) == list(wv), col
            else:
                assert gv == wv, col

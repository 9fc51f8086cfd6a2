"""On-disk index format (SURVEY.md §7.0 storage layout).

Replaces the reference's four PostgreSQL tables (site/page/lemma/index,
``db/changelog/liquibase-outputChangeLog_init.xml``) with columnar
parquet:

- ``stage1_postings/bucket=<b>/`` — flat postings ``(term, doc_id, tf,
  dl, repo)`` plus the ``bucket=-1`` doclen sentinels: the stage-1 build
  checkpoint and the maintenance input (role of the ``index`` table
  rows, ``model/Index.java:12-23``).  No reader on the query path.
- ``postings/bucket=<b>/``        — encoded posting *runs*: one row per
  (term, salt) holding delta+varint doc-id blocks with skip/block-max
  metadata.  The only postings the query engine reads, for top-k and
  count alike.
- ``term_stats/``  — (term, df, cf)           (role of ``lemma`` table)
- ``term_repo_stats/`` — (term, repo, df)     (per-site df semantics,
  ``Repositories/LemmaRepository.java:25-30``)
- ``doc_stats/``   — (doc_id, repo, path, commit, lang, doclen,
  content_sha256)                             (role of ``page`` metadata)
- ``meta.json``    — corpus N, avgdl, IndexConfig, source path
- ``_checkpoints/``— per-stage manifests + per-partition metrics

Block layout inside a run: postings sorted by doc_id, cut into blocks of
``block_size``.  Each block's doc ids are delta-encoded *independently*
(first id verbatim) so a block can be decoded without touching its
predecessors — that is what makes skip pointers real: block-max WAND
jumps straight to byte offset ``doc_offsets[i]``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from searchengine_spark.functions.codec import (
    varint_byte_lengths,
    varint_decode,
    varint_encode,
)

POSTINGS_FLAT_SCHEMA = (
    "term string, doc_id long, tf int, dl int, bucket int"
)

POSTING_RUN_SCHEMA = (
    "term string, salt int, df_run long, cf_run long, n_blocks int, block_len int, "
    "block_first array<long>, block_last array<long>, "
    "block_max_tf array<int>, block_min_dl array<int>, "
    "doc_offsets array<int>, tf_offsets array<int>, dl_offsets array<int>, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, n_bytes long, bucket int"
)

DOC_STATS_SCHEMA = (
    "doc_id long, repo string, path string, commit string, lang string, "
    "doclen int, content_sha256 string"
)


def encode_blocks(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, block_size: int
) -> dict:
    """Encode one sorted posting run into blocks.  Pure NumPy.

    Returns the columns of one POSTING_RUN row (minus term/salt/bucket).
    """
    n = doc_ids.size
    starts = np.arange(0, n, block_size)
    ends = np.minimum(starts + block_size, n)

    block_first = doc_ids[starts].astype(np.int64)
    block_last = doc_ids[ends - 1].astype(np.int64)
    block_max_tf = np.maximum.reduceat(tfs, starts).astype(np.int32)
    block_min_dl = np.minimum.reduceat(dls, starts).astype(np.int32)

    # whole-run delta with a restart at every block start (first doc of a
    # block stored verbatim) — one vectorized pass, no per-block loop
    ids = doc_ids.astype(np.uint64)
    deltas = np.empty_like(ids)
    deltas[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=deltas[1:])
    deltas[starts] = ids[starts]

    def _enc(vals: np.ndarray) -> tuple[bytes, list[int]]:
        lens = varint_byte_lengths(vals)
        cum = np.concatenate(([0], np.cumsum(lens)))
        offs = cum[np.concatenate((starts, [n]))]
        return varint_encode(vals), [int(x) for x in offs]

    doc_bytes, doc_offs = _enc(deltas)
    tf_bytes, tf_offs = _enc(tfs.astype(np.uint64))
    dl_bytes, dl_offs = _enc(dls.astype(np.uint64))

    return {
        "df_run": int(n),
        "cf_run": int(tfs.sum()),
        "n_bytes": len(doc_bytes) + len(tf_bytes) + len(dl_bytes),
        "n_blocks": len(starts),
        "block_len": int(block_size),
        "block_first": block_first.tolist(),
        "block_last": block_last.tolist(),
        "block_max_tf": block_max_tf.tolist(),
        "block_min_dl": block_min_dl.tolist(),
        "doc_offsets": doc_offs,
        "tf_offsets": tf_offs,
        "dl_offsets": dl_offs,
        "doc_bytes": doc_bytes,
        "tf_bytes": tf_bytes,
        "dl_bytes": dl_bytes,
    }


def decode_run(row, block_ids: np.ndarray | None = None):
    """Decode (selected blocks of) one posting run row.

    ``row`` is any mapping with the POSTING_RUN fields.  ``block_ids``
    None -> all blocks.  Returns (doc_ids, tfs, dls) uint64/int arrays.
    This is the skip-pointer read path: only the chosen blocks' byte
    ranges are parsed.
    """
    doc_offs = np.asarray(row["doc_offsets"], dtype=np.int64)
    tf_offs = np.asarray(row["tf_offsets"], dtype=np.int64)
    dl_offs = np.asarray(row["dl_offsets"], dtype=np.int64)
    db, tb, lb = row["doc_bytes"], row["tf_bytes"], row["dl_bytes"]
    if block_ids is None:
        # full-run fast path: decode everything in one vectorized pass,
        # then undo the per-block delta restarts without a block loop
        deltas = varint_decode(db)
        tfs = varint_decode(tb)
        dls = varint_decode(lb)
        n = deltas.size
        cum = np.cumsum(deltas, dtype=np.uint64)
        nb = int(row["n_blocks"])
        bs = int(row["block_len"])
        if nb > 1:
            starts = np.arange(0, n, bs)
            # a restart at block b means cum carries the spurious prefix
            # cum[start_b - 1]; build that per-row base via a cumsummed
            # difference array (base must equal prev[b-1] inside block b)
            prev = cum[starts[1:] - 1]
            base = np.zeros(n, dtype=np.uint64)
            base[starts[1:]] = np.diff(prev, prepend=np.uint64(0))
            base = np.cumsum(base, dtype=np.uint64)
            docs = cum - base
        else:
            docs = cum
        return docs, tfs, dls
    docs_out, tfs_out, dls_out = [], [], []
    for i in block_ids:
        i = int(i)
        deltas = varint_decode(db[doc_offs[i]: doc_offs[i + 1]])
        docs_out.append(np.cumsum(deltas, dtype=np.uint64))
        tfs_out.append(varint_decode(tb[tf_offs[i]: tf_offs[i + 1]]))
        dls_out.append(varint_decode(lb[dl_offs[i]: dl_offs[i + 1]]))
    if not docs_out:
        z = np.empty(0, dtype=np.uint64)
        return z, z.copy(), z.copy()
    return (
        np.concatenate(docs_out),
        np.concatenate(tfs_out),
        np.concatenate(dls_out),
    )


def encode_sorted_frame(pdf: pd.DataFrame, block_size: int) -> pd.DataFrame:
    """Encode MANY (term, salt) runs from one sorted frame — vectorized.

    Input: rows sorted by (term, salt, doc_id), columns (term, salt,
    doc_id, tf, dl, bucket).  Output: one POSTING_RUN row per (term,
    salt) group.

    This is the scale-path encoder: a source-code corpus has a huge
    identifier/number vocabulary (millions of terms with tiny posting
    lists), so per-group ``applyInPandas`` pays ~ms of pandas overhead
    per run and dominates the build.  Here ALL groups of a partition are
    delta+varint encoded in a handful of NumPy passes (blocks tile the
    partition contiguously, so one global ``reduceat`` computes every
    block's metadata); the only per-group Python is byte slicing.
    """
    n = len(pdf)
    if n == 0:
        return _empty_runs_frame()
    terms = pdf["term"].to_numpy()
    salts = pdf["salt"].to_numpy()
    doc = pdf["doc_id"].to_numpy(dtype=np.uint64)
    tf = pdf["tf"].to_numpy(dtype=np.int64)
    dl = pdf["dl"].to_numpy(dtype=np.int64)
    bucket = pdf["bucket"].to_numpy()

    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = (terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1])
    gstarts = np.flatnonzero(change)
    gends = np.append(gstarts[1:], n)
    n_groups = gstarts.size
    glens = gends - gstarts

    # block starts tile the partition: group g owns blocks at
    # gstarts[g] + k*block_size, k < ceil(len_g / bs) — consecutive
    # blocks are contiguous ACROSS groups too, so reduceat is global
    nblocks = (glens + block_size - 1) // block_size
    total_blocks = int(nblocks.sum())
    grp_of_block = np.repeat(np.arange(n_groups), nblocks)
    block_cum = np.cumsum(nblocks) - nblocks  # first block index per group
    k_within = np.arange(total_blocks) - block_cum[grp_of_block]
    bstarts = gstarts[grp_of_block] + k_within * block_size
    bends = np.minimum(bstarts + block_size, gends[grp_of_block])

    deltas = np.empty_like(doc)
    deltas[0] = doc[0]
    np.subtract(doc[1:], doc[:-1], out=deltas[1:])
    deltas[bstarts] = doc[bstarts]  # restart at every block (and group)

    block_first = doc[bstarts]
    block_last = doc[bends - 1]
    block_max_tf = np.maximum.reduceat(tf, bstarts).astype(np.int32)
    block_min_dl = np.minimum.reduceat(dl, bstarts).astype(np.int32)

    tf_u = tf.astype(np.uint64)
    dl_u = dl.astype(np.uint64)
    streams = []
    for vals in (deltas, tf_u, dl_u):
        lens = varint_byte_lengths(vals)
        cum = np.concatenate(([0], np.cumsum(lens)))
        buf = varint_encode(vals)
        # per-block offsets relative to each group's byte start; each
        # group's offsets array carries the trailing end offset too
        base = np.repeat(cum[gstarts], nblocks)
        boffs = cum[bstarts] - base
        bend_offs = cum[bends] - base
        streams.append((buf, cum, boffs, bend_offs))

    cf_run = np.add.reduceat(tf, gstarts).astype(np.int64)
    blk_bounds = np.cumsum(nblocks)[:-1]

    def split_offsets(stream):
        _, _, boffs, bend_offs = stream
        parts = np.split(boffs, blk_bounds)
        ends = bend_offs[np.cumsum(nblocks) - 1]
        return [
            np.append(p, e).astype(np.int64).tolist()
            for p, e in zip(parts, ends)
        ]

    doc_offs_l = split_offsets(streams[0])
    tf_offs_l = split_offsets(streams[1])
    dl_offs_l = split_offsets(streams[2])
    bf_l = np.split(block_first.astype(np.int64), blk_bounds)
    bl_l = np.split(block_last.astype(np.int64), blk_bounds)
    mt_l = np.split(block_max_tf, blk_bounds)
    md_l = np.split(block_min_dl, blk_bounds)

    def slice_bytes(stream):
        buf, cum, _, _ = stream
        return [
            buf[int(cum[gs]): int(cum[ge])] for gs, ge in zip(gstarts, gends)
        ]

    # compressed bytes per run (all three streams) — materialized as a
    # plain column so lineage/metrics never have to re-read the blobs
    n_bytes_grp = sum(
        (s[1][gends] - s[1][gstarts]).astype(np.int64) for s in streams
    )

    return pd.DataFrame(
        {
            "term": terms[gstarts],
            "salt": salts[gstarts].astype("int32"),
            "df_run": glens.astype("int64"),
            "cf_run": cf_run,
            "n_blocks": nblocks.astype("int32"),
            "block_len": np.full(n_groups, block_size, dtype="int32"),
            "block_first": [a.tolist() for a in bf_l],
            "block_last": [a.tolist() for a in bl_l],
            "block_max_tf": [a.tolist() for a in mt_l],
            "block_min_dl": [a.tolist() for a in md_l],
            "doc_offsets": doc_offs_l,
            "tf_offsets": tf_offs_l,
            "dl_offsets": dl_offs_l,
            "doc_bytes": slice_bytes(streams[0]),
            "tf_bytes": slice_bytes(streams[1]),
            "dl_bytes": slice_bytes(streams[2]),
            "n_bytes": n_bytes_grp,
            "bucket": bucket[gstarts].astype("int32"),
        }
    )


def _empty_runs_frame() -> pd.DataFrame:
    cols = [f.strip().split(" ")[0] for f in POSTING_RUN_SCHEMA.split(",")]
    return pd.DataFrame({c: [] for c in cols})


def encode_partition(batches, block_size: int):
    """mapInPandas kernel: sorted-partition stream -> POSTING_RUN rows.

    Arrow hands the partition over as multiple batches; a (term, salt)
    group can span batch boundaries, so rows of the (possibly
    incomplete) last group of each batch are carried into the next
    batch.  The carry is a LIST of frames concatenated only when the
    group completes, so per-batch work is O(batch), not O(carry).

    Memory bound (honest): peak = O(batch + largest single (term, salt)
    run), because one run is one output row — its rows must coexist
    before encoding.  That is exactly what ``n_salts`` is for: size S
    so max-df/S postings (x ~24 bytes/row in pandas) fits an executor
    (SCALE.md §4).  Input rows must be sorted by (term, salt, doc_id)
    within the partition (the builder's sortWithinPartitions does it).
    """
    cur: list[pd.DataFrame] = []  # frames of ONE in-progress group
    cur_key: tuple | None = None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        terms = pdf["term"].to_numpy()
        salts = pdf["salt"].to_numpy()
        first_key = (terms[0], salts[0])
        last_key = (terms[-1], salts[-1])
        if cur and first_key != cur_key:
            yield encode_sorted_frame(pd.concat(cur, ignore_index=True), block_size)
            cur, cur_key = [], None
        boundary = (terms != last_key[0]) | (salts != last_key[1])
        cut = int(np.flatnonzero(boundary).max() + 1) if boundary.any() else 0
        head, tail = pdf.iloc[:cut], pdf.iloc[cut:]
        if len(head):
            if cur:  # head's first group completes the carried group
                head = pd.concat([*cur, head], ignore_index=True)
                cur = []
            yield encode_sorted_frame(head, block_size)
        if len(tail):
            cur.append(tail)
            cur_key = last_key
    if cur:
        yield encode_sorted_frame(pd.concat(cur, ignore_index=True), block_size)


def _posting_run_arrow_schema():
    """POSTING_RUN_SCHEMA as an Arrow schema (field order must match)."""
    import pyarrow as pa

    return pa.schema(
        [
            ("term", pa.string()),
            ("salt", pa.int32()),
            ("df_run", pa.int64()),
            ("cf_run", pa.int64()),
            ("n_blocks", pa.int32()),
            ("block_len", pa.int32()),
            ("block_first", pa.list_(pa.int64())),
            ("block_last", pa.list_(pa.int64())),
            ("block_max_tf", pa.list_(pa.int32())),
            ("block_min_dl", pa.list_(pa.int32())),
            ("doc_offsets", pa.list_(pa.int32())),
            ("tf_offsets", pa.list_(pa.int32())),
            ("dl_offsets", pa.list_(pa.int32())),
            ("doc_bytes", pa.binary()),
            ("tf_bytes", pa.binary()),
            ("dl_bytes", pa.binary()),
            ("n_bytes", pa.int64()),
            ("bucket", pa.int32()),
        ]
    )


def encode_sorted_table(tbl, block_size: int):
    """Arrow-native twin of :func:`encode_sorted_frame`: one sorted
    table -> one POSTING_RUN RecordBatch, with ZERO per-group Python.

    :func:`encode_sorted_frame` spends its time materializing output
    objects — per-group ``np.split``/``.tolist()`` lists and byte
    slices, then a pandas->Arrow conversion of those object columns; at
    code-corpus vocabularies (millions of runs per build) that object
    churn dominates the encode stage.  Here every output column is
    assembled as ONE Arrow array from the flat NumPy buffers the block
    math already produces:

    - list columns  — ``pa.ListArray.from_arrays(offsets, values)``
      over the flat block arrays (offsets = cumsum of blocks-per-run);
    - binary columns — runs tile each varint stream contiguously, so
      the whole stream IS the values buffer and the per-run byte starts
      are the offsets (``Array.from_buffers``, zero-copy);
    - ``term`` — an Arrow ``take`` at group starts (no Python strings).

    The two encoders are independent implementations of the same
    contract and are pinned equal by a parity test
    (tests/test_codec.py::test_arrow_and_pandas_encoders_agree).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    n = tbl.num_rows
    if n == 0:
        return None
    tbl = tbl.combine_chunks()
    terms = tbl.column("term").chunk(0)
    salts = tbl.column("salt").to_numpy()
    doc = tbl.column("doc_id").to_numpy().astype(np.uint64)
    tf = tbl.column("tf").to_numpy().astype(np.int64)
    dl = tbl.column("dl").to_numpy().astype(np.int64)
    bucket = tbl.column("bucket").to_numpy()

    change = np.empty(n, dtype=bool)
    change[0] = True
    if n > 1:
        tchg = pc.not_equal(terms.slice(1), terms.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )
        np.logical_or(tchg, salts[1:] != salts[:-1], out=change[1:])
    gstarts = np.flatnonzero(change)
    gends = np.append(gstarts[1:], n)
    n_groups = gstarts.size
    glens = gends - gstarts

    nblocks = (glens + block_size - 1) // block_size
    total_blocks = int(nblocks.sum())
    grp_of_block = np.repeat(np.arange(n_groups), nblocks)
    block_cum = np.cumsum(nblocks) - nblocks
    k_within = np.arange(total_blocks) - block_cum[grp_of_block]
    bstarts = gstarts[grp_of_block] + k_within * block_size
    bends = np.minimum(bstarts + block_size, gends[grp_of_block])

    deltas = np.empty_like(doc)
    deltas[0] = doc[0]
    np.subtract(doc[1:], doc[:-1], out=deltas[1:])
    deltas[bstarts] = doc[bstarts]

    tf_u = tf.astype(np.uint64)
    dl_u = dl.astype(np.uint64)

    cumb = np.cumsum(nblocks)
    # positions of per-block starts and per-group trailing ends inside
    # the flat offsets-list values array (block j shifts right by the
    # number of group ends already emitted before it)
    pos_blocks = np.arange(total_blocks, dtype=np.int64) + grp_of_block
    pos_ends = cumb + np.arange(n_groups)
    off_list_offsets = pa.array(
        np.concatenate(([0], np.cumsum(nblocks + 1))).astype(np.int32)
    )
    blk_list_offsets = pa.array(np.concatenate(([0], cumb)).astype(np.int32))

    def _list32(values: np.ndarray):
        return pa.ListArray.from_arrays(
            blk_list_offsets, pa.array(values.astype(np.int32))
        )

    def _list64(values: np.ndarray):
        return pa.ListArray.from_arrays(
            blk_list_offsets, pa.array(values.astype(np.int64))
        )

    n_bytes_grp = np.zeros(n_groups, dtype=np.int64)
    bin_cols, off_cols = [], []
    for vals in (deltas, tf_u, dl_u):
        lens = varint_byte_lengths(vals)
        cum = np.concatenate(([0], np.cumsum(lens)))
        if cum[-1] >= 2**31:
            raise ValueError(
                "varint stream exceeds 2 GiB in one partition; raise the "
                "shuffle partition count or n_salts"
            )
        buf = varint_encode(vals)
        base = np.repeat(cum[gstarts], nblocks)
        boffs = cum[bstarts] - base
        bend_offs = cum[bends] - base
        off_vals = np.empty(total_blocks + n_groups, dtype=np.int32)
        off_vals[pos_blocks] = boffs
        off_vals[pos_ends] = bend_offs[cumb - 1]
        off_cols.append(
            pa.ListArray.from_arrays(off_list_offsets, pa.array(off_vals))
        )
        # groups tile the stream contiguously -> the stream is the
        # values buffer, group byte starts are the offsets (zero-copy)
        grp_offs = np.ascontiguousarray(
            cum[np.append(gstarts, n)].astype(np.int32)
        )
        bin_cols.append(
            pa.Array.from_buffers(
                pa.binary(), n_groups, [None, pa.py_buffer(grp_offs), pa.py_buffer(buf)]
            )
        )
        n_bytes_grp += (cum[gends] - cum[gstarts]).astype(np.int64)

    gstarts_arr = pa.array(gstarts.astype(np.int64))
    return pa.RecordBatch.from_arrays(
        [
            terms.take(gstarts_arr),
            pa.array(salts[gstarts].astype(np.int32)),
            pa.array(glens.astype(np.int64)),
            pa.array(np.add.reduceat(tf, gstarts).astype(np.int64)),
            pa.array(nblocks.astype(np.int32)),
            pa.array(np.full(n_groups, block_size, dtype=np.int32)),
            _list64(doc[bstarts]),
            _list64(doc[bends - 1]),
            _list32(np.maximum.reduceat(tf, bstarts)),
            _list32(np.minimum.reduceat(dl, bstarts)),
            off_cols[0],
            off_cols[1],
            off_cols[2],
            bin_cols[0],
            bin_cols[1],
            bin_cols[2],
            pa.array(n_bytes_grp),
            pa.array(bucket[gstarts].astype(np.int32)),
        ],
        schema=_posting_run_arrow_schema(),
    )


def encode_partition_arrow(batches, block_size: int):
    """mapInArrow kernel: sorted-partition RecordBatch stream ->
    POSTING_RUN batches.  Same carry contract as
    :func:`encode_partition` (a (term, salt) group can span batch
    boundaries; the incomplete tail of each batch is carried as slices
    and concatenated only when the group completes), but the data never
    leaves Arrow/NumPy — no pandas frames, no Python objects per group.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    cur: list = []  # RecordBatch slices of ONE in-progress group
    cur_key: tuple | None = None
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        i_term = batch.schema.get_field_index("term")
        i_salt = batch.schema.get_field_index("salt")
        terms = batch.column(i_term)
        salts = batch.column(i_salt).to_numpy()
        first_key = (terms[0].as_py(), int(salts[0]))
        last_key = (terms[n - 1].as_py(), int(salts[n - 1]))
        if cur and first_key != cur_key:
            out = encode_sorted_table(pa.Table.from_batches(cur), block_size)
            if out is not None:
                yield out
            cur, cur_key = [], None
        neq = pc.not_equal(terms, pa.scalar(last_key[0])).to_numpy(
            zero_copy_only=False
        ) | (salts != last_key[1])
        cut = int(np.flatnonzero(neq).max() + 1) if neq.any() else 0
        head, tail = batch.slice(0, cut), batch.slice(cut)
        if head.num_rows:
            parts = [*cur, head] if cur else [head]
            cur = []
            out = encode_sorted_table(pa.Table.from_batches(parts), block_size)
            if out is not None:
                yield out
        if tail.num_rows:
            cur.append(tail)
            cur_key = last_key
    if cur:
        out = encode_sorted_table(pa.Table.from_batches(cur), block_size)
        if out is not None:
            yield out


def encode_run_pdf(pdf: pd.DataFrame, block_size: int) -> pd.DataFrame:
    """applyInPandas kernel: one (term, salt) group -> one encoded row.

    Sorts by doc_id (the shuffle delivers the group unsorted), encodes
    blocks, returns a single-row frame matching POSTING_RUN_SCHEMA.
    """
    pdf = pdf.sort_values("doc_id", kind="mergesort")
    doc_ids = pdf["doc_id"].to_numpy(dtype=np.uint64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    dls = pdf["dl"].to_numpy(dtype=np.int64)
    enc = encode_blocks(doc_ids, tfs, dls, block_size)
    enc["term"] = pdf["term"].iloc[0]
    enc["salt"] = int(pdf["salt"].iloc[0])
    enc["bucket"] = int(pdf["bucket"].iloc[0])
    return pd.DataFrame([enc])

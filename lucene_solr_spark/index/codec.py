"""Posting-list block codec: delta-gap + FOR bit-packing, 128-doc
blocks, skip data, block-max metadata. Pure numpy (runs inside Arrow
UDFs on executors).

Functionally reproduces the Lucene50 postings layout (SURVEY §1.4;
codecs/lucene50/Lucene50PostingsFormat.java):

- BLOCK_SIZE = 128 ints per block (Lucene50PostingsFormat.java:397).
- Doc ids are delta-gapped then bit-packed with per-block bit width =
  bits of the max value (ForUtil.writeBlock, ForUtil.java:157-176).
- All-equal blocks collapse to a width-0 marker + single value
  (ForUtil.java:158-162).
- Freq blocks are packed without the d-gap step (format doc line 216).
- The <128-doc tail is varint-encoded, interleaved
  (DocDelta << 1 | (freq==1), freq written only when != 1 —
  Lucene50PostingsFormat.java:218-233).
- df == 1 singleton terms store the docid in the term state and no
  blocks at all (lines 161-163, 461-463).
- Skip data: one entry per 128-doc block with the block's last docid
  and the byte offsets into the doc/freq streams
  (Lucene50SkipWriter.java:144-168). We keep the entries as plain
  arrays (columnar) instead of a multi-level file — Spark reads the
  whole skip array at once, and numpy searchsorted over it IS the
  multi-level skip (log-time advance).
- Block-max extension (not in this Lucene snapshot — added per
  BASELINE.json from Ding & Suel, SIGIR 2011): per-block
  (max_tf, max_norm_byte), which upper-bound the block's BM25 score
  (functions/bm25.py block_max_bound).

Encoded layout (self-describing, little-endian):
  docs_enc: per full block [1B width][payload], payload = 16*width
            bytes (width>0) or varint(delta) (width==0, all-equal);
            then the tail as varints (interleaved with tf as above).
  tfs_enc:  per full block [1B width][payload] for raw tf values;
            tail tfs live interleaved in docs_enc.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK_SIZE = 128


# --- varint ----------------------------------------------------------------

def vint_encode_arr(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized LEB128 encode: returns (byte array, per-value byte
    counts). No per-value Python: byte counts via searchsorted, bytes
    scattered by cumulative offsets. Callers slicing per-group byte
    ranges use the counts."""
    v = np.asarray(v, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return np.empty(0, np.uint8), np.empty(0, np.int64)
    thresholds = (np.uint64(1) << np.arange(7, 64, 7, dtype=np.uint64))
    nb = 1 + np.searchsorted(thresholds, v, side="right")
    total = int(nb.sum())
    out = np.zeros(total, dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(nb)[:-1]))
    max_nb = int(nb.max())
    for b in range(max_nb):
        mask = nb > b
        chunk = ((v[mask] >> np.uint64(7 * b)) & np.uint64(0x7F)).astype(np.uint8)
        more = (nb[mask] > b + 1)
        out[starts[mask] + b] = chunk | (more.astype(np.uint8) << 7)
    return out, nb.astype(np.int64)


def write_vints(values: np.ndarray) -> bytes:
    out, _ = vint_encode_arr(np.asarray(values))
    return out.tobytes()


def read_vints_arr(buf: bytes, offset: int = 0) -> np.ndarray:
    """Vectorized LEB128 decode of an ENTIRE vint stream (used for
    .pos payloads where the stream length is the buffer): group bytes
    by terminator bits, combine 7-bit chunks with reduceat."""
    arr = np.frombuffer(buf, dtype=np.uint8, offset=offset)
    if len(arr) == 0:
        return np.empty(0, np.int64)
    is_last = arr < 0x80
    # index of each value's first byte
    val_start = np.concatenate(([0], np.nonzero(is_last)[0][:-1] + 1))
    byte_in_val = np.arange(len(arr)) - np.repeat(
        val_start, np.diff(np.concatenate((val_start, [len(arr)]))))
    contrib = (arr & 0x7F).astype(np.uint64) << (7 * byte_in_val).astype(np.uint64)
    return np.add.reduceat(contrib, val_start).astype(np.int64)


def interleave_tail(deltas: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Vint-tail value stream: code = delta<<1 | (tf==1); tf follows
    only when != 1 (Lucene50PostingsFormat.java:218-233). Vectorized;
    works on concatenated multi-posting arrays too (the per-posting
    byte ranges are recovered from vint_encode_arr's counts)."""
    one = tfs == 1
    codes = (deltas << 1) | one
    slots = 1 + (~one).astype(np.int64)
    pos_c = np.concatenate(([0], np.cumsum(slots)[:-1]))
    vals = np.empty(int(slots.sum()), dtype=np.int64)
    vals[pos_c] = codes
    vals[pos_c[~one] + 1] = tfs[~one]
    return vals


def read_vints(buf: bytes, pos: int, count: int) -> tuple[np.ndarray, int]:
    out = np.empty(count, dtype=np.int64)
    for i in range(count):
        shift = 0
        v = 0
        while True:
            b = buf[pos]
            pos += 1
            v |= (b & 0x7F) << shift
            if b < 0x80:
                break
            shift += 7
        out[i] = v
    return out, pos


# --- FOR bit-packing --------------------------------------------------------

def _pack_block(vals: np.ndarray) -> bytes:
    """One 128-int block: [width byte][payload]."""
    vals = vals.astype(np.uint64)
    if np.all(vals == vals[0]):
        return bytes([0]) + write_vints(vals[:1])
    width = int(vals.max()).bit_length()
    bits = ((vals[:, None] >> np.arange(width, dtype=np.uint64)) & 1).astype(np.uint8)
    payload = np.packbits(bits.reshape(-1), bitorder="little").tobytes()
    return bytes([width]) + payload


def _unpack_block(buf: bytes, pos: int) -> tuple[np.ndarray, int]:
    width = buf[pos]
    pos += 1
    if width == 0:
        v, pos = read_vints(buf, pos, 1)
        return np.full(BLOCK_SIZE, v[0], dtype=np.int64), pos
    nbytes = (BLOCK_SIZE * width + 7) // 8
    bits = np.unpackbits(
        np.frombuffer(buf, dtype=np.uint8, count=nbytes, offset=pos),
        bitorder="little", count=BLOCK_SIZE * width)
    vals = (bits.reshape(BLOCK_SIZE, width).astype(np.uint64)
            << np.arange(width, dtype=np.uint64)).sum(axis=1)
    return vals.astype(np.int64), pos + nbytes


# --- impacts (per-block competitive (tf, norm) frontiers) --------------------

IMPACT_CAP = 8


def impact_frontier(tfs: np.ndarray, nbs: np.ndarray,
                    cap: int = IMPACT_CAP) -> tuple[list[int], list[int]]:
    """The pareto frontier of a block's (tf, norm_byte) pairs — the
    Lucene 8 "impacts" idea (this snapshot predates it; added per the
    block-max design note): BM25 is increasing in BOTH tf and norm
    byte, so the block's true max score under any query weight is
    attained on the skyline of non-dominated pairs. A frontier gives a
    TIGHTER per-block bound than the single (max_tf, max_norm) pair
    whenever high-tf docs are long and short docs are low-tf.

    Returned sorted by tf descending / norm ascending. Capped at
    ``cap`` pairs by merging consecutive frontier runs into their
    dominating (max tf, max norm) pair — coarsening is always SAFE
    (bounds can only grow).
    """
    tfs = np.asarray(tfs, dtype=np.int64)
    nbs = np.asarray(nbs, dtype=np.int64)
    order = np.lexsort((-nbs, -tfs))  # tf desc, then nb desc
    keep_tf: list[int] = []
    keep_nb: list[int] = []
    best_nb = -1
    for i in order:
        nb = int(nbs[i])
        if nb > best_nb:
            keep_tf.append(int(tfs[i]))
            keep_nb.append(nb)
            best_nb = nb
    if len(keep_tf) > cap:
        # merge runs: along the frontier tf decreases and nb increases,
        # so a run's dominating pair = (first tf, last nb)
        idx = np.linspace(0, len(keep_tf), cap + 1).astype(int)
        keep_tf = [keep_tf[idx[i]] for i in range(cap)]
        keep_nb = [keep_nb[idx[i + 1] - 1] for i in range(cap)]
    return keep_tf, keep_nb


# --- posting encode/decode ----------------------------------------------------

@dataclass
class EncodedPosting:
    """One term's encoded postings within a segment (or one GROUP of
    its blocks — see ``split_posting_to_rows``: hot terms shard into
    multiple standalone-decodable rows of <= GROUP_BLOCKS blocks each,
    the Lucene50SkipWriter level-0/level-1 layering as row granularity).
    """
    ndocs: int
    singleton_docid: int | None          # df==1 optimization
    docs_enc: bytes
    tfs_enc: bytes
    skip_last_doc: np.ndarray            # last docid of each full block
    skip_doc_offset: np.ndarray          # byte offset of each block in docs_enc
    skip_tf_offset: np.ndarray           # byte offset of each block in tfs_enc
    blockmax_tf: np.ndarray              # per block (incl. tail block)
    blockmax_norm: np.ndarray            # per block (incl. tail block)
    tail_offset: int = -1                # byte offset of the vint tail in docs_enc
    pos_enc: bytes = b""                 # .pos analogue (empty = not stored)
    offs_enc: bytes = b""                # .pay offsets analogue (empty = not stored)
    base_doc: int = 0                    # docid base for the first delta (group
                                         # rows: last docid of the previous group)
    impacts_tf: list | None = None       # per FULL block: pareto-frontier tfs
    impacts_norm: list | None = None     # per FULL block: frontier norm bytes

    # -- block geometry helpers (used by the WAND executor) --------------

    @property
    def n_full_blocks(self) -> int:
        return 0 if self.singleton_docid is not None else self.ndocs // BLOCK_SIZE

    @property
    def has_tail(self) -> bool:
        return self.singleton_docid is None and self.ndocs % BLOCK_SIZE != 0


def encode_posting(doc_ids: np.ndarray, tfs: np.ndarray,
                   norm_bytes: np.ndarray) -> EncodedPosting:
    """Encode one term's (sorted docids, tfs, per-doc norm bytes)."""
    n = len(doc_ids)
    assert n > 0
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    norm_bytes = np.asarray(norm_bytes, dtype=np.int64)
    if n > 1:
        assert np.all(np.diff(doc_ids) > 0), "docids must be strictly increasing"

    if n == 1:
        # singleton: docid in term state, no streams; block-max still
        # recorded so WAND can bound it uniformly.
        return EncodedPosting(
            ndocs=1, singleton_docid=int(doc_ids[0]), docs_enc=b"", tfs_enc=b"",
            skip_last_doc=np.empty(0, np.int64),
            skip_doc_offset=np.empty(0, np.int64),
            skip_tf_offset=np.empty(0, np.int64),
            blockmax_tf=np.array([int(tfs[0])], np.int64),
            blockmax_norm=np.array([int(norm_bytes[0])], np.int64),
        )

    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = doc_ids[0]
    deltas[1:] = np.diff(doc_ids)

    full = n // BLOCK_SIZE
    docs_out = bytearray()
    tfs_out = bytearray()
    skip_last, skip_doff, skip_toff = [], [], []
    bm_tf, bm_norm = [], []

    imp_tf, imp_nb = [], []
    for b in range(full):
        lo, hi = b * BLOCK_SIZE, (b + 1) * BLOCK_SIZE
        skip_doff.append(len(docs_out))
        skip_toff.append(len(tfs_out))
        docs_out += _pack_block(deltas[lo:hi])
        tfs_out += _pack_block(tfs[lo:hi])
        skip_last.append(int(doc_ids[hi - 1]))
        bm_tf.append(int(tfs[lo:hi].max()))
        bm_norm.append(int(norm_bytes[lo:hi].max()))
        ft, fn = impact_frontier(tfs[lo:hi], norm_bytes[lo:hi])
        imp_tf.append(ft)
        imp_nb.append(fn)

    # tail: interleaved varints (delta<<1 | freq==1; freq when != 1)
    tail_lo = full * BLOCK_SIZE
    tail_offset = len(docs_out) if tail_lo < n else -1
    if tail_lo < n:
        docs_out += write_vints(interleave_tail(deltas[tail_lo:], tfs[tail_lo:]))
        bm_tf.append(int(tfs[tail_lo:].max()))
        bm_norm.append(int(norm_bytes[tail_lo:].max()))

    return EncodedPosting(
        ndocs=n, singleton_docid=None,
        docs_enc=bytes(docs_out), tfs_enc=bytes(tfs_out),
        skip_last_doc=np.array(skip_last, np.int64),
        skip_doc_offset=np.array(skip_doff, np.int64),
        skip_tf_offset=np.array(skip_toff, np.int64),
        blockmax_tf=np.array(bm_tf, np.int64),
        blockmax_norm=np.array(bm_norm, np.int64),
        tail_offset=tail_offset,
        impacts_tf=imp_tf,
        impacts_norm=imp_nb,
    )


def decode_posting(ep) -> tuple[np.ndarray, np.ndarray]:
    """Decode to (doc_ids, tfs). Accepts EncodedPosting or GroupedPosting."""
    if hasattr(ep, "decode_all"):
        return ep.decode_all()
    if ep.singleton_docid is not None:
        return (np.array([ep.singleton_docid], np.int64),
                np.array([ep.blockmax_tf[0]], np.int64))
    n = ep.ndocs
    full = n // BLOCK_SIZE
    deltas = np.empty(n, dtype=np.int64)
    tfs = np.empty(n, dtype=np.int64)
    dpos = 0
    tpos = 0
    for b in range(full):
        blk, dpos = _unpack_block(ep.docs_enc, dpos)
        deltas[b * BLOCK_SIZE:(b + 1) * BLOCK_SIZE] = blk
        blk, tpos = _unpack_block(ep.tfs_enc, tpos)
        tfs[b * BLOCK_SIZE:(b + 1) * BLOCK_SIZE] = blk
    tail_lo = full * BLOCK_SIZE
    i = tail_lo
    while i < n:
        v, dpos = read_vints(ep.docs_enc, dpos, 1)
        code = int(v[0])
        deltas[i] = code >> 1
        if code & 1:
            tfs[i] = 1
        else:
            v, dpos = read_vints(ep.docs_enc, dpos, 1)
            tfs[i] = int(v[0])
        i += 1
    return ep.base_doc + np.cumsum(deltas), tfs


def decode_block(ep: EncodedPosting, block_idx: int) -> tuple[np.ndarray, np.ndarray]:
    """Random-access decode of one full block using the skip offsets —
    the advance(target) path: searchsorted(skip_last_doc, target)
    picks the block, this decodes only it."""
    assert ep.singleton_docid is None
    lo = block_idx * BLOCK_SIZE
    assert lo + BLOCK_SIZE <= ep.ndocs, "tail block is not skip-addressable"
    deltas, _ = _unpack_block(ep.docs_enc, int(ep.skip_doc_offset[block_idx]))
    tfs, _ = _unpack_block(ep.tfs_enc, int(ep.skip_tf_offset[block_idx]))
    # rebase deltas: block's first delta is relative to the previous
    # block's last docid (the row's base_doc for the first block)
    base = int(ep.skip_last_doc[block_idx - 1]) if block_idx > 0 else ep.base_doc
    docs = base + np.cumsum(deltas)
    return docs, tfs


def decode_tail(ep: EncodedPosting) -> tuple[np.ndarray, np.ndarray]:
    """Random-access decode of the <128-doc vint tail (skip data ends
    at the last full block; the tail is reached from ``tail_offset``,
    the analogue of Lucene's docTermStartFP + block stream length)."""
    assert ep.singleton_docid is None and ep.has_tail
    n_tail = ep.ndocs % BLOCK_SIZE
    deltas = np.empty(n_tail, dtype=np.int64)
    tfs = np.empty(n_tail, dtype=np.int64)
    pos = int(ep.tail_offset)
    for i in range(n_tail):
        v, pos = read_vints(ep.docs_enc, pos, 1)
        code = int(v[0])
        deltas[i] = code >> 1
        if code & 1:
            tfs[i] = 1
        else:
            v, pos = read_vints(ep.docs_enc, pos, 1)
            tfs[i] = int(v[0])
    base = int(ep.skip_last_doc[-1]) if len(ep.skip_last_doc) else ep.base_doc
    return base + np.cumsum(deltas), tfs


def encode_positions(positions_flat: np.ndarray, tfs: np.ndarray) -> bytes:
    """The .pos stream (Lucene50PostingsFormat lines 266-315,
    simplified to a single vint stream): per-doc position deltas
    (first position absolute, then gaps), concatenated across the
    posting's docs in docid order. ``positions_flat`` is the
    concatenation of each doc's sorted positions; ``tfs`` gives the
    per-doc counts (the split points — no extra length prefix needed,
    exactly like the reference, which derives the count from freq)."""
    p = np.asarray(positions_flat, dtype=np.int64)
    if len(p) == 0:
        return b""
    tfs = np.asarray(tfs, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    deltas = p.copy()
    deltas[1:] -= p[:-1]
    deltas[starts] = p[starts]
    return write_vints(deltas)


def encode_offsets(starts_flat: np.ndarray, ends_flat: np.ndarray,
                   tfs: np.ndarray) -> bytes:
    """The .pay-stream analogue (Lucene50PostingsFormat.java:266-315,
    offsets part, simplified to one vint stream): per occurrence
    [start_delta, length] with start deltas resetting per doc (first
    start absolute), concatenated across the posting's docs in docid
    order. Occurrence order within a doc is position order, pairing
    1:1 with the .pos stream."""
    st = np.asarray(starts_flat, dtype=np.int64)
    if len(st) == 0:
        return b""
    en = np.asarray(ends_flat, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    doc_starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    deltas = st.copy()
    deltas[1:] -= st[:-1]
    deltas[doc_starts] = st[doc_starts]
    vals = np.empty(2 * len(st), dtype=np.int64)
    vals[0::2] = deltas
    vals[1::2] = en - st
    return write_vints(vals)


def decode_offsets(offs_enc: bytes,
                   tfs: np.ndarray) -> list[tuple[np.ndarray, np.ndarray]]:
    """Inverse of encode_offsets -> per doc (starts, ends) arrays."""
    tfs = np.asarray(tfs, dtype=np.int64)
    vals = read_vints_arr(offs_enc)
    deltas = vals[0::2]
    lens = vals[1::2]
    out = []
    off = 0
    for t in tfs:
        t = int(t)
        starts = np.cumsum(deltas[off:off + t])
        out.append((starts, starts + lens[off:off + t]))
        off += t
    return out


def decode_positions(pos_enc: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Inverse of encode_positions -> one position array per doc."""
    tfs = np.asarray(tfs, dtype=np.int64)
    vals = read_vints_arr(pos_enc)
    out = []
    off = 0
    for t in tfs:
        t = int(t)
        out.append(np.cumsum(vals[off:off + t]))
        off += t
    return out


def decode_nth_block(ep, block_idx: int) -> tuple[np.ndarray, np.ndarray]:
    """Decode logical block ``block_idx`` where the tail (if any) is
    block index ``n_full_blocks`` — the indexing used by the blockmax
    arrays and the WAND executor. Accepts an EncodedPosting or a lazy
    GroupedPosting (which fetches the owning group's payload)."""
    if hasattr(ep, "decode_nth"):
        return ep.decode_nth(block_idx)
    if ep.singleton_docid is not None:
        assert block_idx == 0
        return (np.array([ep.singleton_docid], np.int64),
                np.array([int(ep.blockmax_tf[0])], np.int64))
    if block_idx < ep.n_full_blocks:
        return decode_block(ep, block_idx)
    return decode_tail(ep)


def block_last_docs(ep, last_docid: int) -> np.ndarray:
    """Last docid of every logical block (full blocks from skip data,
    tail/singleton from the posting's last doc). This is the block
    boundary table the interval-WAND executor merges across terms."""
    if ep.singleton_docid is not None:
        return np.array([ep.singleton_docid], np.int64)
    if ep.has_tail:
        return np.concatenate([ep.skip_last_doc, [last_docid]])
    return ep.skip_last_doc.copy()


# --- parquet row (de)serialization -------------------------------------------

POSTING_ROW_FIELDS = (
    "df", "ttf", "singleton_docid", "docs_enc", "tfs_enc",
    "skip_last_doc", "skip_doc_off", "skip_tf_off",
    "bm_tf", "bm_norm", "tail_offset", "pos_enc", "offs_enc",
    "imp_tf", "imp_norm",
    "grp_id", "grp_prev_doc", "grp_last_doc",
)

POSTING_ROW_SCHEMA = (
    "df int, ttf long, singleton_docid long, docs_enc binary, "
    "tfs_enc binary, skip_last_doc array<long>, skip_doc_off array<int>, "
    "skip_tf_off array<int>, bm_tf array<int>, bm_norm array<int>, "
    "tail_offset int, pos_enc binary, offs_enc binary, "
    "imp_tf array<array<int>>, imp_norm array<array<int>>, "
    "grp_id int, grp_prev_doc long, grp_last_doc long"
)

# posting rows are sharded into groups of at most GROUP_BLOCKS full
# blocks (GROUP_BLOCKS * BLOCK_SIZE = 8192 docs): bounds the parquet
# cell size of zipf-head terms AND lets the read path fetch only the
# groups whose blocks it actually decodes (the skip-level-1 layering of
# Lucene50SkipWriter.java:144-168 expressed as row granularity).
GROUP_BLOCKS = 64


def posting_to_row(ep: EncodedPosting, ttf: int) -> dict:
    """EncodedPosting -> plain-python dict matching POSTING_ROW_SCHEMA
    (single-group form; hot terms go through split_posting_to_rows)."""
    if ep.singleton_docid is not None:
        last = int(ep.singleton_docid)
    elif ep.has_tail or len(ep.skip_last_doc) == 0:
        last = -1  # unknown without decoding the tail; filled by split
    else:
        last = int(ep.skip_last_doc[-1])
    return {
        "df": int(ep.ndocs),
        "ttf": int(ttf),
        "singleton_docid": ep.singleton_docid,
        "docs_enc": ep.docs_enc,
        "tfs_enc": ep.tfs_enc,
        "skip_last_doc": ep.skip_last_doc.tolist(),
        "skip_doc_off": ep.skip_doc_offset.tolist(),
        "skip_tf_off": ep.skip_tf_offset.tolist(),
        "bm_tf": ep.blockmax_tf.tolist(),
        "bm_norm": ep.blockmax_norm.tolist(),
        "tail_offset": int(ep.tail_offset),
        "pos_enc": ep.pos_enc,
        "offs_enc": ep.offs_enc,
        "imp_tf": ep.impacts_tf if ep.impacts_tf is not None else [],
        "imp_norm": ep.impacts_norm if ep.impacts_norm is not None else [],
        "grp_id": 0,
        "grp_prev_doc": int(ep.base_doc),
        "grp_last_doc": last,
    }


def _get_opt(row, key):
    try:
        return row.__getitem__(key)
    except (KeyError, IndexError, ValueError):
        return None


def posting_from_row(row) -> EncodedPosting:
    """Inverse of posting_to_row; accepts a pandas row / dict / Row."""
    g = row.__getitem__
    sd = g("singleton_docid")
    prev = _get_opt(row, "grp_prev_doc")
    return EncodedPosting(
        ndocs=int(g("df")),
        singleton_docid=None if sd is None or (isinstance(sd, float) and np.isnan(sd)) else int(sd),
        docs_enc=bytes(g("docs_enc")) if g("docs_enc") is not None else b"",
        tfs_enc=bytes(g("tfs_enc")) if g("tfs_enc") is not None else b"",
        skip_last_doc=np.asarray(g("skip_last_doc"), dtype=np.int64),
        skip_doc_offset=np.asarray(g("skip_doc_off"), dtype=np.int64),
        skip_tf_offset=np.asarray(g("skip_tf_off"), dtype=np.int64),
        blockmax_tf=np.asarray(g("bm_tf"), dtype=np.int64),
        blockmax_norm=np.asarray(g("bm_norm"), dtype=np.int64),
        tail_offset=int(g("tail_offset")),
        pos_enc=bytes(g("pos_enc")) if _get_opt(row, "pos_enc") is not None else b"",
        offs_enc=bytes(g("offs_enc")) if _get_opt(row, "offs_enc") is not None else b"",
        impacts_tf=([list(x) for x in g("imp_tf")]
                    if _get_opt(row, "imp_tf") is not None else None),
        impacts_norm=([list(x) for x in g("imp_norm")]
                      if _get_opt(row, "imp_norm") is not None else None),
        base_doc=int(prev) if prev is not None and not (
            isinstance(prev, float) and np.isnan(prev)) else 0,
    )


def split_posting_to_rows(ep: EncodedPosting, tfs_raw: np.ndarray,
                          positions_flat: np.ndarray | None = None,
                          starts_flat: np.ndarray | None = None,
                          ends_flat: np.ndarray | None = None) -> list[dict]:
    """Shard one encoded posting into standalone-decodable group rows
    of <= GROUP_BLOCKS full blocks each (the tail rides with the final
    group). ``tfs_raw`` (per-doc tf, docid order) supplies exact
    per-group ttf; ``positions_flat`` (concatenated per-doc positions)
    and ``starts_flat``/``ends_flat`` (char offsets) re-encode each
    group's .pos/.pay slice independently so any group row decodes
    without its siblings.
    """
    tfs_raw = np.asarray(tfs_raw, dtype=np.int64)
    n = ep.ndocs
    nfull = ep.n_full_blocks
    if ep.singleton_docid is not None or nfull <= GROUP_BLOCKS:
        if positions_flat is not None and len(positions_flat):
            ep.pos_enc = encode_positions(positions_flat, tfs_raw)
        if starts_flat is not None and len(starts_flat):
            ep.offs_enc = encode_offsets(starts_flat, ends_flat, tfs_raw)
        row = posting_to_row(ep, ttf=int(tfs_raw.sum()))
        if row["grp_last_doc"] == -1 and n > 0:
            # cheap exact last doc: cumulative deltas already known to
            # the caller via tfs ordering? decode only the tail
            if ep.has_tail:
                row["grp_last_doc"] = int(decode_tail(ep)[0][-1])
        return [row]

    pos_starts = None
    if (positions_flat is not None and len(positions_flat)) or (
            starts_flat is not None and len(starts_flat)):
        pcum = np.concatenate(([0], np.cumsum(tfs_raw)))
        pos_starts = pcum  # occurrence index where doc i starts

    rows: list[dict] = []
    doc_end_of_enc = ep.tail_offset if ep.has_tail else len(ep.docs_enc)
    n_groups = (nfull + GROUP_BLOCKS - 1) // GROUP_BLOCKS
    if ep.has_tail and nfull % GROUP_BLOCKS == 0:
        n_groups += 1  # tail-only final group
    for g in range(n_groups):
        b0 = g * GROUP_BLOCKS
        b1 = min(b0 + GROUP_BLOCKS, nfull)
        is_last = g == n_groups - 1
        with_tail = is_last and ep.has_tail
        d_lo = int(ep.skip_doc_offset[b0]) if b0 < nfull else int(ep.tail_offset)
        d_hi = len(ep.docs_enc) if with_tail else (
            int(ep.skip_doc_offset[b1]) if b1 < nfull else doc_end_of_enc)
        t_lo = int(ep.skip_tf_offset[b0]) if b0 < nfull else len(ep.tfs_enc)
        t_hi = int(ep.skip_tf_offset[b1]) if b1 < nfull else len(ep.tfs_enc)
        lo_doc_i = b0 * BLOCK_SIZE                    # first doc index
        hi_doc_i = n if with_tail else b1 * BLOCK_SIZE
        bm_sl = slice(b0, (nfull + 1) if with_tail else b1)
        g_tfs = tfs_raw[lo_doc_i:hi_doc_i]
        prev_doc = int(ep.skip_last_doc[b0 - 1]) if b0 > 0 else int(ep.base_doc)
        if with_tail:
            tail_ep = EncodedPosting(
                ndocs=hi_doc_i - lo_doc_i, singleton_docid=None,
                docs_enc=ep.docs_enc[d_lo:d_hi], tfs_enc=b"",
                skip_last_doc=ep.skip_last_doc[b0:b1] .copy(),
                skip_doc_offset=ep.skip_doc_offset[b0:b1] - d_lo,
                skip_tf_offset=ep.skip_tf_offset[b0:b1] - t_lo,
                blockmax_tf=ep.blockmax_tf[bm_sl],
                blockmax_norm=ep.blockmax_norm[bm_sl],
                tail_offset=int(ep.tail_offset) - d_lo,
                base_doc=prev_doc)
            last_doc = int(decode_tail(tail_ep)[0][-1])
        else:
            last_doc = int(ep.skip_last_doc[b1 - 1])
        pos_enc = b""
        offs_enc = b""
        if pos_starts is not None:
            sl = slice(pos_starts[lo_doc_i], pos_starts[hi_doc_i])
            if positions_flat is not None and len(positions_flat):
                pos_enc = encode_positions(positions_flat[sl], g_tfs)
            if starts_flat is not None and len(starts_flat):
                offs_enc = encode_offsets(starts_flat[sl], ends_flat[sl], g_tfs)
        rows.append({
            "df": int(hi_doc_i - lo_doc_i),
            "ttf": int(g_tfs.sum()),
            "singleton_docid": None,
            "docs_enc": ep.docs_enc[d_lo:d_hi],
            "tfs_enc": ep.tfs_enc[t_lo:t_hi],
            "skip_last_doc": ep.skip_last_doc[b0:b1].tolist(),
            "skip_doc_off": (ep.skip_doc_offset[b0:b1] - d_lo).tolist(),
            "skip_tf_off": (ep.skip_tf_offset[b0:b1] - t_lo).tolist(),
            "bm_tf": ep.blockmax_tf[bm_sl].tolist(),
            "bm_norm": ep.blockmax_norm[bm_sl].tolist(),
            "tail_offset": (int(ep.tail_offset) - d_lo) if with_tail else -1,
            "pos_enc": pos_enc,
            "offs_enc": offs_enc,
            "imp_tf": (ep.impacts_tf[b0:b1]
                       if ep.impacts_tf is not None else []),
            "imp_norm": (ep.impacts_norm[b0:b1]
                         if ep.impacts_norm is not None else []),
            "grp_id": g,
            "grp_prev_doc": prev_doc,
            "grp_last_doc": last_doc,
        })
    return rows


class GroupedPosting:
    """Read-side view over one term's group rows within a segment.

    Exposes the EncodedPosting interface the WAND kernel consumes
    (singleton_docid / ndocs / n_full_blocks / has_tail /
    skip_last_doc / blockmax arrays / last_doc) from METADATA ONLY;
    the byte payload of a group is fetched through ``fetch(grp_id)``
    the first time one of its blocks is decoded — blocks the kernel
    prunes never cost payload IO (nor shuffle transfer).
    """

    def __init__(self, rows: list[dict], fetch, pos_fetch=None,
                 offs_fetch=None):
        rows = sorted(rows, key=lambda r: int(r["grp_id"]))
        self._rows = rows
        self._fetch = fetch
        self.pos_fetch = pos_fetch      # grp_id -> pos_enc bytes (lazy)
        self.offs_fetch = offs_fetch    # grp_id -> offs_enc bytes (lazy)
        self._eps: dict[int, EncodedPosting] = {}
        self._pos_cache: dict[tuple, tuple] = {}
        one = rows[0]
        sd = one["singleton_docid"]
        self.singleton_docid = (None if sd is None
                                or (isinstance(sd, float) and np.isnan(sd))
                                else int(sd))
        self.ndocs = int(sum(int(r["df"]) for r in rows))
        self.skip_last_doc = np.concatenate(
            [np.asarray(r["skip_last_doc"], dtype=np.int64) for r in rows]) \
            if rows else np.empty(0, np.int64)
        self.blockmax_tf = np.concatenate(
            [np.asarray(r["bm_tf"], dtype=np.int64) for r in rows])
        self.blockmax_norm = np.concatenate(
            [np.asarray(r["bm_norm"], dtype=np.int64) for r in rows])
        self.last_doc = int(rows[-1]["grp_last_doc"])
        imp = [r.get("imp_tf") for r in rows]
        if all(x is not None for x in imp):
            self.impacts_tf = [list(blk) for r in rows for blk in r["imp_tf"]]
            self.impacts_norm = [list(blk) for r in rows
                                 for blk in r["imp_norm"]]
        else:
            self.impacts_tf = None
            self.impacts_norm = None
        # full-block count of each group (tail block never counted)
        self._grp_nfull = [len(r["skip_last_doc"]) for r in rows]
        self._grp_first_block = np.concatenate(
            ([0], np.cumsum(self._grp_nfull)))

    @property
    def n_full_blocks(self) -> int:
        return 0 if self.singleton_docid is not None else self.ndocs // BLOCK_SIZE

    @property
    def has_tail(self) -> bool:
        return self.singleton_docid is None and self.ndocs % BLOCK_SIZE != 0

    def _group_ep(self, g: int) -> EncodedPosting:
        if g not in self._eps:
            r = dict(self._rows[g])
            docs_enc, tfs_enc = self._fetch(int(r["grp_id"]))
            r["docs_enc"], r["tfs_enc"] = docs_enc, tfs_enc
            r["pos_enc"] = b""
            r["offs_enc"] = b""
            self._eps[g] = posting_from_row(r)
        return self._eps[g]

    def decode_nth(self, block_idx: int) -> tuple[np.ndarray, np.ndarray]:
        if self.singleton_docid is not None:
            assert block_idx == 0
            return (np.array([self.singleton_docid], np.int64),
                    np.array([int(self.blockmax_tf[0])], np.int64))
        if block_idx >= self.n_full_blocks:          # the tail
            g = len(self._rows) - 1
            ep = self._group_ep(g)
            return decode_tail(ep)
        g = int(np.searchsorted(self._grp_first_block, block_idx,
                                side="right")) - 1
        ep = self._group_ep(g)
        return decode_block(ep, block_idx - int(self._grp_first_block[g]))

    def decode_all(self) -> tuple[np.ndarray, np.ndarray]:
        if self.singleton_docid is not None:
            return (np.array([self.singleton_docid], np.int64),
                    np.array([int(self.blockmax_tf[0])], np.int64))
        parts = [decode_posting(self._group_ep(g))
                 for g in range(len(self._rows))]
        return (np.concatenate([p[0] for p in parts]),
                np.concatenate([p[1] for p in parts]))

    def positions_for(self, docids: np.ndarray) -> list[np.ndarray]:
        """Positions of each requested docid (ascending, all present in
        this posting): positions_flat split per doc."""
        idx, pos = self.positions_flat(docids)
        return np.split(pos, np.searchsorted(
            idx, np.arange(1, len(docids))))[:len(docids)]

    def positions_flat(self, docids: np.ndarray) -> tuple[np.ndarray,
                                                          np.ndarray]:
        """Flattened positions of the requested docids (ascending, all
        present in this posting) as (idx_rep, positions) — idx_rep[i]
        indexes into ``docids``, ascending. The lazy .pos read of the
        two-phase iterator (search/TwoPhaseIterator.java +
        ExactPhraseScorer.java:123: positions are consulted only for
        docs surviving the docid conjunction): the .pos payload is
        fetched per GROUP through ``pos_fetch``, so groups containing
        no requested doc cost no IO; each group's stream decodes
        standalone (split_posting_to_rows re-encodes group slices with
        per-doc resets). The per-doc delta-cumsum is one segmented
        cumsum over the whole batch, no per-doc Python loop."""
        return self._flat(docids, self.pos_fetch, 1, "positions")

    def offsets_flat(self, docids: np.ndarray) -> tuple[np.ndarray,
                                                        np.ndarray]:
        """positions_flat over the .pay stream (``offs_fetch``): START
        offsets, every second vint of its [start delta, length] pairs."""
        return self._flat(docids, self.offs_fetch, 2, "offsets")

    def _flat(self, docids, fetch, stride: int,
              what: str) -> tuple[np.ndarray, np.ndarray]:
        if fetch is None:
            raise ValueError(f"GroupedPosting has no {what} fetcher attached")
        docids = np.asarray(docids, dtype=np.int64)
        n = len(docids)
        if self.singleton_docid is not None:
            blob = fetch(int(self._rows[0]["grp_id"]))
            if not blob:
                raise ValueError(f"index was built without {what}")
            pos = np.cumsum(read_vints_arr(blob)[::stride][
                : int(self.blockmax_tf[0])])
            return (np.repeat(np.arange(n, dtype=np.int64), len(pos)),
                    np.tile(pos, n))
        glast = getattr(self, "_glast", None)
        if glast is None:
            glast = np.fromiter(
                (int(r["grp_last_doc"]) for r in self._rows),
                dtype=np.int64, count=len(self._rows))
            self._glast = glast
        gi = np.searchsorted(glast, docids, side="left")
        parts_idx: list[np.ndarray] = []
        parts_pos: list[np.ndarray] = []
        for g in np.unique(gi):
            g = int(g)
            cached = self._pos_cache.get((what, g))
            if cached is None:
                gdocs, gtfs = decode_posting(self._group_ep(g))
                blob = fetch(int(self._rows[g]["grp_id"]))
                if not blob:
                    raise ValueError(f"index was built without {what}")
                vals = read_vints_arr(blob)[::stride]
                starts = np.concatenate(([0], np.cumsum(gtfs)))
                cached = (gdocs, gtfs, vals, starts)
                self._pos_cache[(what, g)] = cached
            gdocs, gtfs, vals, starts = cached
            sel = np.nonzero(gi == g)[0]
            idxs = np.searchsorted(gdocs, docids[sel])
            lens = np.asarray(gtfs, dtype=np.int64)[idxs]
            tot = int(lens.sum())
            if tot == 0:
                continue
            doc_start = np.cumsum(lens) - lens
            ramp = np.arange(tot, dtype=np.int64) - np.repeat(doc_start,
                                                              lens)
            src = np.repeat(np.asarray(starts, dtype=np.int64)[idxs],
                            lens) + ramp
            deltas = np.asarray(vals, dtype=np.int64)[src]
            c = np.cumsum(deltas)
            shift = np.where(doc_start > 0, c[doc_start - 1], 0)
            parts_idx.append(np.repeat(sel, lens))
            parts_pos.append(c - np.repeat(shift, lens))
        if not parts_idx:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        # groups ascend with docid ranges, so concatenated idx stays
        # ascending (sel ranges are contiguous per group)
        return np.concatenate(parts_idx), np.concatenate(parts_pos)

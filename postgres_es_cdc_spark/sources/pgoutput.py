"""pgoutput logical-replication message codec — the reference producer's
decode layer (producer.go:110-195), Spark-shaped.

Message formats are the PUBLIC Postgres protocol
(doc: "Logical Replication Message Formats", protocol version 1, text
tuple encoding — exactly what the reference consumes via pglogrepl):

  'R' Relation  oid:int32 ns:cstr name:cstr replident:byte ncols:int16
                [flags:byte name:cstr typoid:int32 typmod:int32]*
  'B' Begin     final_lsn:int64 commit_ts:int64 xid:int32
  'C' Commit    flags:byte commit_lsn:int64 end_lsn:int64 ts:int64
  'I' Insert    oid:int32 'N' TupleData
  'U' Update    oid:int32 ['K'|'O' TupleData] 'N' TupleData
  'D' Delete    oid:int32 'K'|'O' TupleData
  'T' Truncate  nrels:int32 options:byte [oid:int32]*
  TupleData     ncols:int16 then per column:
                'n' (SQL null) | 'u' (unchanged TOAST) |
                't' len:int32 utf8-bytes

Distributed decode is one small collect plus one decode pass, because
a partition of the WAL need not contain the Relation message its data
messages reference, nor the Begin that names their transaction (the
reference can cache relations and see Begin/Commit inline only because
it reads one sequential stream, producer.go:68,121-122,163-164):

  control plane — filter to the 'R'/'B'/'C' messages (first byte) and
           collect them with their offsets. They are O(tables +
           transactions) per batch, so the driver walks them in WAL
           order: each relation version's offset range, the sorted
           (Begin offset -> xid) list and the xid still open at the end.
  data plane — one Arrow-batched mapInArrow parses every message into
           the engine's envelope (operationType/tableName/payload map +
           txn_id). Each row picks its relation version and its txn_id
           by numpy.searchsorted of its offset over the driver's lists.

The payload is a ``map<string,string>`` of column name -> text value,
the plain column->value map the reference builds (producer.go:124-159);
JSON is a transport encoding (utils.go:74) and this path has no
transport. Semantics parity with the reference's column decode
(producer.go:183-195): 'n' -> a null item ("set null"), 'u' (unchanged
TOAST) -> key ABSENT from the map ("unchanged") — landing exactly on
the presence-map distinction apply_changes folds with; 't' values stay
text, cast later by the declared table schema (producer.go:176-181's
text decode; unknown types stay raw strings like its OID fallback).

Transaction ids: protocol v1 carries the xid only on Begin, so a data
row's txn is the last Begin before it in WAL order. The control plane
turns that sequential rule into a lookup in the sorted Begin list, so
the decode runs in as many partitions as the batch has.
``assign_txn_ids`` keeps the rule as a running last-Begin window: the
sequential reference the stamped output is checked against.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Sentinel for "unchanged TOAST" values. A NUL-prefixed string, not an
# object(): sentinel identity does not survive cloudpickle into UDF
# workers (the closure gets a by-value copy and `is` checks fail there),
# while string equality does — and a NUL byte cannot appear in Postgres
# text values, so no real value can collide.
UNCHANGED = "\x00__pg_unchanged__"

# ---------------------------------------------------------------------------
# Encoders (test/generator side — byte-exact protocol v1 writers)
# ---------------------------------------------------------------------------


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def encode_relation(oid: int, name: str, cols: list[str],
                    namespace: str = "public") -> bytes:
    out = [b"R", struct.pack(">I", oid), _cstr(namespace), _cstr(name),
           b"d", struct.pack(">H", len(cols))]
    for c in cols:
        # flags=0, type oid 25 (text — the wire is text-encoded anyway),
        # typmod -1
        out.append(b"\x00" + _cstr(c) + struct.pack(">Ii", 25, -1))
    return b"".join(out)


def encode_begin(xid: int, lsn: int = 0, ts: int = 0) -> bytes:
    return b"B" + struct.pack(">QQI", lsn, ts, xid)


def encode_commit(lsn: int = 0, ts: int = 0) -> bytes:
    return b"C" + struct.pack(">BQQQ", 0, lsn, lsn, ts)


def _tuple_data(values: list) -> bytes:
    out = [struct.pack(">H", len(values))]
    for v in values:
        if v is None:
            out.append(b"n")
        elif v == UNCHANGED:
            out.append(b"u")
        else:
            b = str(v).encode()
            out.append(b"t" + struct.pack(">I", len(b)) + b)
    return b"".join(out)


def encode_insert(oid: int, values: list) -> bytes:
    return b"I" + struct.pack(">I", oid) + b"N" + _tuple_data(values)


def encode_update(oid: int, new_values: list,
                  key_values: list | None = None) -> bytes:
    old = (b"K" + _tuple_data(key_values)) if key_values is not None else b""
    return b"U" + struct.pack(">I", oid) + old + b"N" + _tuple_data(new_values)


def encode_delete(oid: int, key_values: list) -> bytes:
    return b"D" + struct.pack(">I", oid) + b"K" + _tuple_data(key_values)


def encode_truncate(oids: list[int]) -> bytes:
    return (b"T" + struct.pack(">IB", len(oids), 0)
            + b"".join(struct.pack(">I", o) for o in oids))


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def decode_relation(data: bytes) -> tuple[int, str, list[str]]:
    """'R' message -> (oid, table name, column names)."""
    (oid,) = struct.unpack_from(">I", data, 1)
    pos = 5
    end = data.index(b"\x00", pos)          # namespace (unused in envelope)
    pos = end + 1
    end = data.index(b"\x00", pos)
    name = data[pos:end].decode()
    pos = end + 1 + 1                        # replica identity byte
    (ncols,) = struct.unpack_from(">H", data, pos)
    pos += 2
    cols: list[str] = []
    for _ in range(ncols):
        pos += 1                             # flags
        end = data.index(b"\x00", pos)
        cols.append(data[pos:end].decode())
        pos = end + 1 + 8                    # type oid + typmod
    return oid, name, cols


def relation_cache(messages: DataFrame, data_col: str = "data") -> dict:
    """Decode every Relation message driver-side, for a batch with one
    version per relation (``decode_with_relation_resends`` handles
    re-sends).

    The filter runs distributed (first-byte predicate on the binary
    column); only the vocabulary-sized 'R' subset is collected."""
    rels = (messages
            .filter(F.expr(f"substring({data_col}, 1, 1) = X'52'"))  # 'R'
            .select(data_col).collect())
    cache: dict[int, tuple[str, list[str]]] = {}
    for row in rels:
        oid, name, cols = decode_relation(bytes(row[0]))
        cache[oid] = (name, cols)
    return cache


# --- Vectorized decode internals (guide §4.2: offset-array re-slicing
# over the Arrow binary buffer instead of per-row Python byte walks).
# An Arrow binary column is ONE contiguous data buffer plus an offsets
# array; every fixed-width wire field (tags, oids, u16/u32 lengths) is
# a vectorized gather, the variable-length TupleData walk is a wave per
# column index (data-dependent positions advanced as int64 arrays), and
# the payload maps' values are every text field's byte slice, joined by
# ONE fancy-gather — no per-row Python objects, and no escaping, so
# every row decodes in the one vectorized pass.


def _be32(buf, pos):
    import numpy as np
    return ((buf[pos].astype(np.int64) << 24)
            | (buf[pos + 1].astype(np.int64) << 16)
            | (buf[pos + 2].astype(np.int64) << 8)
            | buf[pos + 3])


def _be16(buf, pos):
    import numpy as np
    return (buf[pos].astype(np.int64) << 8) | buf[pos + 1]


def _bin_view(arr):
    """(uint8 buffer, starts, ends) view of an Arrow binary array —
    slice-aware (offsets are read at the array's offset)."""
    import numpy as np
    import pyarrow as pa
    width = 8 if pa.types.is_large_binary(arr.type) else 4
    dt = np.int64 if width == 8 else np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=dt, count=len(arr) + 1,
                         offset=arr.offset * width).astype(np.int64)
    buf = np.frombuffer(bufs[2], dtype=np.uint8)
    return buf, offs[:-1], offs[1:]


def _walk_tuple(buf, pos, record: bool):
    """Wave-parse TupleData for every row in ``pos`` (positions of the
    u16 ncols). Returns (ncols, kind2d, vstart2d, vlen2d, endpos);
    the 2-D field arrays only when ``record``."""
    import numpy as np
    n = pos.size
    ncols = _be16(buf, pos)
    p = pos + 2
    maxc = int(ncols.max()) if n else 0
    kind2d = np.zeros((n, maxc), np.uint8) if record else None
    vs2d = np.zeros((n, maxc), np.int64) if record else None
    vl2d = np.zeros((n, maxc), np.int64) if record else None
    for ci in range(maxc):
        act = np.flatnonzero(ncols > ci)
        k = buf[p[act]]
        if record:
            kind2d[act, ci] = k
        pnew = p[act] + 1
        tb = (k == 116) | (k == 98)            # 't' text / 'b' binary
        ti = act[tb]
        if ti.size:
            q = pnew[tb]
            ln = _be32(buf, q)
            if record:
                vs2d[ti, ci] = q + 4
                vl2d[ti, ci] = ln
            pnew[tb] = q + 4 + ln
        p[act] = pnew
    return ncols, kind2d, vs2d, vl2d, p


def _gather_concat(src, srcs, lens):
    """Concatenate many (start, len) slices of ``src`` into one buffer:
    the gather-index trick — every output byte's source index computed
    vectorized, one fancy-gather, no Python loop. int32 throughout
    (Arrow binary buffers are < 2 GiB by construction) to halve the
    memory traffic of the repeat/arange."""
    import numpy as np
    flat_lens = lens.ravel().astype(np.int32, copy=False)
    flat_srcs = srcs.ravel().astype(np.int32, copy=False)
    nz = flat_lens > 0                # ~40% of slots are empty; np.repeat
    flat_lens = flat_lens[nz]         # pays per PIECE, so drop them first
    flat_srcs = flat_srcs[nz]
    total = int(flat_lens.sum())
    ends = np.cumsum(flat_lens, dtype=np.int32)
    begins = ends - flat_lens
    idx = (np.repeat(flat_srcs - begins, flat_lens)
           + np.arange(total, dtype=np.int32))
    return src[idx], begins, ends


def _payload_map(buf, cols, kind2d, vs2d, vl2d):
    """A relation's rows -> their payload maps: one entry per field that
    is neither padding nor 'u' (unchanged TOAST), keyed by the column's
    name; a 't' value is its byte slice of ``buf``, an 'n' or 'b' field
    a null item. Fields beyond the declared columns are walked (position
    advance) but dropped."""
    import numpy as np
    import pyarrow as pa
    usec = min(kind2d.shape[1], len(cols))
    kind = kind2d[:, :usec]
    present = (kind != 0) & (kind != 117)
    r, c = np.nonzero(present)                 # entries, row-major
    text = kind[r, c] == 116
    lens = np.where(text, vl2d[r, c], 0)
    data, _, _ = _gather_concat(buf, vs2d[r, c], lens)
    voffs = np.zeros(r.size + 1, np.int32)
    np.cumsum(lens, out=voffs[1:])
    items = pa.Array.from_buffers(pa.utf8(), r.size, [
        pa.py_buffer(np.packbits(text, bitorder="little")),
        pa.py_buffer(voffs), pa.py_buffer(data)])
    items.validate(full=True)        # text values must be UTF-8
    moffs = np.zeros(len(kind) + 1, np.int32)
    np.cumsum(present.sum(axis=1), out=moffs[1:])
    return pa.MapArray.from_arrays(
        moffs, pa.array(cols[:usec], pa.utf8()).take(c), items)


def _decode_batch_arrow(rb, relcache: dict, control=None):
    """One Arrow record batch of (offset, data) wire messages ->
    envelope RecordBatch, fully vectorized (module comment above).
    With a ``WalControl`` each row decodes against the relation version
    current at its offset and gets its transaction's xid; without one,
    every row decodes against ``relcache`` and only Begin rows carry an
    xid."""
    import numpy as np
    import pyarrow as pa
    n = rb.num_rows
    offs_col, data_arr = rb.column(0), rb.column(1)
    if data_arr.null_count:
        raise TypeError("null wire message")
    offs_np = offs_col.to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False)
    versions = control.versions if control is not None else []
    caches = [relcache] + [c for _, c in versions]
    # version 0 is ``relcache``; version i starts after the i-th Relation
    ver = np.searchsorted(np.array([o for o, _ in versions], np.int64),
                          offs_np)
    buf, starts, ends = _bin_view(data_arr)
    if n and int((ends - starts).min()) <= 0:
        raise IndexError("empty wire message")
    tags = buf[starts]
    m_iud = (tags == 73) | (tags == 85) | (tags == 68)
    m_b = tags == 66
    m_c = tags == 67
    m_t = tags == 84
    counts = np.zeros(n, np.int64)
    counts[m_iud | m_b | m_c] = 1

    name_vocab: list = []
    name_code: dict = {}

    def code_of(nm: str) -> int:
        c = name_code.get(nm)
        if c is None:
            c = name_code[nm] = len(name_vocab)
            name_vocab.append(nm)
        return c

    # --- I/U/D: header walk + tuple waves + payload maps ---
    iud = np.flatnonzero(m_iud)
    pay_chunks: list = []
    pos_chunks: list = []
    name_code_iud = np.empty(iud.size, np.int64)
    if iud.size:
        s = starts[iud]
        oid = _be32(buf, s + 1)
        pos = s + 5
        u_idx = np.flatnonzero(tags[iud] == 85)
        if u_idx.size:
            k = buf[pos[u_idx]]
            has_old = u_idx[(k == 75) | (k == 79)]
            if has_old.size:                    # skip the old tuple
                _, _, _, _, endp = _walk_tuple(buf, pos[has_old] + 1,
                                               record=False)
                pos[has_old] = endp
        pos = pos + 1                           # 'N' (or 'K'/'O' for D)
        ncols, kind2d, vs2d, vl2d, _ = _walk_tuple(buf, pos, record=True)
        # one group per (relation version, oid); oids are uint32
        uo, inv = np.unique((ver[iud] << 32) | oid, return_inverse=True)
        for gi, vo in enumerate(uo.tolist()):
            name, cols = caches[vo >> 32][vo & 0xFFFFFFFF]
            gcode = code_of(name)
            g = np.flatnonzero(inv == gi)
            name_code_iud[g] = gcode
            pay_chunks.append(_payload_map(buf, cols, kind2d[g], vs2d[g],
                                           vl2d[g]))
            pos_chunks.append(g)

    # --- B / C / T markers ---
    t_rows = np.flatnonzero(m_t)
    t_codes: list = []                          # name code per T out-row
    for r in t_rows.tolist():
        st = starts[r]
        nrels = int(_be32(buf, np.array([st + 1]))[0])
        counts[r] = nrels
        for i in range(nrels):
            o = int(_be32(buf, np.array([st + 6 + 4 * i]))[0])
            t_codes.append(code_of(caches[ver[r]][o][0]))

    # --- merge in original row order (runs expand in place) ---
    total = int(counts.sum())
    if total == 0:
        return None
    out_in = np.repeat(np.arange(n, dtype=np.int64), counts)
    run_start = np.concatenate([[0], np.cumsum(counts)[:-1]]).astype(
        np.int64)
    offset_out = offs_np[out_in]
    opc = np.zeros(n, np.int64)
    opc[tags == 73] = 0
    opc[tags == 85] = 1
    opc[tags == 68] = 2
    opc[m_b] = 3
    opc[m_c] = 4
    opc[m_t] = 5
    ops_out = pa.array(
        ["INSERT", "UPDATE", "DELETE", "BEGIN", "COMMIT", "TRUNCATE"]
    ).take(pa.array(opc[out_in]))
    # tableName via vocab + trailing null slot (take never sees a null
    # index, -1 slots are pointed at the null element)
    null_code = len(name_vocab)
    names_vocab_arr = pa.array(name_vocab + [None], pa.utf8())
    name_idx = np.full(total, null_code, np.int64)
    if iud.size:
        name_idx[run_start[iud]] = name_code_iud
    if t_rows.size:
        texp = np.flatnonzero(m_t[out_in])
        name_idx[texp] = np.array(t_codes, np.int64)
    names_out = names_vocab_arr.take(pa.array(name_idx))
    # payload: group chunks concatenated, reordered to iud order, then
    # scattered through the same null-slot trick
    if iud.size:
        merged = pa.concat_arrays(
            pay_chunks + [pa.nulls(1, pay_chunks[0].type)])
        posall = np.concatenate(pos_chunks)
        invp = np.empty(iud.size, np.int64)
        invp[posall] = np.arange(iud.size, dtype=np.int64)
        pay_idx = np.full(total, len(merged) - 1, np.int64)
        pay_idx[run_start[iud]] = invp
        pay_out = merged.take(pa.array(pay_idx))
    else:
        pay_out = pa.nulls(total, pa.map_(pa.utf8(), pa.utf8()))
    if control is not None:
        # a row's txn is the last Begin at or before it; rows before the
        # batch's first Begin belong to the carried open one (slot 0)
        b_offs = np.array([o for o, _ in control.begins], np.int64)
        xids = pa.array([control.open_xid] + [x for _, x in control.begins],
                        pa.int64())
        txn_out = xids.take(pa.array(
            np.searchsorted(b_offs, offset_out, side="right")))
    else:
        b_rows = np.flatnonzero(m_b)
        txn_np = np.zeros(total, np.int64)
        txn_mask = np.ones(total, bool)         # True = null
        txn_np[run_start[b_rows]] = _be32(buf, starts[b_rows] + 17)
        txn_mask[run_start[b_rows]] = False
        txn_out = pa.array(txn_np, mask=txn_mask)
    return pa.RecordBatch.from_arrays(
        [pa.array(offset_out), ops_out, names_out, pay_out, txn_out],
        names=["offset", "operationType", "tableName", "payload",
               "txn_id"])


class WalControl(NamedTuple):
    """A WAL batch's control plane, read from its 'R'/'B'/'C' messages
    in offset order (``decode_with_relation_resends``)."""
    versions: list    # (Relation offset, relation cache from it on)
    begins: list      # (Begin offset, xid), ascending
    open_xid: int | None  # txn open before the batch's first Begin


def decode_messages(messages: DataFrame, relcache: dict,
                    data_col: str = "data",
                    offset_col: str = "offset",
                    control: WalControl | None = None) -> DataFrame:
    """Binary pgoutput messages -> envelope rows
    (offset, operationType, tableName, payload, txn_id), where
    ``payload`` is the row's map<string,string> of column name -> text
    value (module docstring; null on marker rows).

    mapInArrow (r14; was mapInPandas with a per-row Python loop):
    format parsing is byte fiddling no built-in expression covers, but
    it IS vectorizable — every fixed-width field is a numpy gather over
    the Arrow binary buffer and the payload maps' values are one
    fancy-gather of text slices (_decode_batch_arrow, _payload_map). The relation cache and ``control``
    ride the closure (broadcast by task serialization — they are
    O(relations + transactions) small).

    With ``control``, every row decodes against the relation version
    current at its offset and carries its transaction's xid. Without
    it, every row decodes against ``relcache``, and only Begin markers
    carry their xid (``assign_txn_ids`` fills the rest).
    """
    schema = ("offset long, operationType string, tableName string, "
              "payload map<string,string>, txn_id long")

    def parse(batches):
        for rb in batches:
            if rb.num_rows:
                out = _decode_batch_arrow(rb, relcache, control)
                if out is not None:
                    yield out

    return messages.select(F.col(offset_col).alias("offset"), data_col) \
                   .mapInArrow(parse, schema)


def assign_txn_ids(events: DataFrame,
                   order_col: str = "offset") -> DataFrame:
    """Propagate each Begin's xid to every following row up to the next
    Begin (WAL order): the sequential reference for the txn_id that
    ``decode_with_relation_resends`` stamps, and the identity on its
    output. Protocol v1 ties this to the global stream order, so the
    window is unpartitioned and puts the whole input in one partition —
    the constraint the reference's consumer lives under (utils.go:49
    single partition). The engine path does not call it."""
    w = (Window.orderBy(order_col)
               .rowsBetween(Window.unboundedPreceding, 0))
    return events.withColumn(
        "txn_id", F.last("txn_id", ignorenulls=True).over(w))


def decode_wal_stream(messages: DataFrame, data_col: str = "data",
                      offset_col: str = "offset") -> DataFrame:
    """Full frontend: decode in WAL order, each row against the
    Relation version current at its offset and stamped with its txn_id.
    The result feeds cdc.txn.committed_events / apply_changes directly —
    i.e. producer.go:110-195 and its Begin/Commit drop (producer.go:
    163-164) replaced by a decode that KEEPS transaction atomicity."""
    wal = messages.select(F.col(offset_col).alias("offset"),
                          F.col(data_col).alias("data"))
    return decode_with_relation_resends(wal, {})[0]


# ---------------------------------------------------------------------------
# Envelope -> wire -> envelope round-trip (the oracle-checked query path)
# ---------------------------------------------------------------------------


def encode_typed_events(events: DataFrame, oid: int,
                        value_schema) -> DataFrame:
    """Typed envelope events (payload struct + payload_fields presence
    array, the apply_changes_typed feed) -> binary pgoutput messages.

    The distributed half of the round-trip: one Arrow batch pass, each
    event serialized by the byte-exact protocol writers above. Columns
    absent from payload_fields encode as 'u' (unchanged TOAST) and
    explicit nulls as 'n' — preserving the presence distinction across
    the wire. Values format by DECLARED column type, not Python type:
    Arrow hands nullable integer struct fields to pandas as float64, so
    an untyped str() would wire "85.0" for a bigint."""
    schema = "offset long, data binary"
    # (name, kind) where kind picks the text formatter
    field_kinds = [(f.name, f.dataType.simpleString())
                   for f in value_schema.fields]

    def enc(batches):
        for rb in batches:
            if rb.num_rows:
                yield _encode_batch_arrow(rb, oid, field_kinds)

    return events.select("offset", "operationType", "payload",
                         "payload_fields").mapInArrow(enc, schema)


def _encode_batch_arrow(rb, oid: int, field_kinds: list):
    """Vectorized wire assembly for one Arrow batch (guide §4.2):
    integer columns format via Arrow's exact int64->string cast (the
    mapInPandas float64 detour — and its 2^53 corruption hazard — is
    gone entirely: Arrow hands int64 through losslessly), doubles keep
    Python's shortest-repr semantics in a bulk pass over just the
    needed rows, strings pass through as raw buffer slices, and the
    length-prefixed tuple pieces are laid out by ONE fancy-gather
    (_gather_concat). Wire bytes are identical to
    encode_insert/update/delete over the same values (golden-wire tests
    + the roundtrip oracle hash pin this)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = rb.num_rows
    p_u32 = struct.Struct(">I").pack
    heads = (b"I" + p_u32(oid) + b"N",
             b"U" + p_u32(oid) + b"N",
             b"D" + p_u32(oid) + b"K")
    nf = len(field_kinds)
    int_kinds = frozenset(("bigint", "int", "smallint", "tinyint"))

    ops = rb.column(1)
    opc_arr = pc.index_in(ops, value_set=pa.array(
        ["INSERT", "UPDATE", "DELETE"]))
    if opc_arr.null_count:
        bad = ops.filter(pc.is_null(opc_arr))[0].as_py()
        raise KeyError(bad)
    opc = opc_arr.to_numpy(zero_copy_only=False).astype(np.int64)

    ps = rb.column(2)
    pf = rb.column(3)
    if ps.null_count or pf.null_count:
        raise TypeError("null payload / payload_fields row")

    # presence matrix from the payload_fields lists (unknown names are
    # simply never matched — same as the old `c in set(fields)` test)
    flat = pf.flatten()
    row_of = np.repeat(
        np.arange(n, dtype=np.int64),
        pf.value_lengths().to_numpy(zero_copy_only=False))
    fidx_arr = pc.index_in(flat, value_set=pa.array(
        [name for name, _ in field_kinds]))
    known = fidx_arr.is_valid().to_numpy(zero_copy_only=False)
    fidx = fidx_arr.fill_null(0).to_numpy(zero_copy_only=False)
    present = np.zeros((n, nf), bool)
    present[row_of[known], fidx[known].astype(np.int64)] = True

    # const buffer: heads ×3, 'u', 'n', 't', nfields u16
    const = b"".join(heads) + b"unt" + struct.pack(">H", nf)
    base_heads = 0
    base_u = 18
    base_nf = 21
    # per-(row,field) content sources; buffers collected then concat'd
    bufs = [np.frombuffer(const, np.uint8)]
    bases = [0]

    def add_buf(b) -> int:
        bases.append(bases[-1] + len(bufs[-1]))
        bufs.append(b)
        return bases[-1]

    c_src = np.zeros((n, nf), np.int64)
    c_len = np.zeros((n, nf), np.int64)
    is_text = np.zeros((n, nf), bool)
    for ci, (name, kind) in enumerate(field_kinds):
        pm = present[:, ci]
        if not pm.any():
            continue
        child = ps.field(ci)
        if kind == "double" or kind == "float":
            vals = child.to_numpy(zero_copy_only=False)
            ok = pm & ~np.isnan(vals)          # None and NaN both -> 'n'
            sel = np.flatnonzero(ok)
            if sel.size:
                parts = [repr(x).encode() for x in vals[sel].tolist()]
                lens = np.fromiter((len(p) for p in parts), np.int64,
                                   sel.size)
                base = add_buf(np.frombuffer(b"".join(parts), np.uint8))
                offs = np.concatenate([[0], np.cumsum(lens)[:-1]])
                c_src[sel, ci] = base + offs
                c_len[sel, ci] = lens
        else:
            ok = pm & child.is_valid().to_numpy(zero_copy_only=False)
            sel = np.flatnonzero(ok)
            if sel.size:
                if kind in int_kinds:
                    sa = pc.cast(child, pa.string())
                elif pa.types.is_string(child.type):
                    sa = child
                else:                           # rare types: str() parity
                    sa = pa.array([str(v) for v in child.to_pylist()],
                                  pa.utf8())
                sbufs = sa.buffers()
                soffs = np.frombuffer(sbufs[1], np.int32,
                                      count=len(sa) + 1,
                                      offset=sa.offset * 4
                                      ).astype(np.int64)
                base = add_buf(np.frombuffer(sbufs[2], np.uint8)
                               if sbufs[2] is not None
                               else np.zeros(0, np.uint8))
                c_src[sel, ci] = base + soffs[sel]
                c_len[sel, ci] = soffs[sel + 1] - soffs[sel]
        is_text[:, ci] = ok

    # big-endian u32 length prefixes for every text piece, one buffer
    be_lens = np.ascontiguousarray(
        c_len.astype(">u4")).view(np.uint8).reshape(n, nf * 4)
    base_be = add_buf(be_lens.ravel())

    # slots per row: head, nfields, then per field (tag, len4, content)
    nslots = 2 + 3 * nf
    srcs = np.zeros((n, nslots), np.int64)
    lens = np.zeros((n, nslots), np.int64)
    srcs[:, 0] = base_heads + 6 * opc
    lens[:, 0] = 6
    srcs[:, 1] = base_nf
    lens[:, 1] = 2
    for ci in range(nf):
        s = 2 + 3 * ci
        pm = present[:, ci]
        tm = is_text[:, ci]
        # tag: 'u' absent, 'n' present-null, 't' text
        srcs[:, s] = base_u                    # 'u'
        srcs[pm, s] = base_u + 1               # 'n'
        srcs[tm, s] = base_u + 2               # 't'
        lens[:, s] = 1
        srcs[tm, s + 1] = base_be + 4 * (np.flatnonzero(tm) * nf + ci)
        lens[tm, s + 1] = 4
        srcs[tm, s + 2] = c_src[tm, ci]
        lens[tm, s + 2] = c_len[tm, ci]

    src = np.concatenate(bufs)
    out, _, _ = _gather_concat(src, srcs, lens)
    row_lens = lens.sum(axis=1)
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(row_lens, out=offsets[1:])
    data = pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets.tobytes()),
                         pa.py_buffer(out.tobytes())])
    return pa.RecordBatch.from_arrays([rb.column(0), data],
                                      names=["offset", "data"])


def cdc_pgoutput_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the synthesized typed event stream serialized to
    byte-exact pgoutput wire messages (plus a Relation message), decoded
    back through relation_cache + decode_messages, and folded to final
    state. The oracle is the independent expected-state projection — so
    a single flipped bit anywhere in writer, parser, TOAST/null handling,
    or relation routing breaks the hash."""
    from postgres_es_cdc_spark.cdc.apply import apply_changes
    from postgres_es_cdc_spark.cdc.generate import (
        orders_cdc_events_typed, orders_cdc_value_schema)

    schema = orders_cdc_value_schema()
    cols = [f.name for f in schema.fields]
    oid = 16384
    wire = encode_typed_events(orders_cdc_events_typed(spark, sf_dir),
                               oid, schema)
    rel = spark.createDataFrame(
        [(-1, bytearray(encode_relation(oid, "orders", cols)))],
        "offset long, data binary")
    cache = relation_cache(rel)
    decoded = decode_messages(wire, cache)
    return apply_changes(decoded, schema)


def cdc_schema_evolution_fold(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Mid-stream SCHEMA EVOLUTION through the wire codec — the DDL
    case the reference mishandles by construction (producer.go:110-124
    caches each Relation as it arrives but replays from a fixed
    position, so a column added mid-stream desynchronizes older rows):
    a v1 Relation declares (id, custkey, status) and every order
    INSERTs under it; a v2 Relation re-send for the SAME oid ADDS
    'priority'; post-evolution UPDATEs set priority for id % 3 == 0.

    decode_with_relation_resends decodes each row against the Relation
    version current at its offset, so pre-evolution rows decode with
    3-column tuples and post-evolution rows with 4 — WAL-reader
    semantics. Folding with the EVOLVED schema surfaces the added column
    as NULL for never-updated rows: exactly the putAll key-absent
    contract (es.go:47-86) applied to DDL drift, with no backfill
    rewrite of old events.

    Scale shape: the control collect returns only the 2 'R' rows; decode
    is the same one Arrow-batched pass as the streaming path; the fold
    is one partial-aggregable per-key reduction."""
    from pyspark.sql.types import _parse_datatype_string

    from postgres_es_cdc_spark.cdc.apply import apply_changes
    from postgres_es_cdc_spark.catalog import table

    oid = 16400
    v1_schema = _parse_datatype_string(
        "id long, custkey long, status string")
    v2_schema = _parse_datatype_string(
        "id long, custkey long, status string, priority string")
    o = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    v1_ev = o.select(
        (k * 10).cast("long").alias("offset"),
        F.lit("INSERT").alias("operationType"),
        F.struct(k.cast("long").alias("id"),
                 F.col("o_custkey").cast("long").alias("custkey"),
                 F.col("o_orderstatus").alias("status")).alias("payload"),
        F.array(F.lit("id"), F.lit("custkey"),
                F.lit("status")).alias("payload_fields"))
    evo_off = 10 ** 10
    v2_ev = o.filter(k % 3 == 0).select(
        (F.lit(evo_off) + k * 10).cast("long").alias("offset"),
        F.lit("UPDATE").alias("operationType"),
        F.struct(k.cast("long").alias("id"),
                 F.lit(None).cast("long").alias("custkey"),
                 F.lit(None).cast("string").alias("status"),
                 F.concat(F.lit("P-"), F.col("o_orderpriority"))
                  .alias("priority")).alias("payload"),
        F.array(F.lit("id"), F.lit("priority")).alias("payload_fields"))

    def rel(off: int, cols: list) -> DataFrame:
        return spark.createDataFrame(
            [(off, bytearray(encode_relation(oid, "orders_evo", cols)))],
            "offset long, data binary")

    # Checkpointed: the control collect and the decode each read the
    # wire frame, and each read would re-run BOTH encode mapInArrow
    # passes — materialize the bytes once, as the streaming path's
    # segment files do.
    wire = (rel(-2, ["id", "custkey", "status"])
            .unionByName(encode_typed_events(v1_ev, oid, v1_schema))
            .unionByName(rel(evo_off - 5,
                             ["id", "custkey", "status", "priority"]))
            .unionByName(encode_typed_events(v2_ev, oid, v2_schema))
            .localCheckpoint(eager=False))
    decoded, _ = decode_with_relation_resends(wire, {})
    return apply_changes(decoded, v2_schema)


# ---------------------------------------------------------------------------
# Streaming frontend: WAL segments -> decode -> transaction-atomic sink
# ---------------------------------------------------------------------------


def decode_with_relation_resends(batch: DataFrame, relcache: dict, *,
                                 last_xid: int | None = None) -> tuple:
    """Decode a WAL batch as a sequential reader would (producer.go
    caches Relations as it reads): each data row against the Relation
    version current at its offset, so rows before a mid-batch re-send
    keep the prior schema, and each row stamped with the xid of the
    last Begin before it — or ``last_xid``, the transaction left open
    by the previous batch, for rows before the batch's first Begin.

    Eager: the control plane runs here, as ONE collect of the batch's
    'R'/'B'/'C' messages; the data plane is the one lazy mapInArrow of
    ``decode_messages``. Driver state is O(relations + transactions per
    trigger), bounded by the source's maxFilesPerTrigger; in exchange
    the decode is not forced into one partition by a last-Begin window.

    Returns (events, context): context is {"relcache", "last_xid",
    "commits"}, the relation cache and open xid the next batch resumes
    from (after a COMMIT no transaction is open) and the set of xids
    the batch commits — each Commit closes the transaction open at it,
    the last Begin's or, before any Begin, ``last_xid``; a Commit with
    nothing open adds nothing. Shared by WalStreamApply's
    per-micro-batch path, decode_wal_stream and
    cdc_schema_evolution_fold."""
    control = sorted(
        (r[0], bytes(r[1])) for r in
        batch.filter(F.expr("substring(data, 1, 1) IN (X'52', X'42', X'43')"))
             .select("offset", "data").collect())      # 'R', 'B', 'C'
    versions: list = []
    begins: list = []
    commits: set = set()
    cache, open_xid = dict(relcache), last_xid
    for off, data in control:
        if data[:1] == b"R":
            oid, name, cols = decode_relation(data)
            cache = {**cache, oid: (name, cols)}
            versions.append((off, cache))
        elif data[:1] == b"B":
            (open_xid,) = struct.unpack_from(">I", data, 17)
            begins.append((off, open_xid))
        else:
            if open_xid is not None:
                commits.add(open_xid)
            open_xid = None
    ev = decode_messages(batch, dict(relcache),
                         control=WalControl(versions, begins, last_xid))
    return ev, {"relcache": cache, "last_xid": open_xid, "commits": commits}


class WalStreamApply:
    """foreachBatch glue composing the codec with the transactional sink:
    per micro-batch decode, with the two pieces of cross-batch context a
    segmented WAL needs carried driver-side:

      * the relation cache (a table's Relation message may precede its
        rows by many segments) — updated from each batch's 'R' subset;
      * the open transaction's xid (a txn can span segment boundaries;
        protocol v1 rows before the batch's first Begin belong to it) —
        the decode stamps it on those rows, so they are NOT mistaken for
        autocommit writes.

    Both are tiny (O(tables) + one int) and are committed WITH the
    batch — in the sink's one manifest repoint, beside its tables and
    pending buffer — so a checkpoint restart resumes mid-transaction
    decode exactly where the committed state stands, and a batch whose
    commit was lost replays against the context it first saw.

    A batch costs one driver collect (its control messages) and one
    decode pass. The collect also yields the xids the batch commits,
    which ride to the sink as ``commits``: the sink tags the decoded
    rows from that set, so its one materialization is the only job
    that runs the decode — no commit-id join reads it a second time."""

    def __init__(self, sink):
        self.sink = sink
        ctx = sink.meta().get("context") or {"relcache": {},
                                             "last_xid": None}
        self.relcache: dict = {int(k): tuple(v)
                               for k, v in ctx["relcache"].items()}
        self.last_xid: int | None = ctx["last_xid"]

    def apply(self, batch: DataFrame, batch_id: int) -> None:
        if self.sink.applied(batch_id):
            return                      # committed replay: no-op
        ev = self._decode_in_offset_order(batch)
        self.sink.apply_batch(ev, batch_id, context={
            "relcache": {str(k): list(v) for k, v in self.relcache.items()},
            "last_xid": self.last_xid}, commits=self.commits)

    def _decode_in_offset_order(self, batch: DataFrame) -> DataFrame:
        """Decode ``batch`` from the carried context and advance it to
        the batch's end (the relation cache and open xid the next batch
        starts from, and ``commits``, the xids this batch commits)."""
        ev, ctx = decode_with_relation_resends(batch, self.relcache,
                                               last_xid=self.last_xid)
        self.relcache, self.last_xid, self.commits = (
            ctx["relcache"], ctx["last_xid"], ctx["commits"])
        return ev

    def writer(self):
        return self.apply


def wal_cdc_pipeline(wal_stream: DataFrame, sink, checkpoint_dir: str,
                     trigger_once: bool = True):
    """Wire a streaming DataFrame of (offset, data binary) WAL messages
    into a TxnUpsertSink: the reference's whole producer+consumer loop
    (producer.go:70-174 + utils.go:92-117) as one checkpointed stream —
    with the transaction atomicity it drops."""
    apply = WalStreamApply(sink)
    writer = (wal_stream.writeStream
              .foreachBatch(apply.writer())
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()

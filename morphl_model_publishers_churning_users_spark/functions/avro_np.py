"""numpy-vectorized Arrow-batch decoders for the wire-codec operators.

Round-14 optimization (guide §4.2, VERDICT r13 item 4 / next-round item
3): the r13 `mapInArrow` decoders (functions/avro_arrow.py) removed the
Catalyst expression ladders and the JVM↔Python row boundary, but still
walked every wire byte in an interpreted Python loop (~7 µs/row). At
100 TB the codec family would be Python-loop-bound. This module decodes
whole Arrow batches with numpy array ops instead:

  * the batch's binary column is viewed as ONE flat uint8 buffer plus
    per-row (start, end) offsets — no per-row bytes objects ever
    materialize;
  * each varint is decoded for ALL rows at once by a masked limb loop
    (≤10 iterations regardless of row count): rows whose current byte
    has no continuation bit drop out of the active set;
  * data-dependent walks (array/map block items) run the same way with
    a per-row remaining-items counter — the loop length is the MAX item
    count in the batch, not the sum;
  * output strings are gathered with one fancy-index per column and
    wrapped as Arrow arrays from raw offset/data buffers (guide §4.2's
    re-slice-don't-copy-rows property).

Semantics are bit-identical to the per-row reference decoders in
avro_arrow.py (which stay as the spec implementation, pinned by the
limb-boundary tests): unsigned accumulation wraps mod 2^64 exactly like
the reference's explicit `u &= _U64` mask, uint64→int64 reinterpretation
matches the signed-carrier rule, and summation wraps like the
reference's s64() fold. test_round14_np_decoders.py pins every decoder
against its avro_arrow twin on the adversarial limb/boundary grid plus
the real JVM-encoded fixtures.

Well-formedness: these decoders, like the reference, assume the wire
was produced by the op's own JVM encode expressions (≤10 varint limbs,
frames that tile the payload). A malformed continuation chain raises
rather than decoding garbage.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np

_U1 = np.uint64(1)
_U7F = np.uint64(0x7F)


def _flat_binary(arr, pa):
    """(data, starts, ends, null_mask) view of an Arrow binary/string
    array: one flat uint8 buffer + int64 row offsets. null_mask is a
    bool ndarray (True = null) or None when no nulls."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    bufs = arr.buffers()
    width = np.int64 if pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type) else np.int32
    nulls = ~np.asarray(arr.is_valid()) if arr.null_count else None
    if bufs[1] is None:  # 0-row (or all-null) batch: no offsets buffer
        zero = np.zeros(n + 1, np.int64)
        return np.empty(0, np.uint8), zero[:-1], zero[1:], nulls
    off = np.frombuffer(bufs[1], dtype=width)[arr.offset : arr.offset + n + 1].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, np.uint8)
    )
    return data, off[:-1], off[1:], nulls


def _i64(arr, pa):
    """int64 ndarray view of an Arrow integer column (no nulls expected)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return arr.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def _vec_uvarint(data, pos, active=None):
    """Decode one base-128 varint per row at absolute positions `pos`.

    Returns (u, next_pos): u is the raw uint64 accumulation (wrapping
    past 64 bits exactly like the reference's `u &= _U64`), next_pos the
    position after the varint. Rows where `active` is False are left
    untouched (u=0, pos unchanged). Raises on >10 limbs.
    """
    n = pos.shape[0]
    u = np.zeros(n, np.uint64)
    p = pos.copy()
    cont = np.ones(n, bool) if active is None else active.copy()
    shift = 0
    while cont.any():
        if shift > 63:
            raise ValueError("varint exceeds 10 limbs")
        b = data[p[cont]]
        contrib = (b & 0x7F).astype(np.uint64) << np.uint64(shift)
        u[cont] |= contrib
        p[cont] += 1
        idx = np.nonzero(cont)[0]
        cont[idx[(b & 0x80) == 0]] = False
        shift += 7
    return u, p


def _unzigzag(u):
    """uint64 zigzag value -> signed int64 (the reference's
    `(u >> 1) ^ -(u & 1)` under a 64-bit mask)."""
    return ((u >> _U1) ^ (np.uint64(0) - (u & _U1))).view(np.int64)


def _vec_varint(data, pos, active=None):
    """zigzag varint: (signed int64 values, next positions)."""
    u, p = _vec_uvarint(data, pos, active)
    return _unzigzag(u), p


def _vec_varint_signed_carrier(data, pos, active=None):
    """proto3 varint: unsigned value reinterpreted in a signed carrier."""
    u, p = _vec_uvarint(data, pos, active)
    return u.view(np.int64), p


def _gather(data, starts, lens):
    """Fancy-gather per-row slices [starts, starts+lens) out of the flat
    buffer: (flat_bytes, int32 offsets) ready for Arrow from_buffers."""
    lens = lens.astype(np.int64, copy=False)
    total = int(lens.sum())
    offsets = np.zeros(len(lens) + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    idx = np.repeat(starts, lens) + (np.arange(total, dtype=np.int64) - np.repeat(offsets[:-1], lens))
    return data[idx], offsets.astype(np.int32)


def _string_array(pa, data, starts, lens, null_mask=None):
    flat, offsets = _gather(data, starts, lens)
    validity = None
    if null_mask is not None and null_mask.any():
        validity = pa.array(~null_mask).buffers()[1]
    return pa.Array.from_buffers(
        pa.utf8(),
        len(lens),
        [validity, pa.py_buffer(offsets.tobytes()), pa.py_buffer(flat.tobytes())],
        null_count=int(null_mask.sum()) if null_mask is not None else 0,
    )


def _slice_eq(data, starts, length, other_data, other_starts):
    """Per-row equality of two fixed-length byte slices (vectorized)."""
    n = len(starts)
    if n == 0:
        return np.zeros(0, bool)
    a = data[starts[:, None] + np.arange(length)]
    b = other_data[other_starts[:, None] + np.arange(length)]
    return (a == b).all(axis=1)


def _str_eq(pa, built, expected):
    """Null-safe elementwise equality built-string vs expected column,
    as a bool ndarray with None treated as not-equal (the reference's
    `pri_out == pris[i]` yields False against a None only when exactly
    one side is None; both-None compares True)."""
    import pyarrow.compute as pc

    eq = pc.equal(built, expected)  # null when either side is null
    both_null = pc.and_(pc.is_null(built), pc.is_null(expected))
    # plain or_ propagates nulls (null|true = null); the needed
    # semantics are Kleene's: a null eq beside a True both_null is True
    return np.asarray(pc.or_kleene(pc.fill_null(eq, False), both_null))


def _num_eq(vals, expected, null_mask=None):
    eq = vals == expected
    if null_mask is not None:
        eq &= ~null_mask
    return eq


def _cols(batch, names):
    sn = batch.schema.names
    return [batch.column(sn.index(c)) for c in names]


def _ints_out(pa, vals, mask=None):
    return pa.array(vals, type=pa.int64(), from_pandas=False, mask=mask)


def _bools_out(pa, vals, mask=None):
    return pa.array(vals, type=pa.bool_(), from_pandas=False, mask=mask)


# ----------------------------------------------------------- fn_protobuf_wire


def decode_protobuf_wire(it: Iterator) -> Iterator:
    import pyarrow as pa

    schema = pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("priority", pa.string()),
            ("total_cents", pa.int64()),
            ("msg_len", pa.int64()),
            ("roundtrip_ok", pa.bool_()),
        ]
    )
    for batch in it:
        keys_c, pris_c, cents_c, payload_c = _cols(
            batch, ["key_in", "pri_in", "cents_in", "payload"]
        )
        data, starts, ends, nulls = _flat_binary(payload_c, pa)
        n = len(starts)
        null = nulls if nulls is not None else np.zeros(n, bool)
        act = ~null
        keys = _i64(keys_c, pa)
        cents = _i64(cents_c, pa)
        # field-1 varint after tag 0x08
        key_out, p = _vec_varint_signed_carrier(data, starts + 1, act)
        p2 = p  # field-2 tag position
        slen = np.zeros(n, np.int64)
        slen[act] = data[p2[act] + 1]
        pri_starts = p2 + 2
        p3 = p2 + 2 + slen
        cents_out, _ = _vec_varint_signed_carrier(data, p3 + 1, act)
        # null-payload rows gather a zero-length slice and carry a null
        # bit — no per-row scatter needed
        pri_full = _string_array(
            pa,
            data,
            np.where(act, pri_starts, 0),
            np.where(act, slen, 0),
            null_mask=null if null.any() else None,
        )
        lens = ends - starts
        tag_ok = np.zeros(n, bool)
        tag_ok[act] = (
            (data[starts[act]] == 0x08)
            & (data[p2[act]] == 0x12)
            & (data[p3[act]] == 0x18)
        )
        ok = (
            tag_ok
            & _num_eq(key_out, keys)
            & _str_eq(pa, pri_full, pris_c)
            & _num_eq(cents_out, cents)
        )
        yield pa.RecordBatch.from_arrays(
            [
                _ints_out(pa, key_out, null),
                pri_full,
                _ints_out(pa, cents_out, null),
                _ints_out(pa, lens, null),
                _bools_out(pa, ok, null),
            ],
            schema=schema,
        )


# --------------------------------------------------------------- fn_avro_wire


def decode_wire(it: Iterator) -> Iterator:
    import pyarrow as pa

    schema = pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("priority", pa.string()),
            ("cents_delta", pa.int64()),
            ("msg_len", pa.int64()),
            ("roundtrip_ok", pa.bool_()),
        ]
    )
    for batch in it:
        keys_c, pris_c, deltas_c, payload_c = _cols(
            batch, ["key_in", "pri_in", "delta_in", "payload"]
        )
        data, starts, ends, _ = _flat_binary(payload_c, pa)
        key_out, p = _vec_varint(data, starts)
        slen, p = _vec_varint(data, p)
        pri_arr = _string_array(pa, data, p, slen)
        delta_out, p = _vec_varint(data, p + slen)
        ok = (
            _num_eq(key_out, _i64(keys_c, pa))
            & _str_eq(pa, pri_arr, pris_c)
            & _num_eq(delta_out, _i64(deltas_c, pa))
        )
        yield pa.RecordBatch.from_arrays(
            [
                _ints_out(pa, key_out),
                pri_arr,
                _ints_out(pa, delta_out),
                _ints_out(pa, ends - starts),
                _bools_out(pa, ok),
            ],
            schema=schema,
        )


# ----------------------------------------------------- fn_avro_schema_evolution


def decode_schema_evolution(it: Iterator) -> Iterator:
    import pyarrow as pa

    schema = pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("priority", pa.string()),
            ("cents_delta", pa.int64()),
            ("source_id", pa.int64()),
            ("skipped_len", pa.int64()),
            ("resolve_ok", pa.bool_()),
        ]
    )
    for batch in it:
        keys_c, pris_c, deltas_c, payload_c = _cols(
            batch, ["key_in", "pri_in", "delta_in", "payload"]
        )
        data, starts, ends, _ = _flat_binary(payload_c, pa)
        n = len(starts)
        # skip `key` by length only
        _, p2 = _vec_varint(data, starts)
        klen = p2 - starts
        slen, p = _vec_varint(data, p2)
        pri_arr = _string_array(pa, data, p, slen)
        delta_out, p_end = _vec_varint(data, p + slen)
        ok = (
            _str_eq(pa, pri_arr, pris_c)
            & _num_eq(delta_out, _i64(deltas_c, pa))
            & (p_end == ends)
        )
        yield pa.RecordBatch.from_arrays(
            [
                _ints_out(pa, _i64(keys_c, pa)),
                pri_arr,
                _ints_out(pa, delta_out),
                _ints_out(pa, np.full(n, 42, np.int64)),
                _ints_out(pa, klen),
                _bools_out(pa, ok),
            ],
            schema=schema,
        )


# ------------------------------------------------------- fn_avro_union_nullable


def decode_union_nullable(it: Iterator) -> Iterator:
    import pyarrow as pa

    schema = pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("priority", pa.string()),
            ("cents_delta", pa.int64()),
            ("msg_len", pa.int64()),
            ("union_ok", pa.bool_()),
        ]
    )
    for batch in it:
        keys_c, pris_c, deltas_c, payload_c = _cols(
            batch, ["key_in", "pri_in", "delta_in", "payload"]
        )
        data, starts, ends, _ = _flat_binary(payload_c, pa)
        n = len(starts)
        key_out, p = _vec_varint(data, starts)
        # string union branch: marker byte 2 = some, 0 = null
        has_pri = data[p] == 2
        slen, q = _vec_varint(data, p + 1, has_pri.copy())
        pri_starts = np.where(has_pri, q, 0)
        pri_lens = np.where(has_pri, slen, 0)
        pri_arr = _string_array(pa, data, pri_starts, pri_lens, null_mask=~has_pri)
        p = np.where(has_pri, q + slen, p + 1)
        # delta union branch
        has_delta = data[p] == 2
        delta_out, q2 = _vec_varint(data, p + 1, has_delta.copy())
        p = np.where(has_delta, q2, p + 1)
        ok = (
            _num_eq(key_out, _i64(keys_c, pa))
            & _str_eq(pa, pri_arr, pris_c)
            & _num_eq_nullable(pa, delta_out, has_delta, deltas_c)
            & (p == ends)
        )
        yield pa.RecordBatch.from_arrays(
            [
                _ints_out(pa, key_out),
                pri_arr,
                _ints_out(pa, delta_out, ~has_delta),
                _ints_out(pa, ends - starts),
                _bools_out(pa, ok),
            ],
            schema=schema,
        )


def _num_eq_nullable(pa, vals, present, expected_col):
    """Reference semantics of `delta_out == deltas[i]` where delta_out is
    None on the null branch: None == None is True, None == value False."""
    import pyarrow.compute as pc

    exp_null = np.asarray(pc.is_null(expected_col))
    exp = np.asarray(pc.fill_null(expected_col, 0)).astype(np.int64)
    return np.where(present, ~exp_null & (vals == exp), exp_null)


# ---------------------------------------------------------- fn_avro_container


def make_decode_container(magic: bytes, meta: bytes, block_pos0: int, sync_pos0: int):
    def decode_container(it: Iterator) -> Iterator:
        import pyarrow as pa

        schema = pa.schema(
            [
                ("ym", pa.string()),
                ("n_records", pa.int64()),
                ("first_key", pa.int64()),
                ("file_len", pa.int64()),
                ("magic_ok", pa.bool_()),
                ("meta_ok", pa.bool_()),
                ("sync_ok", pa.bool_()),
                ("framing_ok", pa.bool_()),
                ("first_record_ok", pa.bool_()),
            ]
        )
        magic_np = np.frombuffer(magic, np.uint8)
        meta_np = np.frombuffer(meta, np.uint8)
        for batch in it:
            ym_c, n_c, fk_c, fp_c, fd_c, payload_c = _cols(
                batch,
                ["ym", "n_in", "first_key_in", "first_pri_in", "first_delta_in", "payload"],
            )
            data, starts, ends, _ = _flat_binary(payload_c, pa)
            n_out, p = _vec_varint(data, starts + block_pos0)
            rsize, p_rec = _vec_varint(data, p)
            k1, q = _vec_varint(data, p_rec)
            plen, q = _vec_varint(data, q)
            pri1 = _string_array(pa, data, q, plen)
            d1, _ = _vec_varint(data, q + plen)
            sync_hdr = starts + sync_pos0
            sync_tail = p_rec + rsize
            sync_ok = _slice_eq(data, sync_hdr, 16, data, sync_tail)
            magic_ok = (
                data[starts[:, None] + np.arange(len(magic_np))] == magic_np
            ).all(axis=1)
            meta_ok = (
                data[starts[:, None] + 4 + np.arange(len(meta_np))] == meta_np
            ).all(axis=1)
            framing_ok = (n_out == _i64(n_c, pa)) & (p_rec + rsize + 16 == ends)
            rec_ok = (
                _num_eq(k1, _i64(fk_c, pa))
                & _str_eq(pa, pri1, fp_c)
                & _num_eq(d1, _i64(fd_c, pa))
            )
            yield pa.RecordBatch.from_arrays(
                [
                    ym_c if not isinstance(ym_c, pa.ChunkedArray) else ym_c.combine_chunks(),
                    _ints_out(pa, n_out),
                    _ints_out(pa, k1),
                    _ints_out(pa, ends - starts),
                    _bools_out(pa, magic_ok),
                    _bools_out(pa, meta_ok),
                    _bools_out(pa, sync_ok),
                    _bools_out(pa, framing_ok),
                    _bools_out(pa, rec_ok),
                ],
                schema=schema,
            )

    return decode_container


# -------------------------------------------------------- fn_avro_array_blocks


def _vec_item_walk(data, pos, counts):
    """Sum `counts[i]` consecutive zigzag varints per row starting at
    `pos` (wrapping uint64 accumulation == the reference's s64 fold).
    Returns (sums_u64, next_pos)."""
    n = pos.shape[0]
    s = np.zeros(n, np.uint64)
    p = pos.copy()
    left = counts.copy()
    while True:
        act = left > 0
        if not act.any():
            break
        v, p = _vec_varint(data, p, act)
        s[act] += v[act].view(np.uint64)
        left[act] -= 1
    return s, p


def decode_array_blocks(it: Iterator) -> Iterator:
    import pyarrow as pa

    schema = pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("n_items", pa.int64()),
            ("sum_vals", pa.int64()),
            ("n_blocks", pa.int64()),
            ("block2_size", pa.int64()),
            ("wire_len", pa.int64()),
            ("blocks_ok", pa.bool_()),
        ]
    )
    for batch in it:
        keys_c, items_c, n_c, payload_c = _cols(
            batch, ["key_in", "items", "n_in", "payload"]
        )
        data, starts, ends, _ = _flat_binary(payload_c, pa)
        key_out, p = _vec_varint(data, starts)
        c1, p = _vec_varint(data, p)
        s1, q_end = _vec_item_walk(data, p, c1)
        hdr2, p_hdr2_end = _vec_varint(data, q_end)
        has_b2 = hdr2 < 0
        c2 = np.where(has_b2, -hdr2, 0)
        bsize, r0 = _vec_varint(data, p_hdr2_end, has_b2.copy())
        s2, walk2_pos = _vec_item_walk(data, np.where(has_b2, r0, q_end), c2)
        walk2_pos = np.where(has_b2, walk2_pos, q_end)
        term_pos = np.where(has_b2, r0 + bsize, q_end)
        decoded_sum = (s1 + s2).view(np.int64)
        # input sums: wrap-sum the list column's flat child per row
        if isinstance(items_c, pa.ChunkedArray):
            items_c = items_c.combine_chunks()
        child = items_c.values.to_numpy(zero_copy_only=False).astype(np.int64)
        loff = np.asarray(items_c.offsets).astype(np.int64)
        cs = np.zeros(len(child) + 1, np.uint64)
        np.cumsum(child.view(np.uint64), out=cs[1:])
        input_sum = (cs[loff[1:]] - cs[loff[:-1]]).view(np.int64)
        ok = (
            _num_eq(key_out, _i64(keys_c, pa))
            & (c1 + c2 == _i64(n_c, pa))
            & (decoded_sum == input_sum)
            & (term_pos < ends)
            & (data[np.minimum(term_pos, len(data) - 1)] == 0)
            & (term_pos == ends - 1)
            & np.where(has_b2, walk2_pos == term_pos, hdr2 == 0)
        )
        yield pa.RecordBatch.from_arrays(
            [
                _ints_out(pa, key_out),
                _ints_out(pa, c1 + c2),
                _ints_out(pa, decoded_sum),
                _ints_out(pa, np.where(has_b2, 2, 1).astype(np.int64)),
                _ints_out(pa, bsize, ~has_b2),
                _ints_out(pa, ends - starts),
                _bools_out(pa, ok),
            ],
            schema=schema,
        )


# ---------------------------------------------------------- fn_avro_map_blocks


def _vec_entry_walk(data, pos, counts):
    """Walk `counts[i]` (klen, key-bytes, value) map entries per row:
    returns (next_pos, key_byte_totals, value_sums_u64)."""
    n = pos.shape[0]
    kb = np.zeros(n, np.int64)
    s = np.zeros(n, np.uint64)
    p = pos.copy()
    left = counts.copy()
    while True:
        act = left > 0
        if not act.any():
            break
        klen, p = _vec_varint(data, p, act)
        p[act] += klen[act]
        kb[act] += klen[act]
        v, p = _vec_varint(data, p, act)
        s[act] += v[act].view(np.uint64)
        left[act] -= 1
    return p, kb, s


def decode_map_blocks(it: Iterator) -> Iterator:
    import pyarrow as pa

    schema = pa.schema(
        [
            ("o_custkey", pa.int64()),
            ("n_entries", pa.int64()),
            ("key_bytes", pa.int64()),
            ("sum_vals", pa.int64()),
            ("n_blocks", pa.int64()),
            ("block2_size", pa.int64()),
            ("wire_len", pa.int64()),
            ("map_ok", pa.bool_()),
        ]
    )
    for batch in it:
        keys_c, n_c, kb_c, vs_c, payload_c = _cols(
            batch, ["key_in", "n_in", "kb_in", "vs_in", "payload"]
        )
        data, starts, ends, _ = _flat_binary(payload_c, pa)
        key_out, p = _vec_varint(data, starts)
        c1, p = _vec_varint(data, p)
        q_end, kb1, s1 = _vec_entry_walk(data, p, c1)
        hdr2, p_hdr2_end = _vec_varint(data, q_end)
        has_b2 = hdr2 < 0
        c2 = np.where(has_b2, -hdr2, 0)
        bsize, r0 = _vec_varint(data, p_hdr2_end, has_b2.copy())
        walk2_pos, kb2, s2 = _vec_entry_walk(data, np.where(has_b2, r0, q_end), c2)
        walk2_pos = np.where(has_b2, walk2_pos, q_end)
        term_pos = np.where(has_b2, r0 + bsize, q_end)
        sum_vals = (s1 + s2).view(np.int64)
        ok = (
            _num_eq(key_out, _i64(keys_c, pa))
            & (c1 + c2 == _i64(n_c, pa))
            & (kb1 + kb2 == _i64(kb_c, pa))
            & (sum_vals == _i64(vs_c, pa))
            & (term_pos < ends)
            & (data[np.minimum(term_pos, len(data) - 1)] == 0)
            & (term_pos == ends - 1)
            & np.where(has_b2, walk2_pos == term_pos, hdr2 == 0)
        )
        yield pa.RecordBatch.from_arrays(
            [
                _ints_out(pa, key_out),
                _ints_out(pa, c1 + c2),
                _ints_out(pa, kb1 + kb2),
                _ints_out(pa, sum_vals),
                _ints_out(pa, np.where(has_b2, 2, 1).astype(np.int64)),
                _ints_out(pa, bsize, ~has_b2),
                _ints_out(pa, ends - starts),
                _bools_out(pa, ok),
            ],
            schema=schema,
        )

"""Round-14 optimization: the codec decoders moved from per-row Python
byte walks (functions/avro_arrow, kept as the spec reference) to
numpy-vectorized batch walks (functions/avro_np). These tests pin the
vectorized implementations against the reference row-for-row on
adversarial pyarrow batches — every limb boundary of the int64 domain
(including the 10-limb |zigzag| >= 2^63 wires), every union branch
combination, empty/one/two/many block splits, wrap-around sums and null
payloads. Spark-free: the chain JVM-encode ↔ reference-decode is pinned
by test_round13_arrow_decoders; reference ↔ vectorized is pinned here;
end-to-end oracle parity covers the composition.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from morphl_model_publishers_churning_users_spark.functions import (
    avro_arrow as ref,
    avro_np as vec,
)

_U64 = (1 << 64) - 1


def _zigzag(n: int) -> int:
    return ((n << 1) ^ (n >> 63)) & _U64


def _vi(u: int) -> bytes:
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            break
    return bytes(out)


def _vz(n: int) -> bytes:
    return _vi(_zigzag(n))


def _boundary_vals():
    vals = [0, -1, 1, -2, 2, 63, -64, 64, -65]
    for k in range(2, 10):
        b = 1 << (7 * k - 1)
        vals += [b - 1, -b, b, -b - 1]
    vals += [(1 << 62) - 1, -(1 << 62), (1 << 62), -(1 << 62) - 1,
             (1 << 63) - 1, -(1 << 63)]
    return sorted(set(vals))


def _assert_batches_equal(op_name, ref_gen, vec_gen, batch):
    outs_ref = list(ref_gen(iter([batch])))
    outs_vec = list(vec_gen(iter([batch])))
    assert len(outs_ref) == len(outs_vec) == 1
    r, v = outs_ref[0], outs_vec[0]
    assert r.schema == v.schema, op_name
    rd, vd = r.to_pydict(), v.to_pydict()
    for col in rd:
        assert rd[col] == vd[col], f"{op_name}.{col}: {rd[col][:8]} != {vd[col][:8]}"


def test_wire_vectorized_matches_reference():
    vals = _boundary_vals()
    rows = [(v, f"P{abs(v) % 97}", -v if v != -(1 << 63) else v) for v in vals]
    payloads = [
        _vz(k) + _vz(len(p)) + p.encode() + _vz(d) for k, p, d in rows
    ]
    # one deliberate mismatch: flag must come out False identically
    rows.append((5, "X", 7))
    payloads.append(_vz(5) + _vz(1) + b"Y" + _vz(7))
    batch = pa.record_batch(
        {
            "key_in": pa.array([r[0] for r in rows], pa.int64()),
            "pri_in": pa.array([r[1] for r in rows], pa.string()),
            "delta_in": pa.array([r[2] for r in rows], pa.int64()),
            "payload": pa.array(payloads, pa.binary()),
        }
    )
    _assert_batches_equal("wire", ref.decode_wire, vec.decode_wire, batch)


def test_protobuf_vectorized_matches_reference_including_null_payloads():
    vals = [v for v in _boundary_vals() if v >= 0]
    rows = [(v, f"{v % 10}-PRI", v * 2 if v < (1 << 62) else v) for v in vals]
    payloads = [
        b"\x08" + _vi(k) + b"\x12" + bytes([len(p)]) + p.encode() + b"\x18" + _vi(c)
        for k, p, c in rows
    ]
    # negative input: NULL payload, all-NULL output row
    rows.append((-3, "NEG", -5))
    payloads.append(None)
    batch = pa.record_batch(
        {
            "key_in": pa.array([r[0] for r in rows], pa.int64()),
            "pri_in": pa.array([r[1] for r in rows], pa.string()),
            "cents_in": pa.array([r[2] for r in rows], pa.int64()),
            "payload": pa.array(payloads, pa.binary()),
        }
    )
    _assert_batches_equal(
        "protobuf", ref.decode_protobuf_wire, vec.decode_protobuf_wire, batch
    )


def test_schema_evolution_vectorized_matches_reference():
    vals = _boundary_vals()
    rows = [(v, f"PRIO-{abs(v) % 11}", v ^ 42) for v in vals]
    payloads = [_vz(k) + _vz(len(p)) + p.encode() + _vz(d) for k, p, d in rows]
    batch = pa.record_batch(
        {
            "key_in": pa.array([r[0] for r in rows], pa.int64()),
            "pri_in": pa.array([r[1] for r in rows], pa.string()),
            "delta_in": pa.array([r[2] for r in rows], pa.int64()),
            "payload": pa.array(payloads, pa.binary()),
        }
    )
    _assert_batches_equal(
        "evolution", ref.decode_schema_evolution, vec.decode_schema_evolution, batch
    )


def test_union_nullable_vectorized_matches_reference_all_branches():
    vals = _boundary_vals()
    rows = []
    for i, v in enumerate(vals):
        pri = None if i % 3 == 0 else f"U{abs(v) % 13}"
        delta = None if i % 5 == 0 else v
        rows.append((v, pri, delta))
    payloads = []
    for k, p, d in rows:
        buf = _vz(k)
        buf += b"\x00" if p is None else b"\x02" + _vz(len(p)) + p.encode()
        buf += b"\x00" if d is None else b"\x02" + _vz(d)
        payloads.append(buf)
    batch = pa.record_batch(
        {
            "key_in": pa.array([r[0] for r in rows], pa.int64()),
            "pri_in": pa.array([r[1] for r in rows], pa.string()),
            "delta_in": pa.array([r[2] for r in rows], pa.int64()),
            "payload": pa.array(payloads, pa.binary()),
        }
    )
    _assert_batches_equal(
        "union", ref.decode_union_nullable, vec.decode_union_nullable, batch
    )


def test_container_vectorized_matches_reference():
    magic = b"Obj\x01"
    meta = b"\x02\x14avro.schema\x06xyz\x00"
    sync = bytes(range(16))
    sync_pos0 = 4 + len(meta)
    block_pos0 = sync_pos0 + 16
    rows = []
    payloads = []
    for i, v in enumerate(_boundary_vals()):
        pri = f"C{abs(v) % 7}"
        rec = _vz(v) + _vz(len(pri)) + pri.encode() + _vz(-v if v != -(1 << 63) else 1)
        n_rec = 1 + (i % 3)
        block = rec * n_rec
        payload = magic + meta + sync + _vz(n_rec) + _vz(len(block)) + block + sync
        rows.append((f"2024-{i % 12 + 1:02d}", n_rec, v, pri, -v if v != -(1 << 63) else 1))
        payloads.append(payload)
    batch = pa.record_batch(
        {
            "ym": pa.array([r[0] for r in rows], pa.string()),
            "n_in": pa.array([r[1] for r in rows], pa.int64()),
            "first_key_in": pa.array([r[2] for r in rows], pa.int64()),
            "first_pri_in": pa.array([r[3] for r in rows], pa.string()),
            "first_delta_in": pa.array([r[4] for r in rows], pa.int64()),
            "payload": pa.array(payloads, pa.binary()),
        }
    )
    _assert_batches_equal(
        "container",
        ref.make_decode_container(magic, meta, block_pos0, sync_pos0),
        vec.make_decode_container(magic, meta, block_pos0, sync_pos0),
        batch,
    )


def _blocks_payload(key, items):
    c1 = min(len(items), 2)
    b1 = b"".join(_vz(v) for v in items[:2])
    b2 = b"".join(_vz(v) for v in items[2:])
    buf = _vz(key) + _vz(c1) + b1
    if len(items) > 2:
        buf += _vz(-(len(items) - c1)) + _vz(len(b2)) + b2
    return buf + b"\x00"


def test_array_blocks_vectorized_matches_reference():
    bv = _boundary_vals()
    cases = [
        (1, []),
        (2, [7]),
        (3, [0, -1]),
        (4, [1, 2, 3]),  # first block-2 case
        (5, bv[:9]),
        (6, bv[9:27]),
        (7, bv),  # long block 2, 10-limb items
        (8, [(1 << 63) - 1, (1 << 63) - 1, (1 << 63) - 1, 5]),  # wrap-around sum
    ]
    batch = pa.record_batch(
        {
            "key_in": pa.array([c[0] for c in cases], pa.int64()),
            "items": pa.array([c[1] for c in cases], pa.list_(pa.int64())),
            "n_in": pa.array([len(c[1]) for c in cases], pa.int64()),
            "payload": pa.array([_blocks_payload(*c) for c in cases], pa.binary()),
        }
    )
    _assert_batches_equal(
        "array_blocks", ref.decode_array_blocks, vec.decode_array_blocks, batch
    )


def _map_payload(key, entries):
    c1 = min(len(entries), 2)

    def ent(k, v):
        kb = k.encode()
        return _vz(len(kb)) + kb + _vz(v)

    b1 = b"".join(ent(*e) for e in entries[:2])
    b2 = b"".join(ent(*e) for e in entries[2:])
    buf = _vz(key) + _vz(c1) + b1
    if len(entries) > 2:
        buf += _vz(-(len(entries) - c1)) + _vz(len(b2)) + b2
    return buf + b"\x00"


def test_map_blocks_vectorized_matches_reference():
    bv = _boundary_vals()
    cases = [
        (1, []),
        (2, [("k", 7)]),
        (3, [("", 0), ("long-key-name", -1)]),  # empty key: klen 0
        (4, [("a", 1), ("bb", 2), ("ccc", 3)]),
        (5, [(f"key{i}", v) for i, v in enumerate(bv)]),
        (6, [("x", (1 << 63) - 1), ("y", (1 << 63) - 1), ("z", 99)]),  # wrap sum
    ]
    batch = pa.record_batch(
        {
            "key_in": pa.array([c[0] for c in cases], pa.int64()),
            "n_in": pa.array([len(c[1]) for c in cases], pa.int64()),
            "kb_in": pa.array(
                [sum(len(k.encode()) for k, _ in c[1]) for c in cases], pa.int64()
            ),
            "vs_in": pa.array(
                [
                    (sum(v for _, v in c[1]) + (1 << 63)) % (1 << 64) - (1 << 63)
                    for c in cases
                ],
                pa.int64(),
            ),
            "payload": pa.array([_map_payload(*c) for c in cases], pa.binary()),
        }
    )
    _assert_batches_equal(
        "map_blocks", ref.decode_map_blocks, vec.decode_map_blocks, batch
    )


def test_vectorized_varint_primitives_match_reference():
    """The masked-limb-loop varint readers must agree with the per-row
    readers at every boundary, including cursor positions."""
    import numpy as np

    vals = _boundary_vals()
    wires = [_vz(v) for v in vals]
    flat = b"".join(wires)
    starts, pos = [], 0
    for w in wires:
        starts.append(pos)
        pos += len(w)
    data = np.frombuffer(flat, np.uint8)
    out, nxt = vec._vec_varint(data, np.array(starts, np.int64))
    for i, v in enumerate(vals):
        rv, rp = ref._read_varint(flat, starts[i])
        assert out[i] == rv == v
        assert nxt[i] == rp


def test_vectorized_uvarint_matches_reference():
    import numpy as np

    vals = [0, 1, 127, 128, 16383, 16384, (1 << 62), (1 << 63) - 1]
    # signed-carrier domain: 10-limb u64 wires decode to negative carriers
    wires = [_vi(v) for v in vals] + [_vi((1 << 64) - 1), _vi(1 << 63)]
    flat = b"".join(wires)
    starts, pos = [], 0
    for w in wires:
        starts.append(pos)
        pos += len(w)
    data = np.frombuffer(flat, np.uint8)
    out, nxt = vec._vec_varint_signed_carrier(data, np.array(starts, np.int64))
    for i in range(len(wires)):
        rv, rp = ref._read_uvarint(flat, starts[i])
        assert out[i] == rv, (i, out[i], rv)
        assert nxt[i] == rp


def test_malformed_varint_raises():
    import numpy as np

    data = np.frombuffer(b"\x80" * 11 + b"\x01", np.uint8)
    with pytest.raises(ValueError):
        vec._vec_uvarint(data, np.zeros(1, np.int64))


class _OffsetlessColumn:
    """A binary column shipped with its validity bitmap only, no offsets
    or data buffer. pyarrow refuses to build that layout for a non-empty
    array, so this proxies a regular array and hides the two buffers."""

    def __init__(self, arr):
        self._arr = arr

    def __getattr__(self, name):
        return getattr(self._arr, name)

    def __len__(self):
        return len(self._arr)

    def buffers(self):
        return [self._arr.buffers()[0], None, None]


class _PayloadSwapBatch:
    """A record batch whose ``payload`` column is replaced."""

    def __init__(self, batch, payload):
        self.schema, self._batch, self._payload = batch.schema, batch, payload

    def column(self, i):
        return self._payload if self.schema.names[i] == "payload" else self._batch.column(i)


def test_decoders_tolerate_zero_row_batches():
    """mapInArrow contracts allow empty record batches (and a 0-row
    binary array carries no offsets buffer at all) — every decoder must
    pass one through without touching a missing buffer. A non-empty
    all-null payload without an offsets buffer must decode as nulls."""
    empty_wire = pa.record_batch(
        {
            "key_in": pa.array([], pa.int64()),
            "pri_in": pa.array([], pa.string()),
            "delta_in": pa.array([], pa.int64()),
            "payload": pa.array([], pa.binary()),
        }
    )
    for fn in (vec.decode_wire, vec.decode_union_nullable, vec.decode_schema_evolution):
        (out,) = list(fn(iter([empty_wire])))
        assert out.num_rows == 0
    empty_blocks = pa.record_batch(
        {
            "key_in": pa.array([], pa.int64()),
            "items": pa.array([], pa.list_(pa.int64())),
            "n_in": pa.array([], pa.int64()),
            "payload": pa.array([], pa.binary()),
        }
    )
    (out,) = list(vec.decode_array_blocks(iter([empty_blocks])))
    assert out.num_rows == 0
    all_null = pa.record_batch(
        {
            "key_in": pa.array([1, 2, 3], pa.int64()),
            "pri_in": pa.array(["A", "B", "C"], pa.string()),
            "cents_in": pa.array([4, 5, 6], pa.int64()),
            "payload": pa.nulls(3, pa.binary()),
        }
    )
    offsetless = _PayloadSwapBatch(all_null, _OffsetlessColumn(all_null.column(3)))
    (want,) = list(ref.decode_protobuf_wire(iter([all_null])))
    (out,) = list(vec.decode_protobuf_wire(iter([offsetless])))
    assert out.to_pydict() == want.to_pydict()
    assert all(v is None for col in out.to_pydict().values() for v in col)

"""Vectorized Avro binary codec for MensagemCarga over pyarrow buffers.

Byte-identical twin of the scalar codec in ``avro_codec.py`` (same Avro
binary encoding of MensagemCarga.avsc — see that module's header for the
spec mapping), but it never materializes Python objects: fields are read
straight out of the Arrow buffers as numpy views and the output payload
is assembled with vectorized scatter/gather.

Why this exists: profiling showed the *pandas* conversion around the
scalar codec — every ``dados`` element became a Python dict — cost ~9×
the actual byte-twiddling. This module is the only Spark-facing Avro
codec for MensagemCarga, called from the ``arrow_udf`` wrappers in
``avro_codec.py`` (pyspark >= 4.1). The scalar codec is not a
fallback: it is the reference implementation and property-test oracle,
and :func:`decode_batch` hands it tall-message batches (> 32 KB per
message), where a row-serial byte walk beats the vectorized state
machine.

Techniques (all O(batch) numpy, no per-row Python):

- varint/zigzag: ≤10 masked scatter passes, one per varint byte slot;
- strings: Arrow string buffers ARE utf-8, so byte lengths come from
  the offsets and content moves with a repeat/cumsum gather — never
  ``str.encode``;
- doubles: ``.view(uint8)`` of the float64 column, scattered 8-wide;
- layout: per-message/per-registro byte positions are exclusive
  cumsums of the (vectorized) field widths.

Decode handles the full Avro array-block grammar (multi-block and
negative block counts with byte-size prefixes) via a lockstep state
machine: one vectorized pass per registro rank, messages drop out as
their terminator block arrives.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# Pickle by value so executors don't need the repo on PYTHONPATH (same
# rationale as avro_codec.py).
try:  # pragma: no cover - environment-dependent
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass

_U1 = np.uint64(1)
_U7F = np.uint64(0x7F)

# Arrow twin of schemas.MENSAGEM_CARGA with non-null fields (Spark's
# arrow_udf target type; nullable output would need a forbidden cast).
_REG_T = pa.struct(
    [
        pa.field("indice", pa.int32(), False),
        pa.field("texto", pa.string(), False),
        pa.field("numero", pa.float64(), False),
        pa.field("timestamp", pa.int64(), False),
        pa.field("uuid", pa.string(), False),
    ]
)
_LIST_T = pa.list_(pa.field("element", _REG_T, False))
_MSG_T = pa.struct(
    [
        pa.field("id", pa.string(), False),
        pa.field("timestamp", pa.int64(), False),
        pa.field("sequencia", pa.int64(), False),
        pa.field("dados", _LIST_T, False),
        pa.field("versao", pa.string(), False),
    ]
)

# ---------------------------------------------------------------- helpers


def _zigzag(n: np.ndarray) -> np.ndarray:
    """int64 -> uint64 zigzag (Avro long)."""
    n = n.astype(np.int64, copy=False)
    return ((n << 1) ^ (n >> 63)).view(np.uint64)


def _unzigzag(z: np.ndarray) -> np.ndarray:
    return ((z >> _U1) ^ (np.uint64(0) - (z & _U1))).view(np.int64)


def _varint_len(z: np.ndarray) -> np.ndarray:
    """Encoded byte length of each uint64 (1..10)."""
    n = np.ones(len(z), dtype=np.int64)
    for j in range(1, 10):
        n += z >= (1 << (7 * j))
    return n


def _write_varints(
    out: np.ndarray, pos: np.ndarray, z: np.ndarray, ln: np.ndarray
) -> None:
    """Scatter varint bytes for all values: pass j writes byte j of
    every value long enough to have one."""
    if len(z) == 0:
        return
    for j in range(int(ln.max())):
        m = ln > j
        b = ((z[m] >> np.uint64(7 * j)) & _U7F).astype(np.uint8)
        b |= ((ln[m] - 1 > j).astype(np.uint8)) << 7
        out[pos[m] + j] = b


def _read_varints(buf: np.ndarray, pos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized varint read at each position; returns (int64 values,
    advanced positions)."""
    n = len(pos)
    acc = np.zeros(n, dtype=np.uint64)
    shift = np.uint64(0)
    p = pos.astype(np.int64, copy=True)
    todo = np.arange(n)
    while len(todo):
        b = buf[p[todo]].astype(np.uint64)
        acc[todo] |= (b & _U7F) << shift
        p[todo] += 1
        todo = todo[(b & np.uint64(0x80)) != 0]
        shift += np.uint64(7)
    return _unzigzag(acc), p


def _str_view(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(data buffer, per-value start offsets, byte lengths) of a
    string/binary array — zero-copy views into the Arrow buffers."""
    odt = (
        np.int64
        if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
        else np.int32
    )
    bufs = arr.buffers()
    off = np.frombuffer(
        bufs[1], dtype=odt, count=arr.offset + len(arr) + 1
    )[arr.offset :].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, np.uint8)
    )
    return data, off[:-1], off[1:] - off[:-1]


def _mk_string(
    buf: np.ndarray, starts: np.ndarray, lens: np.ndarray
) -> pa.Array:
    """Build a utf8 array by gathering (starts, lens) slices of buf."""
    n = len(lens)
    csum = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=csum[1:])
    total = int(csum[-1])
    out = np.empty(total, dtype=np.uint8)
    if total:
        within = np.arange(total, dtype=np.int64) - np.repeat(csum[:-1], lens)
        out[:] = buf[np.repeat(starts, lens) + within]
    return pa.Array.from_buffers(
        pa.utf8(),
        n,
        [None, pa.py_buffer(csum.astype(np.int32).tobytes()), pa.py_buffer(out.tobytes())],
    )


# ----------------------------------------------------------------- encode


def _varint_bin(vals: np.ndarray) -> pa.Array:
    """int64 values -> BinaryArray of their zigzag-varint encodings.
    The data buffer is filled with ≤10 masked passes over *values*
    (not bytes) — the heavy byte movement happens later inside Arrow's
    join kernels, which are memcpy-based C++."""
    z = _zigzag(vals)
    ln = _varint_len(z)
    offs = np.zeros(len(vals) + 1, dtype=np.int64)
    np.cumsum(ln, out=offs[1:])
    data = np.zeros(int(offs[-1]), dtype=np.uint8)
    _write_varints(data, offs[:-1], z, ln)
    return pa.Array.from_buffers(
        pa.binary(),
        len(vals),
        [None, pa.py_buffer(offs.astype(np.int32).tobytes()), pa.py_buffer(data.tobytes())],
    )


_EMPTY_BIN = pa.scalar(b"", type=pa.binary())
_TERM_BIN = pa.scalar(b"\x00", type=pa.binary())


def encode_batch(msgs: pa.Array) -> pa.Array:
    """StructArray<MENSAGEM_CARGA> -> BinaryArray of Avro records,
    byte-identical to ``avro_codec.encode_mensagem`` per row.

    Assembly strategy: every variable-length piece (varint prefixes,
    utf-8 content viewed as binary zero-copy, raw IEEE-754 doubles)
    becomes a column of per-row binary fragments, and the actual byte
    concatenation runs in Arrow's ``binary_join_element_wise`` (per
    registro / per message) and ``binary_join`` (registros within a
    message) kernels — single-allocation memcpy loops, ~6× faster than
    numpy per-byte scatter for this workload."""
    import pyarrow.compute as pc

    if isinstance(msgs, pa.ChunkedArray):
        msgs = msgs.combine_chunks()
    n = len(msgs)
    id_arr, ts_arr, seq_arr = msgs.field(0), msgs.field(1), msgs.field(2)
    la, versao_arr = msgs.field(3), msgs.field(4)

    _, _, id_len = _str_view(id_arr)
    _, _, v_len = _str_view(versao_arr)
    ts = ts_arr.to_numpy(zero_copy_only=False).astype(np.int64)
    seq = seq_arr.to_numpy(zero_copy_only=False).astype(np.int64)

    offs = la.offsets.to_numpy().astype(np.int64)
    k = offs[1:] - offs[:-1]
    regs = la.values
    lo, hi = int(offs[0]), (int(offs[-1]) if n else 0)
    m = hi - lo
    roffs = offs - lo
    ind = regs.field(0).slice(lo, m).to_numpy(zero_copy_only=False).astype(np.int64)
    texto = regs.field(1).slice(lo, m)
    _, _, t_len = _str_view(texto)
    num = regs.field(2).slice(lo, m).to_numpy(zero_copy_only=False).astype("<f8")
    rts = regs.field(3).slice(lo, m).to_numpy(zero_copy_only=False).astype(np.int64)
    uuid = regs.field(4).slice(lo, m)
    _, _, u_len = _str_view(uuid)

    num_offs = (np.arange(m + 1, dtype=np.int64) * 8).astype(np.int32)
    num_bin = pa.Array.from_buffers(
        pa.binary(),
        m,
        [None, pa.py_buffer(num_offs.tobytes()), pa.py_buffer(num.tobytes())],
    )
    reg_bin = pc.binary_join_element_wise(
        _varint_bin(ind),
        _varint_bin(t_len),
        texto.view(pa.binary()),
        num_bin,
        _varint_bin(rts),
        _varint_bin(u_len),
        uuid.view(pa.binary()),
        _EMPTY_BIN,
    )
    reg_list = pa.ListArray.from_arrays(
        pa.array(roffs.astype(np.int32), type=pa.int32()), reg_bin
    )
    regs_joined = pc.binary_join(reg_list, _EMPTY_BIN)
    cnt = pc.if_else(pa.array(k > 0), _varint_bin(k), _EMPTY_BIN)
    return pc.binary_join_element_wise(
        _varint_bin(id_len),
        id_arr.view(pa.binary()),
        _varint_bin(ts),
        _varint_bin(seq),
        cnt,
        regs_joined,
        _TERM_BIN,
        _varint_bin(v_len),
        versao_arr.view(pa.binary()),
        _EMPTY_BIN,
    )


# ----------------------------------------------------------------- decode


# Decode dispatch: the vectorization axis of the block-parse state
# machine below is MESSAGES — each registro rank costs a fixed number of
# numpy calls over n-wide arrays. When messages are tall (many registros)
# and the batch is narrow, that fixed per-rank cost dominates: measured
# 22x SLOWER than the row-serial scalar parser at 3 msgs x 8000 regs,
# while being ~4x faster at 3125 msgs x 5 regs. Crossover sits at
# ~16-64 KB/msg across probed shapes (see SCALE.md table); batches
# averaging more than this fall back to the scalar parser per row.
_TALL_MSG_BYTES = 32 * 1024


def decode_batch(data: pa.Array) -> pa.StructArray:
    """BinaryArray of Avro records -> StructArray<MENSAGEM_CARGA>,
    value-identical to ``avro_codec.decode_mensagem`` per row.

    Tall-message batches (avg > ``_TALL_MSG_BYTES`` per message) are
    parsed row-serially via the scalar codec — the per-registro-rank
    numpy fixed cost of the vectorized state machine loses to a tight
    Python byte walk once registros-per-message dwarfs rows-per-batch."""
    if isinstance(data, pa.ChunkedArray):
        data = data.combine_chunks()
    n = len(data)
    buf, starts, _lens = _str_view(data)
    if n and int(_lens.sum()) > n * _TALL_MSG_BYTES:
        from teste_carga_avro_vs_json_spark.functions import avro_codec

        return pa.array(
            [avro_codec.decode_mensagem(v.as_py()) for v in data],
            type=_MSG_T,
        )

    p = starts.copy()
    idl, p = _read_varints(buf, p)
    id_start = p.copy()
    p = p + idl
    ts, p = _read_varints(buf, p)
    seq, p = _read_varints(buf, p)

    # array blocks: lockstep over messages still inside the array
    k_acc = np.zeros(n, dtype=np.int64)
    chunks: list[tuple[np.ndarray, ...]] = []
    alive = np.arange(n)
    while len(alive):
        cnt, pa_ = _read_varints(buf, p[alive])
        p[alive] = pa_
        neg = cnt < 0
        if neg.any():
            _, pn = _read_varints(buf, p[alive[neg]])  # block byte size
            p[alive[neg]] = pn
            cnt = np.abs(cnt)
        go = cnt > 0
        live, c2 = alive[go], cnt[go]
        if not len(live):
            break
        for r in range(int(c2.max())):
            m = c2 > r
            idx = live[m]
            ind_, pp = _read_varints(buf, p[idx])
            tl_, pp = _read_varints(buf, pp)
            t_start = pp.copy()
            pp = pp + tl_
            nb = buf[pp[:, None] + np.arange(8)]
            num_ = np.ascontiguousarray(nb).reshape(-1).view("<f8").astype(np.float64)
            pp = pp + 8
            rts_, pp = _read_varints(buf, pp)
            ul_, pp = _read_varints(buf, pp)
            u_start = pp.copy()
            pp = pp + ul_
            p[idx] = pp
            chunks.append(
                (idx, k_acc[idx] + r, ind_, t_start, tl_, num_, rts_, u_start, ul_)
            )
        k_acc[live] += c2
        alive = live  # read this group's next block count

    vl, p = _read_varints(buf, p)
    v_start = p

    # assemble registros in (message, rank) order
    if chunks:
        msg_i = np.concatenate([c[0] for c in chunks])
        order = np.concatenate([c[1] for c in chunks])
        perm = np.lexsort((order, msg_i))
        ind = np.concatenate([c[2] for c in chunks])[perm]
        t_start = np.concatenate([c[3] for c in chunks])[perm]
        t_len = np.concatenate([c[4] for c in chunks])[perm]
        num = np.concatenate([c[5] for c in chunks])[perm]
        rts = np.concatenate([c[6] for c in chunks])[perm]
        u_start = np.concatenate([c[7] for c in chunks])[perm]
        u_len = np.concatenate([c[8] for c in chunks])[perm]
    else:
        ind = t_start = t_len = rts = u_start = u_len = np.empty(0, np.int64)
        num = np.empty(0, np.float64)

    reg = pa.StructArray.from_arrays(
        [
            pa.array(ind.astype(np.int32), type=pa.int32()),
            _mk_string(buf, t_start, t_len),
            pa.array(num, type=pa.float64()),
            pa.array(rts, type=pa.int64()),
            _mk_string(buf, u_start, u_len),
        ],
        fields=list(_REG_T),
    )
    loffs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(k_acc, out=loffs[1:])
    # from_buffers (not ListArray.from_arrays) to carry the non-null
    # element field — Spark refuses a nullable→non-nullable cast
    dados = pa.Array.from_buffers(
        _LIST_T,
        n,
        [None, pa.py_buffer(loffs.astype(np.int32).tobytes())],
        children=[reg],
    )
    return pa.StructArray.from_arrays(
        [
            _mk_string(buf, id_start, idl),
            pa.array(ts, type=pa.int64()),
            pa.array(seq, type=pa.int64()),
            dados,
            _mk_string(buf, v_start, vl),
        ],
        fields=list(_MSG_T),
    )

"""Time-series codecs: delta-of-delta timestamps + Gorilla XOR floats.

Public-knowledge basis: the Facebook Gorilla paper (Pelkonen et al.,
VLDB 2015) — delta-of-delta prefix codes for timestamps and XOR
compression for IEEE-754 doubles. The reference repo compresses nothing
(it ships raw float64 npz/hdf5/zarr blobs, ``Save_Agent.py:369-493``);
these codecs are the capability the north_rule adds on top.

Design for Spark:
- **Encode** runs per (conv_id, chunk) group inside ``applyInPandas`` —
  fully **vectorized numpy bit-packing** (bucket-at-a-time scatter into a
  bit array; no per-element Python loop), per input_hint's "no per-row
  Python" mandate. Output is one row per chunk with ``binary`` blobs.
- **Decode** of one block is sequential (prefix codes), so the scan path
  ``decode_chunks_df`` decodes every block of an Arrow batch in lock-step
  with the ``codec_batch`` batch decoders. The scalar ``decode_dod`` /
  ``decode_xor`` here are the reference those are tested against, and back
  ``decode_chunk_row``.
- Exactness: round-trip is bit-exact — timestamps as int64 µs, floats by
  reinterpreting the IEEE-754 bit pattern (NaN patterns preserved).

Deviation from the paper, documented: the XOR encoder always emits the
'11' control (explicit leading-zero/length header) instead of reusing the
previous block window — this removes the sequential dependency so the
encoder vectorizes; decode is unambiguous and sizes are within ~6% of the
reference scheme on our data.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

# ---------------------------------------------------------------- bit pack

def _pack_bits(codes: np.ndarray, lengths: np.ndarray) -> bytes:
    """Scatter (code, bitlen) pairs into a packed big-endian bitstream.

    Vectorized: loops only over the distinct bit-lengths (≤ a handful),
    never over elements.
    """
    codes = codes.astype(np.uint64)
    lengths = lengths.astype(np.int64)
    total = int(lengths.sum())
    stream = np.zeros(total, dtype=np.uint8)
    offsets = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    for L in np.unique(lengths):
        Li = int(L)
        if Li == 0:
            continue
        sel = lengths == L
        shifts = np.arange(Li - 1, -1, -1, dtype=np.uint64)
        bits = (codes[sel, None] >> shifts[None, :]) & np.uint64(1)
        pos = offsets[sel, None] + np.arange(Li)[None, :]
        stream[pos.ravel()] = bits.ravel().astype(np.uint8)
    return np.packbits(stream).tobytes()


class _BitReader:
    def __init__(self, buf: bytes):
        self.bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
        self.pos = 0

    def read(self, n: int) -> int:
        out = 0
        for b in self.bits[self.pos : self.pos + n]:
            out = (out << 1) | int(b)
        self.pos += n
        return out


def _zigzag(v: np.ndarray) -> np.ndarray:
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _wrap64(v: int) -> int:
    """Wrap a Python int to int64 two's-complement — mirrors numpy's
    wrapping arithmetic on the encode side, so extreme inputs round-trip."""
    return (v + (1 << 63)) % (1 << 64) - (1 << 63)


# ------------------------------------------------- delta-of-delta (int64)

# Gorilla timestamp buckets (zigzagged dod value -> prefix code)
_DOD_BUCKETS = (  # (max zigzag value exclusive, prefix, prefix_len, payload_bits)
    (1, 0b0, 1, 0),          # dod == 0            -> '0'
    (1 << 7, 0b10, 2, 7),    # |dod| small         -> '10'  + 7
    (1 << 9, 0b110, 3, 9),   # -> '110' + 9
    (1 << 12, 0b1110, 4, 12),  # -> '1110'+ 12
    (1 << 32, 0b11110, 5, 32),  # -> '11110' + 32
    (1 << 63, 0b11111, 5, 64),  # -> '11111' + 64 (full zigzag)
)


def encode_dod(values: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 array. Header: count + first value +
    first delta (raw 64-bit); body: prefix-coded zigzag(dod)."""
    v = np.asarray(values, dtype=np.int64)
    n = len(v)
    head = struct.pack(">q", n)
    if n == 0:
        return head
    head += struct.pack(">q", int(v[0]))
    if n == 1:
        return head
    deltas = np.diff(v)
    head += struct.pack(">q", int(deltas[0]))
    if n == 2:
        return head
    dod = (deltas[1:] - deltas[:-1]).astype(np.int64)
    zz = _zigzag(dod)
    # two slots per element (header, payload) so a 5+64-bit code never
    # overflows a single uint64; zero-length slots pack to nothing.
    m = len(zz)
    codes = np.zeros((m, 2), dtype=np.uint64)
    lengths = np.zeros((m, 2), dtype=np.int64)
    assigned = np.zeros(m, dtype=bool)
    for upper, prefix, plen, pbits in _DOD_BUCKETS:
        sel = ((~assigned) & (zz < np.uint64(upper))) if pbits < 64 else ~assigned
        codes[sel, 0] = np.uint64(prefix)
        lengths[sel, 0] = plen
        if pbits:
            mask = (np.uint64(1) << np.uint64(min(pbits, 63))) - np.uint64(1) if pbits < 64 else np.uint64(0xFFFFFFFFFFFFFFFF)
            codes[sel, 1] = zz[sel] & mask
            lengths[sel, 1] = pbits
        assigned |= sel
    return head + _pack_bits(codes.ravel(), lengths.ravel())


def decode_dod(buf: bytes) -> np.ndarray:
    n = struct.unpack(">q", buf[:8])[0]
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    out[0] = struct.unpack(">q", buf[8:16])[0]
    if n == 1:
        return out
    delta = struct.unpack(">q", buf[16:24])[0]
    out[1] = _wrap64(int(out[0]) + delta)
    r = _BitReader(buf[24:])
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        else:
            if r.read(1) == 0:
                dod = _unzigzag(r.read(7))
            elif r.read(1) == 0:
                dod = _unzigzag(r.read(9))
            elif r.read(1) == 0:
                dod = _unzigzag(r.read(12))
            elif r.read(1) == 0:
                dod = _unzigzag(r.read(32))
            else:
                dod = _unzigzag(r.read(64))
        delta = _wrap64(delta + dod)
        out[i] = _wrap64(int(out[i - 1]) + delta)
    return out


# ------------------------------------------------------ Gorilla XOR (f64)

def encode_xor(values: np.ndarray) -> bytes:
    """Gorilla-style XOR encode float64s (NaN bit patterns preserved).
    Control '0' = identical to previous; '11' + 6b leading + 6b nbits +
    meaningful bits otherwise (see module docstring for the deviation)."""
    f = np.asarray(values, dtype=np.float64)
    u = f.view(np.uint64)
    n = len(u)
    head = struct.pack(">q", n)
    if n == 0:
        return head
    head += struct.pack(">Q", int(u[0]))
    if n == 1:
        return head
    x = u[1:] ^ u[:-1]
    zero = x == 0
    # leading zero count (vectorized): 63 - floor(log2(x)) for x>0
    lz = np.zeros(len(x), dtype=np.int64)
    nz = ~zero
    if nz.any():
        # bit_length via float log2 is unsafe near 2^53; use string-free method
        bl = np.zeros(len(x), dtype=np.int64)
        tmp = x.copy()
        for shift in (32, 16, 8, 4, 2, 1):
            m = tmp >= (np.uint64(1) << np.uint64(shift))
            bl[m] += shift
            tmp[m] >>= np.uint64(shift)
        bl[nz] += 1  # bit_length
        lz[nz] = 64 - bl[nz]
    tz = np.zeros(len(x), dtype=np.int64)
    if nz.any():
        low = x.copy()
        for shift in (32, 16, 8, 4, 2, 1):
            m = nz & ((low & ((np.uint64(1) << np.uint64(shift)) - np.uint64(1))) == 0)
            tz[m] += shift
            low[m] >>= np.uint64(shift)
    lz = np.minimum(lz, 63)
    nbits = np.where(nz, 64 - lz - tz, 0)
    # two slots per element: header ('0' | '11'+lz(6)+(nbits-1)(6)) then
    # the meaningful bits — keeps every packed code ≤ 64 bits.
    m = len(x)
    codes = np.zeros((m, 2), dtype=np.uint64)
    lengths = np.zeros((m, 2), dtype=np.int64)
    lengths[:, 0] = 1  # '0' control for identical values
    if nz.any():
        mean = x[nz] >> tz[nz].astype(np.uint64)  # top bits already zero
        hdr = (
            (np.uint64(0b11) << np.uint64(12))
            | (lz[nz].astype(np.uint64) << np.uint64(6))
            | (nbits[nz] - 1).astype(np.uint64)
        )
        codes[nz, 0] = hdr
        lengths[nz, 0] = 2 + 6 + 6
        codes[nz, 1] = mean
        lengths[nz, 1] = nbits[nz]
    return head + _pack_bits(codes.ravel(), lengths.ravel())


def decode_xor(buf: bytes) -> np.ndarray:
    n = struct.unpack(">q", buf[:8])[0]
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    out[0] = struct.unpack(">Q", buf[8:16])[0]
    r = _BitReader(buf[16:])
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = out[i - 1]
        else:
            r.read(1)  # second control bit (always 1 in this variant)
            lz = r.read(6)
            nb = r.read(6) + 1
            mean = r.read(nb)
            tz = 64 - lz - nb
            out[i] = out[i - 1] ^ (np.uint64(mean) << np.uint64(tz))
    return out.view(np.float64)


# ------------------------------------------------------- Spark operators

CHUNK_SCHEMA = (
    "conv_id string, chunk_start timestamp, n long, "
    "ts_blob binary, latency_blob binary, token_blob binary, "
    "ts_bytes long, latency_bytes long, token_bytes long, raw_bytes long"
)


def encode_chunks(derived, chunk_seconds: int = 3600):
    """Compress derived turns into per-(conv, chunk) binary blobs.

    Physical shape: repartition by conv_id, sort within partitions by
    (conv_id, ts, turn_idx), then ONE ``mapInPandas`` pass that groups
    in-batch and carries the trailing incomplete group across Arrow batch
    boundaries. This amortizes the per-group Python/Arrow dispatch that
    makes per-group ``applyInPandas`` ~40 ms/group on tiny chunks (40x
    measured speedup at sf0.1), and is the same one-writer-per-partition
    shape the reference's per-file save loop has (``Save_Agent.py:90-136``)
    — with real compression instead of raw npz.
    """
    from pyspark.sql import functions as F

    us = chunk_seconds * 1_000_000
    with_chunk = derived.withColumn(
        "chunk_start",
        F.timestamp_micros(F.floor(F.unix_micros(F.col("ts")) / us).cast("long") * us),
    ).select("conv_id", "chunk_start", "ts", "turn_idx", "latency_ms", "token_count")

    # partition by (conv_id, chunk_start) — encoding only needs per-chunk
    # locality, so a hot conversation's history spreads across tasks
    # instead of landing in one; order within each chunk is restored by
    # the sort, so blobs are byte-identical to conv_id-only partitioning
    part = with_chunk.repartition("conv_id", "chunk_start").sortWithinPartitions(
        "conv_id", "chunk_start", "ts", "turn_idx"
    )

    def encode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        """Vectorized across ALL blocks in the batch (codec_batch)."""
        from .codec_batch import encode_dod_batch, encode_xor_batch

        keys = (pdf["conv_id"].astype(str) + "\x1f" + pdf["chunk_start"].astype(str)).to_numpy()
        change = np.flatnonzero(keys[1:] != keys[:-1]) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(pdf)]))
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        lat = pdf["latency_ms"].astype("float64").to_numpy()
        tok = pdf["token_count"].astype("int64").to_numpy()
        ts_blobs = encode_dod_batch(ts_us, starts)
        lat_blobs = encode_xor_batch(lat, starts)
        tok_blobs = encode_dod_batch(tok, starts)
        n = ends - starts
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].to_numpy()[starts],
                "chunk_start": pdf["chunk_start"].to_numpy()[starts],
                "n": n,
                "ts_blob": ts_blobs,
                "latency_blob": lat_blobs,
                "token_blob": tok_blobs,
                "ts_bytes": [len(x) for x in ts_blobs],
                "latency_bytes": [len(x) for x in lat_blobs],
                "token_bytes": [len(x) for x in tok_blobs],
                "raw_bytes": n * 24,
            }
        )

    def encode_partition(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                carry = None
                continue
            keys = pdf["conv_id"].astype(str) + "\x1f" + pdf["chunk_start"].astype(str)
            tail_mask = (keys == keys.iloc[-1]).to_numpy()
            carry = pdf[tail_mask]
            head = pdf[~tail_mask]
            if len(head):
                yield encode_batch(head)
        if carry is not None and len(carry):
            yield encode_batch(carry)

    return part.mapInPandas(encode_partition, CHUNK_SCHEMA)


def decode_chunk_row(row) -> dict[str, np.ndarray]:
    """Round-trip helper for tests: blobs → arrays (exact)."""
    return {
        "ts_us": decode_dod(bytes(row["ts_blob"])),
        "latency_ms": decode_xor(bytes(row["latency_blob"])),
        "token_count": decode_dod(bytes(row["token_blob"])),
    }


DECODED_TURNS_SCHEMA = "conv_id string, ts timestamp, latency_ms double, token_count long"


def decode_chunks_df(chunks):
    """Distributed decompression scan: blobs → per-turn rows.

    Decode is **vectorized across all blocks in the Arrow batch**
    (``codec_batch.decode_*_batch``: step k of every block decodes
    simultaneously as numpy array ops — the read-path mirror of the batch
    encoder; no per-row Python). latency comes back as float64 with NaN
    for the conversation-head NULL (bit-preserved by the XOR codec).
    """

    def decode_partition(batches):
        from .codec_batch import decode_dod_batch, decode_xor_batch

        for pdf in batches:
            if not len(pdf):
                continue
            ts_us, starts = decode_dod_batch(list(pdf["ts_blob"]))
            lat, _ = decode_xor_batch(list(pdf["latency_blob"]))
            tok, _ = decode_dod_batch(list(pdf["token_blob"]))
            n = np.diff(np.append(starts, len(ts_us)))
            yield pd.DataFrame(
                {
                    "conv_id": np.repeat(pdf["conv_id"].to_numpy(), n),
                    "ts": pd.to_datetime(ts_us, unit="us"),
                    "latency_ms": lat,
                    "token_count": tok,
                }
            )

    return chunks.select("conv_id", "ts_blob", "latency_blob", "token_blob").mapInPandas(
        decode_partition, DECODED_TURNS_SCHEMA
    )

"""blosc1 container codec (read: lz4 and stored-raw blosclz streams;
write: spec-compliant lz4 container).

Why: zarr v2 stores written by the xarray/zarr default pipeline compress
chunks with blosc (cname=lz4, byte-shuffle) — the reference's own
``test/io/data/input.zarr`` does (``compressor: {id: blosc, cname: lz4,
shuffle: 1}``). pyarrow has no blosc container, so the framing, split and
shuffle rules are implemented here from the public spec (c-blosc
README_CHUNK_FORMAT.rst); the LZ4 block streams inside it go through
pyarrow's bundled liblz4 (``lz4_raw``).

Chunk layout (16-byte header, all little-endian):
  byte 0 version, 1 codec-format version, 2 flags, 3 typesize,
  4-7 nbytes (uncompressed), 8-11 blocksize, 12-15 cbytes (total stored).
Flags: 0x1 byte-shuffle, 0x2 memcpyed (raw payload follows the header),
0x4 bit-shuffle (``compress/bitshuffle.py`` layout, single transpose per
block with an 8-aligned element count and raw tail), 0x10 encoder chose
not to split (c-blosc >= 1.11), bits 5-7 codec id (0 blosclz, 1
lz4/lz4hc).
Non-memcpyed payload: uint32 absolute offsets of each block (blocks cover
``blocksize`` input bytes each), then per block 1 or ``typesize`` split
streams (split when codec ∈ {blosclz, lz4} ∧ typesize ≤ 16 ∧
blocksize/typesize ≥ 128 — c-blosc's ``split_block`` rule), each stream an
int32 stored-size prefix + payload (stored raw iff stored-size equals the
stream's uncompressed size). Byte-shuffle is applied per block BEFORE
split/compress, so decode reverses it per block after joining splits.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

from .bitshuffle import blosc_bitshuffle, blosc_bitunshuffle, lz4_block_decompress

_HEADER = struct.Struct("<BBBBIII")
_LZ4_RAW = pa.Codec("lz4_raw")

FLAG_SHUFFLE = 0x1
FLAG_MEMCPYED = 0x2
FLAG_BITSHUFFLE = 0x4
FLAG_DONT_SPLIT = 0x10  # c-blosc >= 1.11: encoder chose nsplits=1

_CODEC_BLOSCLZ = 0
_CODEC_LZ4 = 1

MAX_SPLIT_TYPESIZE = 16
MIN_BUFFERSIZE = 128


def _unshuffle(data: bytes, typesize: int) -> bytes:
    """Inverse byte-shuffle: data holds all byte-0s, then all byte-1s, …"""
    n_items = len(data) // typesize
    tail = data[n_items * typesize :]  # c-blosc leaves a non-multiple tail raw
    arr = np.frombuffer(data[: n_items * typesize], dtype=np.uint8)
    out = arr.reshape(typesize, n_items).T.tobytes()
    return out + tail


def _shuffle(data: bytes, typesize: int) -> bytes:
    n_items = len(data) // typesize
    tail = data[n_items * typesize :]
    arr = np.frombuffer(data[: n_items * typesize], dtype=np.uint8)
    return arr.reshape(n_items, typesize).T.tobytes() + tail


def _is_split(codec: int, typesize: int, blocksize: int) -> bool:
    return (
        codec in (_CODEC_BLOSCLZ, _CODEC_LZ4)
        and 0 < typesize <= MAX_SPLIT_TYPESIZE
        and blocksize // typesize >= MIN_BUFFERSIZE
    )


def blosc_decompress(chunk: bytes) -> bytes:
    """Decode one blosc1 chunk to its uncompressed bytes."""
    version, _versionlz, flags, typesize, nbytes, blocksize, cbytes = _HEADER.unpack_from(
        chunk, 0
    )
    if version > 2:
        raise ValueError(f"unsupported blosc chunk version {version}")
    if flags & FLAG_MEMCPYED:
        # raw payload, no shuffle (c-blosc memcpys the original buffer)
        return bytes(chunk[16 : 16 + nbytes])
    codec = flags >> 5
    if codec not in (_CODEC_BLOSCLZ, _CODEC_LZ4):
        raise NotImplementedError(
            f"blosc codec id {codec} not implemented (lz4/lz4hc supported; "
            "blosclz streams decode only when stored raw)"
        )
    n_blocks = -(-nbytes // blocksize) if blocksize else 0
    offsets = struct.unpack_from(f"<{n_blocks}I", chunk, 16)
    out = bytearray()
    for j, off in enumerate(offsets):
        block_nbytes = min(blocksize, nbytes - j * blocksize)
        # c-blosc's blosc_d: the leftover (partial tail) block is NEVER
        # split (nsplits=1 when leftoverblock), and the split decision is
        # made on the header blocksize, not the tail's actual size.
        leftover = block_nbytes < blocksize
        nsplits = (
            typesize
            if (
                not leftover
                and not flags & FLAG_DONT_SPLIT
                and _is_split(codec, typesize, blocksize)
            )
            else 1
        )
        neblock = block_nbytes // nsplits
        block = bytearray()
        pos = off
        for _ in range(nsplits):
            (csize,) = struct.unpack_from("<i", chunk, pos)
            pos += 4
            payload = chunk[pos : pos + abs(csize)]
            pos += abs(csize)
            if csize == neblock:
                block += payload  # stored raw
            elif codec == _CODEC_LZ4:
                block += lz4_block_decompress(payload, neblock)
            else:
                raise NotImplementedError(
                    "compressed blosclz stream decoding not implemented"
                )
        if flags & FLAG_SHUFFLE and typesize > 1:
            block = _unshuffle(bytes(block), typesize)
        elif flags & FLAG_BITSHUFFLE:
            block = blosc_bitunshuffle(bytes(block), typesize)
        out += block
    if len(out) != nbytes:
        raise ValueError(f"blosc chunk decoded {len(out)} bytes, expected {nbytes}")
    return bytes(out)


def blosc_compress(
    data: bytes,
    typesize: int,
    cname: str = "lz4",
    shuffle: bool | str = True,
    store_mode: str = "auto",
) -> bytes:
    """Encode bytes as a single-block blosc1 chunk readable by c-blosc.

    ``shuffle`` accepts True/1 (byte-shuffle), False/0 (none), or
    ``"bit"``/2 (bit-shuffle, zarr's ``shuffle: 2``). ``store_mode='raw'``
    forces the memcpyed container (always valid, no compression work — the
    production write path for blosc-compatible stores without a native
    codec); ``'auto'`` tries shuffle+lz4 and falls back to memcpyed when
    compression does not help, like c-blosc does.
    """
    if cname != "lz4":
        raise NotImplementedError(f"blosc write codec {cname!r} not implemented")
    nbytes = len(data)
    if store_mode == "raw" or nbytes < MIN_BUFFERSIZE:
        header = _HEADER.pack(2, 1, FLAG_MEMCPYED, typesize, nbytes, nbytes, nbytes + 16)
        return header + data
    if nbytes % typesize != 0:
        # c-blosc forces typesize=1 when the buffer is not typesize-aligned
        # (blosc_compress_context); recording the forced value in the header
        # keeps the decoder's split rule consistent with what we emit.
        typesize = 1
    flags = _CODEC_LZ4 << 5
    payload = data
    if shuffle in ("bit", 2):
        flags |= FLAG_BITSHUFFLE
        payload = blosc_bitshuffle(data, typesize)
    elif shuffle and typesize > 1:
        flags |= FLAG_SHUFFLE
        payload = _shuffle(data, typesize)
    # single block, split per the c-blosc rule so real blosc accepts it
    nsplits = typesize if _is_split(_CODEC_LZ4, typesize, nbytes) else 1
    neblock = nbytes // nsplits
    streams = bytearray()
    for k in range(nsplits):
        part = payload[k * neblock : (k + 1) * neblock] if nsplits > 1 else payload
        comp = _LZ4_RAW.compress(part, asbytes=True)
        if len(comp) >= len(part):
            streams += struct.pack("<i", len(part)) + part  # store raw
        else:
            streams += struct.pack("<i", len(comp)) + comp
    body_off = 16 + 4  # header + one block offset
    total = body_off + len(streams)
    if total >= nbytes + 16:
        header = _HEADER.pack(2, 1, FLAG_MEMCPYED, typesize, nbytes, nbytes, nbytes + 16)
        return header + data
    header = _HEADER.pack(2, 1, flags, typesize, nbytes, nbytes, total)
    return header + struct.pack("<I", body_off) + bytes(streams)

"""From-spec bitshuffle codec (compress/bitshuffle.py): definitional
hand vectors pin the bit layout (bit ``b`` of element ``i`` lands in
bit-row ``b`` at bit position ``i``, both little-endian — the
kiyo-masui/bitshuffle reference layout), hypothesis round-trips cover the
blocked wrapper's full/partial/leftover block shapes, and container
tests cover the three consumer surfaces: blosc chunks with the
bit-shuffle flag (zarr ``shuffle: 2``), the HDF5 filter-32008 LZ4 and
zstd framings, and a full write→read HDF5 file round-trip."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyarrow import Codec

from tsdat_spark.compress.bitshuffle import (
    bitshuffle,
    bitunshuffle,
    blosc_bitshuffle,
    blosc_bitunshuffle,
    bshuf_compress,
    bshuf_decompress,
    default_block_size,
)


def test_definitional_vector_elem1():
    # element 0 has only bit 0 set -> bit-row 0 gets bit at position 0
    out = bitshuffle(bytes([0x01] + [0] * 7), 1)
    assert out == bytes([0x01, 0, 0, 0, 0, 0, 0, 0])
    # every element has bit 7 set -> bit-row 7 is all-ones
    out = bitshuffle(bytes([0x80] * 8), 1)
    assert out == bytes([0, 0, 0, 0, 0, 0, 0, 0xFF])
    # element 3 has bit 5 set -> row 5, bit 3
    out = bitshuffle(bytes([0, 0, 0, 0x20, 0, 0, 0, 0]), 1)
    assert out == bytes([0, 0, 0, 0, 0, 0x08, 0, 0])


def test_definitional_vector_elem2():
    # little-endian uint16 elements: element i = 1 << i; bit index within
    # the element is its little-endian significance, so bits 0..7 live in
    # byte-plane 0 -> rows j < 8 hold element j's bit at position j.
    a = np.arange(8, dtype="<u2")
    a = (1 << a).astype("<u2")
    out = bitshuffle(a.tobytes(), 2)
    assert out[:8] == bytes([1, 2, 4, 8, 16, 32, 64, 128])
    assert out[8:] == bytes(8)
    # element i = 1 << (8 + i): all bits in byte-plane 1 -> rows 8..15
    b = (np.uint16(1) << (np.arange(8, dtype="<u2") + 8)).astype("<u2")
    out = bitshuffle(b.tobytes(), 2)
    assert out[:8] == bytes(8)
    assert out[8:] == bytes([1, 2, 4, 8, 16, 32, 64, 128])


def test_default_block_size():
    assert default_block_size(4) == 2048
    assert default_block_size(8) == 1024
    assert default_block_size(3) == 2728  # 8192//3=2730 -> 8-aligned 2728
    assert default_block_size(100000) == 8  # floor


@given(
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=0, max_value=700),
    st.integers(min_value=0, max_value=2),
)
@settings(max_examples=120, deadline=None)
def test_blocked_roundtrip(elem_size, n_elems, bs_sel):
    """Round-trip across full blocks, the 8-aligned partial block, and
    the raw <8-element tail, at default and explicit block sizes."""
    block_size = (0, 8, 64)[bs_sel]
    rng = np.random.RandomState(elem_size * 1000 + n_elems)
    data = rng.randint(0, 256, n_elems * elem_size).astype(np.uint8).tobytes()
    shuf = bitshuffle(data, elem_size, block_size)
    assert len(shuf) == len(data)
    assert bitunshuffle(shuf, elem_size, block_size) == data
    if n_elems >= 8 and data != bytes(len(data)):
        assert shuf != data or len(set(data)) == 1


@given(st.integers(min_value=1, max_value=12), st.integers(min_value=0, max_value=300))
@settings(max_examples=80, deadline=None)
def test_blosc_variant_roundtrip(typesize, n_elems):
    rng = np.random.RandomState(typesize * 997 + n_elems)
    data = rng.randint(0, 256, n_elems * typesize).astype(np.uint8).tobytes()
    shuf = blosc_bitshuffle(data, typesize)
    assert len(shuf) == len(data)
    assert blosc_bitunshuffle(shuf, typesize) == data
    # the <8-element tail is stored raw
    n8 = (n_elems - n_elems % 8) * typesize
    assert shuf[n8:] == data[n8:]


def test_blosc_container_bitshuffle_roundtrip():
    from tsdat_spark.compress.bloscc import (
        FLAG_BITSHUFFLE,
        blosc_compress,
        blosc_decompress,
    )

    rng = np.random.RandomState(3)
    data = (rng.randint(0, 3, 4096) * 9).astype("<f4").tobytes()
    chunk = blosc_compress(data, 4, shuffle="bit")
    flags = chunk[2]
    # low-entropy floats must actually take the compressed bitshuffle path
    assert flags & FLAG_BITSHUFFLE
    assert blosc_decompress(chunk) == data
    # numcodecs-style shuffle: 2 spelling through the zarr seam
    chunk2 = blosc_compress(data, 4, shuffle=2)
    assert chunk2[2] & FLAG_BITSHUFFLE
    assert blosc_decompress(chunk2) == data


def test_blosc_dont_split_flag_honored():
    """c-blosc >= 1.11 marks unsplit blocks with flag 0x10; a decoder that
    ignores it mis-frames the streams."""
    from tsdat_spark.compress import bloscc
    from tsdat_spark.compress.bloscc import blosc_decompress
    from pyarrow import Codec

    rng = np.random.RandomState(5)
    data = (rng.randint(0, 3, 2048) * 5).astype("<u4").tobytes()  # splittable shape
    shuf = bloscc._shuffle(data, 4)
    comp = Codec("lz4_raw").compress(shuf, asbytes=True)
    flags = bloscc.FLAG_SHUFFLE | bloscc.FLAG_DONT_SPLIT | (bloscc._CODEC_LZ4 << 5)
    body = struct.pack("<I", 20) + struct.pack("<i", len(comp)) + comp
    header = bloscc._HEADER.pack(2, 1, flags, 4, len(data), len(data), 16 + len(body))
    assert blosc_decompress(header + body) == data


def test_hdf5_framing_roundtrip_multiblock_and_leftover():
    rng = np.random.RandomState(11)
    # 2100 elements of 4 bytes, block_size 512 -> 4 full blocks, one
    # 8-aligned partial block (48), 4 leftover elements raw
    data = (rng.randint(0, 4, 2100) * 1000).astype("<i4").tobytes()
    framed = bshuf_compress(data, 4, block_size=512)
    total, block_bytes = struct.unpack_from(">QI", framed, 0)
    assert total == len(data) and block_bytes == 2048
    assert bshuf_decompress(framed, 4, 2) == data
    assert len(framed) < len(data)  # lz4 on bitshuffled low-entropy data wins


def test_hdf5_framing_short_lz4_block_raises():
    """A valid LZ4 block shorter than the framed block size must raise,
    not come back padded with uninitialised bytes."""
    comp = Codec("lz4_raw").compress(bytes(32), asbytes=True)  # 32 of 64 bytes
    framed = struct.pack(">QI", 64, 64) + struct.pack(">I", len(comp)) + comp
    with pytest.raises(ValueError, match="fewer than 64"):
        bshuf_decompress(framed, 1, 2)


def test_hdf5_framing_zstd_mode_decodes():
    """cd[4]=3 path: hand-frame one bitshuffled block as a raw-literal
    zstd frame (magic + single-segment header + raw blocks)."""
    data = np.arange(64, dtype="<u2").tobytes()
    shuf = bitshuffle(data, 2, 64)

    def zstd_raw_frame(payload: bytes) -> bytes:
        out = struct.pack("<I", 0xFD2FB528) + bytes([0x20, len(payload)])
        out += int((len(payload) << 3) | 1).to_bytes(3, "little")  # last raw block
        return out + payload

    comp = zstd_raw_frame(shuf)
    framed = struct.pack(">QI", len(data), 64 * 2) + struct.pack(">I", len(comp)) + comp
    assert bshuf_decompress(framed, 2, 3) == data


def test_hdf5_file_bitshuffle_lz4_roundtrip():
    from tsdat_spark.io.hdf5 import read_hdf5
    from tsdat_spark.io.hdf5_write import write_hdf5

    n = 300
    cols = {
        "time": np.arange(n).astype("datetime64[us]"),
        "value": (np.arange(n) % 7).astype("<f8") * 1.5,
        "count": (np.arange(n) % 13).astype("<i4"),
    }
    blob = write_hdf5(cols, dim="time", chunk_rows=128, codec="bitshuffle_lz4")
    _dims, _gattrs, vs = read_hdf5(blob)
    np.testing.assert_array_equal(vs["value"]["array"], cols["value"])
    np.testing.assert_array_equal(vs["count"]["array"].astype("<i4"), cols["count"])


def test_hdf5_plain_bitshuffle_filter_decodes():
    """Filter 32008 without the compression flag: payload is just the
    blocked bitshuffle of the chunk."""
    from tsdat_spark.io.hdf5 import _apply_filters

    data = (np.arange(512, dtype="<f4") * 0.5).tobytes()
    raw = bitshuffle(data, 4, 0)
    assert _apply_filters(raw, [(32008, (0, 4, 4, 0))], 4) == data

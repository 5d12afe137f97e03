"""Zstandard frames (RFC 8878) through pyarrow's bundled libzstd.

The zarr v2/v3 ``zstd`` codec, the HDF5 zstd filter (32015) and the
bitshuffle filter's zstd framing all read and write through these two
functions. Decoding streams, so it needs no size hint: concatenated and
skippable frames, frames without a content size, and content checksums
all decode.
"""

from __future__ import annotations

import pyarrow as pa

_ZSTD = pa.Codec("zstd")


def zstd_compress(data: bytes) -> bytes:
    """Encode ``data`` as one zstd frame at libzstd's default level."""
    return _ZSTD.compress(data, asbytes=True)


def zstd_decompress(data: bytes) -> bytes:
    """Decode one or more concatenated zstd frames. A bad magic number, a
    truncated frame or a checksum mismatch raises ``ValueError``; a frame
    that needs a dictionary raises ``NotImplementedError``."""
    try:
        return pa.CompressedInputStream(pa.BufferReader(data), "zstd").read()
    except OSError as e:
        if "Dictionary mismatch" in str(e):
            raise NotImplementedError("zstd dictionaries are not supported") from e
        if "Unknown frame descriptor" in str(e):
            raise ValueError("zstd: bad magic number") from e
        raise ValueError(f"zstd: {e}") from e

"""Block codecs for Avro containers and Puffin blobs.

``deflate``/``bzip2``/``xz`` come from the stdlib; ``snappy`` and
``zstandard`` from the snappy and libzstd builds that pyarrow links.
Names follow the Avro spec; Puffin's ``zstd`` is ``zstandard`` here.
"""

from __future__ import annotations

import bz2
import lzma
import zlib

#: Avro object-container codec names this engine reads and writes
AVRO_CODECS = ("null", "deflate", "snappy", "bzip2", "xz", "zstandard")


class CodecError(ValueError):
    """A block that does not decode under its declared codec."""


def compress(codec: str, data: bytes) -> bytes:
    if codec == "null":
        return data
    if codec == "deflate":
        return zlib.compress(data)[2:-4]  # raw deflate: no header/adler
    if codec == "bzip2":
        return bz2.compress(data)
    if codec == "xz":
        return lzma.compress(data, format=lzma.FORMAT_XZ)
    if codec == "snappy":
        import pyarrow as pa

        return pa.Codec("snappy").compress(data, asbytes=True)
    if codec == "zstandard":
        import pyarrow as pa

        return pa.Codec("zstd").compress(data, asbytes=True)
    raise ValueError(f"unsupported codec {codec!r}")


def _snappy_length(data: bytes) -> int:
    """The uncompressed length from a snappy stream's varint preamble
    (at most 5 bytes). A corrupt preamble may claim anything, so a
    length no stream of this size could expand to is refused here,
    before it becomes an allocation."""
    n = 0
    for i, b in enumerate(data[:5]):
        n |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            if n > 32 * len(data):  # a 3-byte copy emits <= 64 bytes
                raise OSError(f"preamble declares {n} bytes")
            return n
    raise OSError("preamble is not a varint")


def decompress(codec: str, data: bytes) -> bytes:
    """``data`` decoded under ``codec``; every corrupt, truncated or
    empty compressed block raises :class:`CodecError` naming the codec."""
    if codec == "null":
        return data
    if codec not in AVRO_CODECS:
        raise ValueError(f"unsupported codec {codec!r}")
    if not data:
        raise CodecError(f"{codec}: empty input")
    try:
        if codec == "deflate":
            return zlib.decompress(data, -15)
        if codec == "bzip2":
            return bz2.decompress(data)
        if codec == "xz":
            return lzma.decompress(data)
        import pyarrow as pa

        if codec == "snappy":
            return pa.Codec("snappy").decompress(
                data, decompressed_size=_snappy_length(data), asbytes=True
            )
        # a stream, not Codec.decompress: frames may omit their content
        # size, and a blob may hold several frames
        return pa.CompressedInputStream(pa.BufferReader(data), "zstd").read()
    except (OSError, ValueError, zlib.error, lzma.LZMAError) as e:
        raise CodecError(f"{codec}: {e}") from e

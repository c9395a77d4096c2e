"""Little-endian byte-layout helpers matching the reference serde.

Reference layouts (all little-endian — /root/reference/filter/utils.go:5-21):
  Bloom : u32 M | u32 K | u64 Seed | (M>>6)+1 × u64 words
          (/root/reference/filter/bloom/filter.go:63-92; the +1 spare word is
           quirk Q4, filter.go:29,82)
  Cuckoo: u32 M | u64 FpSeed | u64 Seed | M×4 fingerprint bytes
          (/root/reference/filter/cuckoo/filter.go:143-179)

Engine-side sketches that have no reference layout (blocked-bloom — the
reference cannot persist it — HLL, CMS, KLL, t-digest) use the same LE
header discipline with an explicit kind tag.
"""

from __future__ import annotations

import struct

import numpy as np


def pack_u32(v: int) -> bytes:
    return struct.pack("<I", v)


def pack_u64(v: int) -> bytes:
    return struct.pack("<Q", v & 0xFFFFFFFFFFFFFFFF)


def pack_f64(v: float) -> bytes:
    return struct.pack("<d", v)


class Reader:
    """Sequential little-endian reader over a bytes blob.  Every read past
    the blob's end raises ValueError (a truncated blob is a bad blob)."""

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.pos = 0

    def _take(self, nbytes: int) -> int:
        """→ the offset of the next ``nbytes`` bytes, consumed."""
        pos = self.pos
        if pos + nbytes > len(self.buf):
            raise ValueError(f"blob ends at byte {len(self.buf)}, inside its "
                             f"layout (a read needs {pos + nbytes} bytes)")
        self.pos = pos + nbytes
        return pos

    def u32(self) -> int:
        return struct.unpack_from("<I", self.buf, self._take(4))[0]

    def u64(self) -> int:
        return struct.unpack_from("<Q", self.buf, self._take(8))[0]

    def f64(self) -> float:
        return struct.unpack_from("<d", self.buf, self._take(8))[0]

    def array(self, dtype, count: int) -> np.ndarray:
        dt = np.dtype(dtype)
        return np.frombuffer(self.buf, dtype=dt, count=count,
                             offset=self._take(dt.itemsize * count)).copy()

    def end(self) -> None:
        """Refuse bytes past the layout: a blob must end where its last
        field does (two blobs joined end to end would read as the first)."""
        if self.pos != len(self.buf):
            raise ValueError(f"blob has {len(self.buf) - self.pos} bytes past "
                             f"its {self.pos}-byte layout")

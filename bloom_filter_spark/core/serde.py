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
    """Sequential little-endian reader over a bytes blob."""

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.pos = 0

    def u32(self) -> int:
        (v,) = struct.unpack_from("<I", self.buf, self.pos)
        self.pos += 4
        return v

    def u64(self) -> int:
        (v,) = struct.unpack_from("<Q", self.buf, self.pos)
        self.pos += 8
        return v

    def f64(self) -> float:
        (v,) = struct.unpack_from("<d", self.buf, self.pos)
        self.pos += 8
        return v

    def array(self, dtype, count: int) -> np.ndarray:
        dt = np.dtype(dtype)
        nbytes = dt.itemsize * count
        arr = np.frombuffer(self.buf, dtype=dt, count=count, offset=self.pos).copy()
        self.pos += nbytes
        return arr

    def end(self) -> None:
        """Refuse bytes past the layout: a blob must end where its last
        field does (two blobs joined end to end would read as the first)."""
        if self.pos != len(self.buf):
            raise ValueError(f"blob has {len(self.buf) - self.pos} bytes past "
                             f"its {self.pos}-byte layout")

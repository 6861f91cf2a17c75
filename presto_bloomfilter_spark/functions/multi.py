"""MultiSketch: several sketches built from one scan, merged elementwise.

The reference runs one aggregation per sketch because Presto plans each
UDAF separately.  In Spark dataflow the scan is the dominant cost of a
sketch build (parquet decode + transport dwarf the vectorized kernels),
so building the whole sketch family — bloom membership, CMS frequency,
HLL cardinality — in a single pass over the tokens column is the
natural fusion: one scan, one dedup pass, k sketch flushes.  MultiSketch
is the value that makes that fusion fit the existing partial/merge/
serialize protocol unchanged (operators/aggregate.py): it serializes as
one PBFS blob (kind 5) whose payload is the length-prefixed child blobs,
and merges by zipping children pairwise — still associative and
commutative because every child merge is.
"""

from __future__ import annotations

import struct

from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.hashing import takes_counts

_LEN = struct.Struct("<I")


class MultiSketch(ser.Sketch, kind=ser.KIND_MULTI):
    takes_counts = True

    def __init__(self, parts: list):
        if not parts:
            raise ValueError("MultiSketch needs at least one part")
        self.parts = list(parts)

    def add_ints(self, values, counts=None):
        for p in self.parts:
            if takes_counts(p):
                p.add_ints(values, counts=counts)
            else:  # unweighted sketch (bloom/HLL): counts moot
                p.add_ints(values)
        return self

    def add_strings(self, values):
        for p in self.parts:
            p.add_strings(values)
        return self

    def _geometry(self) -> tuple:
        return tuple((p.KIND, p._geometry()) for p in self.parts)

    def _merge(self, other: "MultiSketch") -> "MultiSketch":
        # the parts' kinds and geometries are this sketch's geometry
        for a, b in zip(self.parts, other.parts):
            a._merge(b)
        return self

    def _state(self) -> tuple[dict, bytes]:
        chunks = []
        for p in self.parts:
            b = p.to_bytes()
            chunks.append(_LEN.pack(len(b)))
            chunks.append(b)
        return {"n": len(self.parts)}, b"".join(chunks)

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "MultiSketch":
        parts = []
        off = 0
        for _ in range(int(params["n"])):
            (ln,) = _LEN.unpack_from(payload, off)
            off += _LEN.size
            parts.append(ser.sketch_from_bytes(payload[off : off + ln]))
            off += ln
        return cls(parts)

    def __repr__(self) -> str:
        return f"MultiSketch({', '.join(type(p).__name__ for p in self.parts)})"

"""Versioned, self-describing binary wire format for all sketches.

The reference serializes its filter as ``sha256 | sizes | params | gzip
(java-serialized bitsets)`` (reference BloomFilter.java:43-50,315-382)
and uses the leading sha256 as a deserialization-cache key
(BloomFilterScalarFunctions.java:46-61).  We keep the *contract* — a
self-describing byte blob whose params are readable without decoding the
payload, with a content hash prefix usable as a cache key — but define a
clean little-endian layout:

    offset  field
    0..3    magic  b"PBFS"
    4..5    u16    format version (1)
    6       u8     sketch kind (1=bloom 2=hll 3=cms 4=kll 5=multi)
    7       u8     flags (bit0: payload is zlib-compressed;
                           bit1: by-reference, see below)
    8..39   sha256 of the *uncompressed* payload  (cache key)
    40..43  u32    params JSON length
    44..47  u32    stored payload length
    48..    params JSON (utf-8)  |  payload bytes

Compression is optional and measured, not assumed: near-capacity bloom
bitsets are incompressible (reference gzips unconditionally and pays
~20 ms per round trip, TestBloomFilterSerialization.java:59,74); we
compress only when it actually shrinks the payload.

A *by-reference* blob has the header and params of a full blob (so its
kind, params and content digest read as the full blob's) with the
by-reference flag set, and as its payload the name
``<sha256 of the full blob>.sketch`` of a file shipped to the Spark
application with ``SparkContext.addFile`` (``compat.publish_sketch_view``
ships it).  It is what a SQL probe carries per row in place of the
filter, the way the reference passes its Slice by reference.
:func:`decode` resolves one through ``SparkFiles``; it is never written
to a store, a checkpoint or a sketch table.
"""

from __future__ import annotations

import hashlib
import json
import struct
import zlib

MAGIC = b"PBFS"
VERSION = 1
_HEADER = struct.Struct("<4sHBB32sII")
_FLAG_ZLIB = 1
_FLAG_REF = 2

KIND_BLOOM = 1
KIND_HLL = 2
KIND_CMS = 3
KIND_KLL = 4
KIND_MULTI = 5
KIND_TDIGEST = 6
KIND_THETA = 7
KIND_MOMENTS = 8
KIND_MG = 9
KIND_SBBF = 10
KIND_CBF = 11
KIND_XOR = 12
KIND_DDSKETCH = 13
KIND_COUNTSKETCH = 14
KIND_FD = 15
KIND_GRAM = 16

_REGISTRY: dict[int, type] = {}


def register_kind(kind: int):
    def deco(cls):
        _REGISTRY[kind] = cls
        cls.KIND = kind
        return cls

    return deco


def encode(kind: int, params: dict, payload: bytes, compress: str = "auto") -> bytes:
    digest = hashlib.sha256(payload).digest()
    flags = 0
    stored = payload
    if compress in ("auto", "always"):
        z = zlib.compress(payload, 1)
        if compress == "always" or len(z) < len(payload):
            stored, flags = z, _FLAG_ZLIB
    pjson = json.dumps(params, sort_keys=True, separators=(",", ":")).encode()
    head = _HEADER.pack(MAGIC, VERSION, kind, flags, digest, len(pjson), len(stored))
    return head + pjson + stored


def decode(buf: bytes) -> tuple[int, dict, bytes]:
    """Full decode → (kind, params, uncompressed payload); a
    by-reference blob decodes as the full blob it names."""
    kind, flags, _, pjson, stored = _split(_full_blob(buf))
    payload = zlib.decompress(stored) if flags & _FLAG_ZLIB else stored
    return kind, json.loads(pjson), payload


def _by_reference(blob: bytes) -> tuple[str, bytes]:
    """``(name, reference)`` for the full blob ``blob``: ``name`` is
    its content address ``<sha256 hex>.sketch``, the file name the
    caller ships it under, and ``reference`` the by-reference blob
    naming it (119 bytes plus the params)."""
    kind, _, digest, pjson, _ = _split(blob)
    name = hashlib.sha256(blob).hexdigest() + ".sketch"
    head = _HEADER.pack(MAGIC, VERSION, kind, _FLAG_REF, digest, len(pjson), len(name))
    return name, head + pjson + name.encode("ascii")


def _as_blob(sketch) -> bytes:
    """The full blob of a sketch object or of blob bytes."""
    return sketch.to_bytes() if hasattr(sketch, "to_bytes") else _full_blob(bytes(sketch))


def _full_blob(buf: bytes) -> bytes:
    """``buf`` itself, or for a by-reference blob the full blob it
    names, read from the file shipped under that name
    (``SparkFiles.get`` finds it on the driver and on every executor).
    The one place a reference is resolved: :func:`decode` and every
    function that returns or persists blob bytes call it."""
    if len(buf) < _HEADER.size or buf[:4] != MAGIC or not buf[7] & _FLAG_REF:
        return buf
    _, _, digest, _, name = _split(buf)
    from pyspark import SparkFiles

    try:
        with open(SparkFiles.get(name.decode("ascii")), "rb") as f:
            full = f.read()
    except FileNotFoundError as e:
        raise FileNotFoundError(
            f"by-reference sketch {name.decode('ascii')} is not shipped to this "
            f"Spark application; publish it with compat.publish_sketch_view") from e
    if read_hash(full) != digest:
        raise ValueError(f"shipped sketch {name.decode('ascii')} does not match its reference")
    return full


def _unpack_header(buf: bytes):
    try:
        return _HEADER.unpack_from(buf, 0)
    except struct.error as e:
        raise ValueError("not a PBFS sketch blob (truncated header)") from e


def read_hash(buf: bytes) -> bytes:
    """Read the 32-byte content hash without decoding the payload
    (reference parity: BloomFilter.readHash, BloomFilter.java:409-415)."""
    magic, ver, _, _, digest, _, _ = _unpack_header(buf)
    _check(magic, ver)
    return digest


def read_params_length(buf: bytes) -> int:
    """Length of the params-json section, from the header alone — lets
    callers slice the identity prefix (header + params) of a blob
    without touching the payload bytes."""
    magic, ver, _, _, _, plen, _ = _unpack_header(buf)
    _check(magic, ver)
    return int(plen)


def read_params(buf: bytes) -> dict:
    """Read params without decompressing the payload (reference parity:
    get_expected_insertions / get_false_positive_percentage scalar fns)."""
    _, _, _, pjson, _ = _split(buf)
    return json.loads(pjson)


def read_kind(buf: bytes) -> int:
    magic, ver, kind, _, _, _, _ = _unpack_header(buf)
    _check(magic, ver)
    return kind


def sketch_from_bytes(buf: bytes):
    """Deserialize any sketch by its kind tag."""
    kind, params, payload = decode(buf)
    cls = _REGISTRY.get(kind)
    if cls is None:
        raise ValueError(f"unknown sketch kind {kind}")
    return cls._from_parts(params, payload)


def merge_blobs(blobs, mapper=map):
    """Decode each blob and fold the sketches with ``merge`` — the
    combine step of every build (tree-merge levels, grouped merges,
    store unions, SQL ``sketch_merge``).  ``mapper`` runs the decodes:
    pass a thread pool's ``map`` to decode in parallel (the fold order
    stays the input order).  Returns None for no blobs."""
    out = None
    for sk in mapper(sketch_from_bytes, blobs):
        out = sk if out is None else out.merge(sk)
    return out


def _split(buf: bytes):
    magic, ver, kind, flags, digest, plen, slen = _unpack_header(buf)
    _check(magic, ver)
    off = _HEADER.size
    pjson = buf[off : off + plen]
    stored = buf[off + plen : off + plen + slen]
    if len(stored) != slen:
        raise ValueError("truncated sketch payload")
    return kind, flags, digest, pjson, stored


def _check(magic: bytes, ver: int) -> None:
    if magic != MAGIC:
        raise ValueError("not a PBFS sketch blob")
    if ver > VERSION:
        raise ValueError(f"unsupported sketch format version {ver}")

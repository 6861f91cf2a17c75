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
    4..5    u16    format version (1, or 2 for a zstd payload)
    6       u8     sketch kind (``KIND_*`` below)
    7       u8     flags (bit0: payload is zlib-compressed;
                           bit1: by-reference, see below;
                           bit2: payload is zstd-compressed)
    8..39   sha256 of the *uncompressed* payload  (cache key)
    40..43  u32    params JSON length
    44..47  u32    stored payload length
    48..    params JSON (utf-8)  |  payload bytes

Compression is optional and measured, not assumed: near-capacity bloom
bitsets are incompressible (reference gzips unconditionally and pays
~20 ms per round trip, TestBloomFilterSerialization.java:59,74); we
compress only when it actually shrinks the payload.  The codec depends
only on the payload's length:

- below 64 KiB (``ZSTD_MIN_BYTES``): zlib level 1, format version 1.
  Either codec costs microseconds there, and zlib's blobs are the
  smaller ones: the 262 sparse/dense HLL and KLL blobs of a keyed
  build total 823,121 bytes with zlib against 1,007,252 with zstd;
- from 64 KiB up: zstd level 1 (``pyarrow.Codec``), format version 2,
  and the stored section is the raw payload length (u64) followed by
  the zstd frame.  On a seed-1 fused-build partial (4-core host, min
  of 7) a 1.2 MB bloom bitset encodes in 5.0 ms against zlib's 17.5 ms
  (217,830 against 255,655 bytes) and decodes in 2.2 ms against 6.9 ms,
  and a 1.1 MB CMS table encodes in 4.7 against 8.9 ms (81,444 against
  128,174 bytes).

Every other blob is written as version 1, so its bytes are those of
the version-1 format; a reader older than version 2 refuses a zstd blob
(unsupported version) rather than misreading it.  The frames carry no
checksum, so :func:`decode` checks a zstd payload, and a payload stored
raw, against the header digest, the check zlib's adler32 makes for a
zlib payload (~1 ms per MB of payload); a payload that fails either
codec or its digest raises ``ValueError``.

A *by-reference* blob has the header and params of a full blob (so its
kind, params and content digest read as the full blob's) with the
by-reference flag set, and as its payload the name
``<sha256 of the full blob>.sketch`` of a file shipped to the Spark
application with ``SparkContext.addFile`` (``compat.publish_sketch_view``
ships it).  It is what a SQL probe carries per row in place of the
filter, the way the reference passes its Slice by reference.
:func:`decode` resolves one through ``SparkFiles``; it is never written
to a store, a checkpoint or a sketch table.

Adding a kind
-------------
Every kind subclasses :class:`Sketch` with a class keyword that
registers it under its kind tag::

    class ThetaSketch(Inserts, Sketch, kind=KIND_THETA):
        def _state(self):               # -> (params dict, payload bytes)
            return {"k": self.k}, self.values.tobytes()

        @classmethod
        def _from_parts(cls, params, payload):  # the inverse of _state
            return cls(params["k"], _values=np.frombuffer(payload, np.uint64).copy())

        def _geometry(self):            # what two mergeable sketches share
            return (self.k,)

        def _merge(self, other):        # the combine step, in place
            self._add(other.values)
            return self

The base then gives the kind ``to_bytes``/``from_bytes``, ``copy``,
``to_base64``/``from_base64``, ``sha256`` and ``merge``, whose
precondition it checks before ``_merge`` runs: another class is a
``TypeError`` and another ``_geometry()`` a ``ValueError``.  A
``_merge`` makes only the checks of its own kind.  A new kind takes the
next free ``KIND_*`` tag; a tag, once written to a blob, is never
reused.
"""

from __future__ import annotations

import base64
import hashlib
import json
import struct
import zlib

import pyarrow as pa

MAGIC = b"PBFS"
_V1 = 1  # every blob but one with a zstd payload
_V2 = 2  # a blob with a zstd payload
VERSION = _V2  # the newest format version decode reads
_HEADER = struct.Struct("<4sHBB32sII")
_FLAG_ZLIB = 1
_FLAG_REF = 2
_FLAG_ZSTD = 4
_FLAGS = _FLAG_ZLIB | _FLAG_REF | _FLAG_ZSTD
ZSTD_MIN_BYTES = 64 * 1024
_RAW_LEN = struct.Struct("<Q")
_ZSTD = pa.Codec("zstd", compression_level=1)
_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"

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

_REGISTRY: dict[int, type["Sketch"]] = {}


class Sketch:
    """A serializable, mergeable sketch value: the one protocol of the
    PBFS kinds (module docstring, "Adding a kind").  ``merge`` folds
    ``other`` into this sketch in place and returns it."""

    KIND: int

    def __init_subclass__(cls, kind: int | None = None, **kw):
        super().__init_subclass__(**kw)
        if kind is not None:
            _REGISTRY[kind] = cls
            cls.KIND = kind

    def to_bytes(self) -> bytes:
        return encode(self.KIND, *self._state())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "Sketch":
        """The sketch blob ``buf`` holds: ``Sketch.from_bytes`` reads
        any registered kind, a kind's own ``from_bytes`` only its own
        (another kind's blob is a ``ValueError``)."""
        kind, params, payload = decode(buf)
        if cls is Sketch:
            if kind not in _REGISTRY:
                raise ValueError(f"unknown sketch kind {kind}")
            cls = _REGISTRY[kind]
        elif kind != cls.KIND:
            raise ValueError(f"not a {cls.__name__} blob (kind {kind})")
        return cls._from_parts(params, payload)

    def copy(self) -> "Sketch":
        """An independent sketch with the same bytes."""
        return self._from_parts(*self._state())

    def to_base64(self) -> str:
        """String form = base64 of the blob (reference to_string,
        BloomFilter.java:154-157)."""
        return base64.b64encode(self.to_bytes()).decode("ascii")

    @classmethod
    def from_base64(cls, s: str) -> "Sketch":
        return cls.from_bytes(base64.b64decode(s))

    @property
    def sha256(self) -> bytes:
        """Digest of the payload, the cache key the blob's header
        carries (reference BloomFilter.readHash, BloomFilter.java:409-415)."""
        return hashlib.sha256(self._state()[1]).digest()

    def merge(self, other: "Sketch") -> "Sketch":
        self._check_combinable(other)
        return self._merge(other)

    def _check_combinable(self, other) -> None:
        """The precondition of every combine (``merge``, and a kind's
        own two-sketch operations): same class, same geometry."""
        if type(other) is not type(self):
            raise TypeError(f"can only combine {type(self).__name__} with "
                            f"{type(self).__name__}, not {type(other).__name__}")
        if self._geometry() != other._geometry():
            raise ValueError(f"geometry mismatch: {self._geometry()} vs {other._geometry()}")


def encode(kind: int, params: dict, payload: bytes, compress: str = "auto") -> bytes:
    digest = hashlib.sha256(payload).digest()
    version, flags, stored = _V1, 0, payload
    if compress in ("auto", "always"):
        compressed = _compress(payload)
        if compress == "always" or len(compressed[2]) < len(payload):
            version, flags, stored = compressed
    pjson = json.dumps(params, sort_keys=True, separators=(",", ":")).encode()
    head = _HEADER.pack(MAGIC, version, kind, flags, digest, len(pjson), len(stored))
    return b"".join((head, pjson, stored))


def _compress(payload: bytes) -> tuple[int, int, bytes]:
    """``(format version, codec flag, stored section)`` of ``payload``
    compressed by the codec its length picks."""
    if len(payload) < ZSTD_MIN_BYTES:
        return _V1, _FLAG_ZLIB, zlib.compress(payload, 1)
    return _V2, _FLAG_ZSTD, _RAW_LEN.pack(len(payload)) + _ZSTD.compress(payload, asbytes=True)


def decode(buf: bytes) -> tuple[int, dict, bytes]:
    """Full decode → (kind, params, uncompressed payload); a
    by-reference blob decodes as the full blob it names."""
    kind, flags, digest, pjson, stored = _split(_full_blob(buf))
    return kind, json.loads(pjson), _payload(flags, digest, stored)


def _payload(flags: int, digest: bytes, stored: bytes) -> bytes:
    """The uncompressed payload of a blob's stored section.  A payload
    its codec rejects, a zstd payload whose raw length differs from
    what its frame declares, or a zstd or raw payload whose digest
    differs from the header's raises ``ValueError``."""
    try:
        if flags & _FLAG_ZLIB:
            return zlib.decompress(stored)  # adler32 checks it
        payload = stored
        if flags & _FLAG_ZSTD:
            (n,) = _RAW_LEN.unpack_from(stored)
            frame = memoryview(stored)[_RAW_LEN.size:]
            # checked before decompress allocates n bytes
            if _zstd_content_size(frame) != n:
                raise ValueError("corrupt sketch payload: raw length does not match the zstd frame")
            payload = _ZSTD.decompress(frame, decompressed_size=n, asbytes=True)
    except (zlib.error, OSError, struct.error) as e:
        raise ValueError(f"corrupt sketch payload: {e}") from e
    if hashlib.sha256(payload).digest() != digest:
        raise ValueError("corrupt sketch payload: payload does not match its digest")
    return payload


def _zstd_content_size(frame: memoryview) -> int:
    """The content size a zstd frame header declares (RFC 8878
    §3.1.1.1), or -1 for a frame that declares none or is no frame."""
    if len(frame) < 6 or frame[:4] != _ZSTD_MAGIC:
        return -1
    desc = frame[4]
    single = desc >> 5 & 1
    width = (single, 2, 4, 8)[desc >> 6]
    off = 5 + (1 - single) + (0, 1, 2, 4)[desc & 3]
    if not width or len(frame) < off + width:
        return -1
    return int.from_bytes(frame[off : off + width], "little") + (256 if width == 2 else 0)


def _by_reference(blob: bytes) -> tuple[str, bytes]:
    """``(name, reference)`` for the full blob ``blob``: ``name`` is
    its content address ``<sha256 hex>.sketch``, the file name the
    caller ships it under, and ``reference`` the by-reference blob
    naming it (119 bytes plus the params)."""
    kind, _, digest, pjson, _ = _split(blob)
    name = hashlib.sha256(blob).hexdigest() + ".sketch"
    head = _HEADER.pack(MAGIC, _V1, kind, _FLAG_REF, digest, len(pjson), len(name))
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


sketch_from_bytes = Sketch.from_bytes  # any kind, by its tag


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
    if flags & ~_FLAGS:
        raise ValueError(f"unknown sketch flags {flags:#04x}")
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

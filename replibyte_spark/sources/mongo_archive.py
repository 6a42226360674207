"""mongodump ``--archive`` binary-format ingestion (S3 completion).

Reference behavior being re-expressed (NOT ported):
- archive structure + golden fixture: /root/reference/dump-parser/src/mongodb/mod.rs:8-11
  (magic ``6d e2 99 81``, ``FF FF FF FF`` separators), 53-95 (layout),
  100-163 (reader), 172-247 (re-serializer with CRC64 refresh)
- source integration: /root/reference/replibyte/src/source/mongodb.rs:66-101
  (mongodump stream → Archive), 256-300 (alter docs → into_bytes)
- upstream format: https://github.com/mongodb/mongo-tools-common/blob/v4.2/archive/archive.go

Spark-first restatement.  The archive is a muxed byte stream, so the
STRUCTURAL scan (length-hopping over BSON size prefixes — no field decode)
runs once per file inside ``binaryFiles`` tasks; the expensive part, BSON
document decoding, is repartitioned so *documents* are the unit of
parallelism.  Many archives parallelize per-file on top of that.  Two
deliberate improvements over the reference parser:

- a collection split across several blocks (mongodump with
  ``--numParallelCollections`` > 1 interleaves blocks) APPENDS instead of
  overwriting (the reference's ``prefixed_collections.insert`` keeps only
  the last block, mod.rs:146);
- footer CRCs are *verified* on read (the reference only recomputes them on
  write), so stream corruption fails loudly instead of restoring garbage.

No ``bson``/``pymongo`` dependency: the codec below is a minimal pure-Python
BSON subset (the types mongodump emits for data) that round-trips
byte-identically — int32/int64 width, field order and all.
"""

from __future__ import annotations

import base64
import json
import struct
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

MAGIC = bytes([0x6D, 0xE2, 0x99, 0x81])
SEPARATOR = b"\xff\xff\xff\xff"


# ---------------------------------------------------------------------------
# CRC-64/XZ (ECMA-182 polynomial, reflected, init/xorout ~0) — the checksum
# both Go mongo-tools (hash/crc64 ECMA) and the reference (crc64::checksum_ecma)
# use for block footers.
# ---------------------------------------------------------------------------

_CRC64_POLY = 0xC96C5795D7870F42
_CRC64_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ _CRC64_POLY if _c & 1 else _c >> 1
    _CRC64_TABLE.append(_c)


class Crc64Xz:
    """Incremental CRC-64/XZ, so a streaming writer can checksum a
    collection without ever holding its concatenated docs in memory."""
    __slots__ = ("_crc",)

    def __init__(self):
        self._crc = 0xFFFFFFFFFFFFFFFF

    def update(self, data: bytes) -> "Crc64Xz":
        crc = self._crc
        for b in data:
            crc = _CRC64_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
        self._crc = crc
        return self

    def digest(self) -> int:
        return self._crc ^ 0xFFFFFFFFFFFFFFFF


def crc64_xz(data: bytes) -> int:
    return Crc64Xz().update(data).digest()


# ---------------------------------------------------------------------------
# minimal BSON codec (width- and order-preserving)
# ---------------------------------------------------------------------------

class Int64(int):
    """Marks a value decoded from / to be encoded as BSON int64 (0x12)."""


class UTCDatetime(int):
    """BSON datetime (0x09): milliseconds since epoch."""


class BsonTimestamp(int):
    """BSON timestamp (0x11): raw uint64."""


@dataclass(frozen=True)
class ObjectId:
    data: bytes  # 12 bytes

    @property
    def hex(self) -> str:
        return self.data.hex()


@dataclass(frozen=True)
class Binary:
    subtype: int
    data: bytes


@dataclass(frozen=True)
class Decimal128:
    data: bytes  # 16 bytes, opaque


def decode_document(buf: bytes, pos: int = 0):
    """(dict, end_pos) — order-preserving decode of one BSON document."""
    total = struct.unpack_from("<i", buf, pos)[0]
    end = pos + total
    if total < 5 or end > len(buf) or buf[end - 1] != 0:
        raise ValueError(f"malformed BSON document at offset {pos}")
    out: dict = {}
    p = pos + 4
    while p < end - 1:
        t = buf[p]
        p += 1
        z = buf.index(0, p)
        name = buf[p:z].decode("utf-8")
        p = z + 1
        if t == 0x01:
            out[name] = struct.unpack_from("<d", buf, p)[0]
            p += 8
        elif t == 0x02:
            ln = struct.unpack_from("<i", buf, p)[0]
            out[name] = buf[p + 4:p + 3 + ln].decode("utf-8")
            p += 4 + ln
        elif t in (0x03, 0x04):
            sub, p = decode_document(buf, p)
            out[name] = list(sub.values()) if t == 0x04 else sub
        elif t == 0x05:
            ln = struct.unpack_from("<i", buf, p)[0]
            out[name] = Binary(buf[p + 4], bytes(buf[p + 5:p + 5 + ln]))
            p += 5 + ln
        elif t == 0x07:
            out[name] = ObjectId(bytes(buf[p:p + 12]))
            p += 12
        elif t == 0x08:
            out[name] = buf[p] != 0
            p += 1
        elif t == 0x09:
            out[name] = UTCDatetime(struct.unpack_from("<q", buf, p)[0])
            p += 8
        elif t == 0x0A:
            out[name] = None
        elif t == 0x10:
            out[name] = struct.unpack_from("<i", buf, p)[0]
            p += 4
        elif t == 0x11:
            out[name] = BsonTimestamp(struct.unpack_from("<Q", buf, p)[0])
            p += 8
        elif t == 0x12:
            out[name] = Int64(struct.unpack_from("<q", buf, p)[0])
            p += 8
        elif t == 0x13:
            out[name] = Decimal128(bytes(buf[p:p + 16]))
            p += 16
        else:
            raise ValueError(
                f"unsupported BSON element type 0x{t:02x} for field "
                f"{name!r} (regex/code/minkey types are not data mongodump "
                "emits for documents)")
    return out, end


def _encode_value(name: str, v) -> bytes:
    n = name.encode("utf-8") + b"\x00"
    if isinstance(v, bool):  # before int (bool is an int subclass)
        return b"\x08" + n + (b"\x01" if v else b"\x00")
    if isinstance(v, BsonTimestamp):
        return b"\x11" + n + struct.pack("<Q", int(v))
    if isinstance(v, UTCDatetime):
        return b"\x09" + n + struct.pack("<q", int(v))
    if isinstance(v, Int64):
        return b"\x12" + n + struct.pack("<q", int(v))
    if isinstance(v, int):
        if -(1 << 31) <= v < (1 << 31):
            return b"\x10" + n + struct.pack("<i", v)
        return b"\x12" + n + struct.pack("<q", v)
    if isinstance(v, float):
        return b"\x01" + n + struct.pack("<d", v)
    if isinstance(v, str):
        s = v.encode("utf-8") + b"\x00"
        return b"\x02" + n + struct.pack("<i", len(s)) + s
    if v is None:
        return b"\x0a" + n
    if isinstance(v, ObjectId):
        return b"\x07" + n + v.data
    if isinstance(v, Binary):
        return (b"\x05" + n + struct.pack("<i", len(v.data))
                + bytes([v.subtype]) + v.data)
    if isinstance(v, Decimal128):
        return b"\x13" + n + v.data
    if isinstance(v, dict):
        return b"\x03" + n + encode_document(v)
    if isinstance(v, (list, tuple)):
        return b"\x04" + n + encode_document(
            {str(i): x for i, x in enumerate(v)})
    raise TypeError(f"cannot BSON-encode {type(v).__name__} for field {name!r}")


def encode_document(doc: dict) -> bytes:
    body = b"".join(_encode_value(k, v) for k, v in doc.items())
    return struct.pack("<i", len(body) + 5) + body + b"\x00"


def doc_to_json(doc) -> str:
    """Extended-JSON-ish rendering for Spark's JSON reader (nested docs with
    unknown schema — inference is the honest tool here, matching the S3
    probabilistic-schema path)."""
    def conv(v):
        if isinstance(v, bool) or v is None:
            return v
        if isinstance(v, ObjectId):
            return {"$oid": v.hex}
        if isinstance(v, UTCDatetime):
            return {"$date": int(v)}
        if isinstance(v, BsonTimestamp):
            return {"$timestamp": int(v)}
        if isinstance(v, Binary):
            return {"$binary": base64.b64encode(v.data).decode(),
                    "$type": v.subtype}
        if isinstance(v, Decimal128):
            return {"$numberDecimal": v.data.hex()}
        if isinstance(v, dict):
            return {k: conv(x) for k, x in v.items()}
        if isinstance(v, (list, tuple)):
            return [conv(x) for x in v]
        return v
    return json.dumps(conv(doc), separators=(",", ":"))


# ---------------------------------------------------------------------------
# archive structure
# ---------------------------------------------------------------------------

@dataclass
class Block:
    """One namespace block: its raw namespace doc + raw document bytes."""
    ns_raw: bytes
    db: str
    collection: str
    eof: bool
    crc: int
    docs_raw: list[bytes] = field(default_factory=list)


@dataclass
class Archive:
    header_raw: bytes
    metadata_raw: list[bytes]
    blocks: list[Block]

    @property
    def header(self) -> dict:
        return decode_document(self.header_raw)[0]

    def collections(self) -> dict[tuple[str, str], list[bytes]]:
        """(db, collection) → raw doc bytes, APPENDING across split blocks
        (improves on reference mod.rs:146 which keeps only the last)."""
        out: dict[tuple[str, str], list[bytes]] = {}
        for b in self.blocks:
            if not b.eof:
                out.setdefault((b.db, b.collection), []).extend(b.docs_raw)
        return out


def _scan_docs(buf: bytes, pos: int):
    """Length-hop raw BSON docs until a separator / EOF; no field decode."""
    docs = []
    n = len(buf)
    while pos + 4 <= n:
        ln = struct.unpack_from("<i", buf, pos)[0]
        if ln == -1:  # separator
            return docs, pos + 4, True
        if ln < 5 or pos + ln > n:
            raise ValueError(f"malformed BSON length {ln} at offset {pos}")
        docs.append(bytes(buf[pos:pos + ln]))
        pos += ln
    return docs, pos, False


def parse_archive(buf: bytes, verify_crc: bool = True) -> Archive:
    """Structural parse of a mongodump archive (reference mod.rs:100-163)."""
    if buf[:4] != MAGIC:
        raise ValueError("not a mongodump archive (bad magic bytes)")
    _, pos = decode_document(buf, 4)
    header_raw = bytes(buf[4:pos])
    metadata_raw, pos, _ = _scan_docs(buf, pos)
    n_collections = len(metadata_raw)

    blocks: list[Block] = []
    eofs = 0
    while n_collections and eofs < n_collections:
        ns, p2 = decode_document(buf, pos)
        ns_raw = bytes(buf[pos:p2])
        docs, pos, _ = _scan_docs(buf, p2)
        blk = Block(ns_raw=ns_raw, db=ns["db"], collection=ns["collection"],
                    eof=bool(ns["EOF"]), crc=int(ns["CRC"]), docs_raw=docs)
        blocks.append(blk)
        if blk.eof:
            eofs += 1

    arch = Archive(header_raw, metadata_raw, blocks)
    if verify_crc:
        sums = {k: crc64_xz(b"".join(v)) for k, v in arch.collections().items()}
        for b in blocks:
            if b.eof:
                want = sums.get((b.db, b.collection), crc64_xz(b""))
                if (b.crc & 0xFFFFFFFFFFFFFFFF) != want:
                    raise ValueError(
                        f"CRC mismatch for {b.db}.{b.collection}: archive "
                        f"says {b.crc & 0xFFFFFFFFFFFFFFFF:#x}, data is {want:#x}")
    return arch


def serialize_archive(arch: Archive) -> bytes:
    """Re-encode (reference into_bytes, mod.rs:172-247): CRCs recomputed
    from the docs actually present, so transformed documents re-checksum;
    an UNCHANGED archive re-serializes byte-identically."""
    out = bytearray(MAGIC)
    out += arch.header_raw
    for m in arch.metadata_raw:
        out += m
    out += SEPARATOR
    sums = {k: crc64_xz(b"".join(v)) for k, v in arch.collections().items()}
    for b in arch.blocks:
        if not b.eof:
            out += b.ns_raw
            for d in b.docs_raw:
                out += d
        else:
            crc = sums.get((b.db, b.collection), crc64_xz(b""))
            signed = crc - (1 << 64) if crc >= (1 << 63) else crc
            if signed == b.crc:
                out += b.ns_raw  # unchanged → byte-identical footer
            else:
                ns = decode_document(b.ns_raw)[0]
                ns["CRC"] = Int64(signed)
                out += encode_document(ns)
        out += SEPARATOR
    return bytes(out)


def build_archive_raw(collections: dict[str, list[bytes]], db: str = "dump",
                      header: dict | None = None) -> bytes:
    """Assemble an archive from ALREADY-ENCODED BSON documents.

    The per-document encoding is the expensive part and is embarrassingly
    parallel — encode on executors (e.g. a pandas UDF over the source
    frame), ship the compact BSON bytes, and let the driver do only the
    cheap header/footer/CRC assembly here."""
    hdr = header or {"concurrent_collections": 1, "version": "0.1",
                     "server_version": "5.0.6", "tool_version": "100.5.2"}
    metadata = [encode_document({
        "db": db, "collection": c,
        "metadata": json.dumps({"indexes": [], "collectionName": c,
                                "type": "collection"}),
        "size": 0, "type": "collection"}) for c in collections]
    blocks: list[Block] = []
    for c, raw in collections.items():
        crc = crc64_xz(b"".join(raw))
        signed = crc - (1 << 64) if crc >= (1 << 63) else crc
        hdr_ns = encode_document({"db": db, "collection": c,
                                  "EOF": False, "CRC": Int64(0)})
        ftr_ns = encode_document({"db": db, "collection": c,
                                  "EOF": True, "CRC": Int64(signed)})
        blocks.append(Block(hdr_ns, db, c, False, 0, list(raw)))
        blocks.append(Block(ftr_ns, db, c, True, signed, []))
    return serialize_archive(Archive(encode_document(hdr), metadata, blocks))


def write_archive_stream(path: str, collections: "dict[str, object]",
                         db: str = "dump",
                         header: dict | None = None) -> int:
    """Stream an archive to `path` from per-collection ITERABLES of
    already-encoded BSON doc bytes.  Byte-for-byte identical to writing
    `build_archive_raw(...)`, but driver memory is bounded by ONE doc at a
    time (CRC64 accumulates incrementally) — the shape that scales to a
    collection larger than driver memory, e.g. docs arriving from
    `DataFrame.toLocalIterator()`.  Returns the number of docs written."""
    hdr = header or {"concurrent_collections": 1, "version": "0.1",
                     "server_version": "5.0.6", "tool_version": "100.5.2"}
    n_docs = 0
    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(encode_document(hdr))
        for c in collections:
            f.write(encode_document({
                "db": db, "collection": c,
                "metadata": json.dumps({"indexes": [], "collectionName": c,
                                        "type": "collection"}),
                "size": 0, "type": "collection"}))
        f.write(SEPARATOR)
        for c, docs in collections.items():
            f.write(encode_document({"db": db, "collection": c,
                                     "EOF": False, "CRC": Int64(0)}))
            crc = Crc64Xz()
            for d in docs:
                crc.update(d)
                f.write(d)
                n_docs += 1
            f.write(SEPARATOR)
            total = crc.digest()
            signed = total - (1 << 64) if total >= (1 << 63) else total
            f.write(encode_document({"db": db, "collection": c,
                                     "EOF": True, "CRC": Int64(signed)}))
            f.write(SEPARATOR)
    return n_docs


def build_archive(collections: dict[str, list[dict]], db: str = "dump",
                  header: dict | None = None) -> bytes:
    """Write a fresh archive from decoded documents (the mongorestore-
    compatible destination shape)."""
    return build_archive_raw(
        {c: [encode_document(d) for d in docs]
         for c, docs in collections.items()}, db, header)


# ---------------------------------------------------------------------------
# distributed read
# ---------------------------------------------------------------------------

def read_mongo_archive(spark: SparkSession, path: str,
                       tables: list[str] | None = None,
                       min_partitions: int | None = None) -> dict[str, DataFrame]:
    """Parse archive file(s) into per-collection nested DataFrames.

    The cheap structural scan (length hops) runs once per file; raw
    documents then repartition across the cluster and BSON-decode in
    parallel — documents, not files, are the unit of parallelism for the
    expensive part.  Nested/unknown schemas go through Spark's JSON
    inference (the same choice as the S3 probabilistic-schema path).
    """
    from pyspark import StorageLevel

    from ..util import materialize

    sc = spark.sparkContext
    target = min_partitions or sc.defaultParallelism

    def emit(kv):
        _p, data = kv
        arch = parse_archive(bytes(data))
        for (db, coll), docs in arch.collections().items():
            for raw in docs:
                yield (db, coll), raw

    pairs = sc.binaryFiles(path).flatMap(emit)
    if pairs.getNumPartitions() < target:
        pairs = pairs.repartition(target)
    decoded = materialize(
        pairs.map(lambda t: (t[0], doc_to_json(decode_document(t[1])[0]))),
        StorageLevel.MEMORY_AND_DISK)
    counts = decoded.countByKey()  # one job; also materializes the cache
    # keys stay (db, collection) end to end; the OUTPUT key is the bare
    # collection name when unambiguous, 'db.collection' when the same
    # collection name exists in several databases — merging them (the old
    # collection-only key) interleaved different databases' documents into
    # one frame with a unioned inferred schema
    coll_count: dict[str, int] = {}
    for db, coll in counts:
        coll_count[coll] = coll_count.get(coll, 0) + 1
    out: dict[str, DataFrame] = {}
    for db, coll in sorted(counts):
        name = coll if coll_count[coll] == 1 else f"{db}.{coll}"
        if tables and name not in tables and coll not in tables:
            continue
        out[name] = spark.read.json(
            decoded.filter(lambda t, _k=(db, coll): t[0] == _k)
            .map(lambda t: t[1]))
    return out

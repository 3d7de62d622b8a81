"""Minimal pure-Python HDF5 writer + reader (no h5py, no C library).

Implements the subset of the public HDF5 File Format Specification
(https://docs.hdfgroup.org/hdf5/develop/_f_m_t3.html) required to write
the reference's daily weather files (aristoteles/aristoteles.py:392-468):
nested groups, contiguous 1-D float64 datasets, and scalar-string /
scalar-float / string-array attributes.

Format choices (all "version 2 / 1.8 latest" structures — the simplest
self-describing subset, readable by libhdf5 >= 1.8 and h5py):

- Superblock version 2 (48 bytes, Jenkins lookup3 checksum).
- Version 2 object headers ("OHDR", checksummed), messages unaligned.
- New-style groups: Link Info + Group Info messages plus one compact
  Link message (version 1, hard) per child — no fractal heaps, no
  symbol tables, no B-trees.
- Datasets: Dataspace v2, Datatype v1 (IEEE f8 LE / fixed ASCII string
  / twos-complement i8 LE), Fill Value v3 (undefined), Data Layout v3
  class 1 (contiguous).
- Attributes: Attribute message v3 with embedded datatype + dataspace;
  strings are fixed-length null-terminated ASCII (class 3), so no
  global heap is ever needed.

The reader parses exactly what the writer emits (plus checksum
verification), giving an in-container round-trip test; the writer's
structures are byte-level assertions against the public spec so the
files are also readable by stock h5py where it exists.

The Jenkins lookup3 ``hashlittle`` checksum (H5_checksum_lookup3) is
implemented from Bob Jenkins' public-domain lookup3.c and verified
against the test vectors published in that file's self-test driver.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field
from typing import Any

UNDEF = 0xFFFFFFFFFFFFFFFF
_M = 0xFFFFFFFF


def _rot(x: int, k: int) -> int:
    return ((x << k) | (x >> (32 - k))) & _M


def lookup3(data: bytes, initval: int = 0) -> int:
    """Bob Jenkins' hashlittle() from lookup3.c (public domain).

    HDF5's H5_checksum_lookup3 is hashlittle(data, len, initval); every
    checksummed structure in the 1.8+ format uses it with initval=0.
    """
    length = len(data)
    a = b = c = (0xDEADBEEF + length + initval) & _M

    offset = 0
    # Process all but the last block of up to 12 bytes.
    while length > 12:
        a = (a + struct.unpack_from("<I", data, offset)[0]) & _M
        b = (b + struct.unpack_from("<I", data, offset + 4)[0]) & _M
        c = (c + struct.unpack_from("<I", data, offset + 8)[0]) & _M
        # mix(a, b, c)
        a = (a - c) & _M; a ^= _rot(c, 4); c = (c + b) & _M
        b = (b - a) & _M; b ^= _rot(a, 6); a = (a + c) & _M
        c = (c - b) & _M; c ^= _rot(b, 8); b = (b + a) & _M
        a = (a - c) & _M; a ^= _rot(c, 16); c = (c + b) & _M
        b = (b - a) & _M; b ^= _rot(a, 19); a = (a + c) & _M
        c = (c - b) & _M; c ^= _rot(b, 4); b = (b + a) & _M
        offset += 12
        length -= 12

    # Last block: affect all of (a, b, c); lookup3's little-endian tail.
    tail = data[offset:offset + length]
    if length == 0:
        return c  # zero-length: skip final mixing entirely
    pad = tail + b"\x00" * (12 - length)
    ka, kb, kc = struct.unpack("<III", pad)
    a = (a + ka) & _M
    if length > 4:
        b = (b + kb) & _M
    if length > 8:
        c = (c + kc) & _M
    # final(a, b, c)
    c ^= b; c = (c - _rot(b, 14)) & _M
    a ^= c; a = (a - _rot(c, 11)) & _M
    b ^= a; b = (b - _rot(a, 25)) & _M
    c ^= b; c = (c - _rot(b, 16)) & _M
    a ^= c; a = (a - _rot(c, 4)) & _M
    b ^= a; b = (b - _rot(a, 14)) & _M
    c ^= b; c = (c - _rot(b, 24)) & _M
    return c


# ---------------------------------------------------------------------------
# Datatype encodings (Datatype message, version 1 header in byte 0)
# ---------------------------------------------------------------------------

def _dt_f8() -> bytes:
    """IEEE 754 binary64, little-endian (class 1 floating point)."""
    head = struct.pack(
        "<B3BI",
        (1 << 4) | 1,          # version 1, class 1 (float)
        0x20,                   # LE; mantissa normalization = 2 (implied msb)
        63,                     # sign bit location
        0,
        8,                      # size in bytes
    )
    props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
    return head + props


def _dt_i8() -> bytes:
    """64-bit twos-complement signed int, little-endian (class 0)."""
    head = struct.pack("<B3BI", (1 << 4) | 0, 0x08, 0, 0, 8)
    props = struct.pack("<HH", 0, 64)
    return head + props


def _dt_string(size: int) -> bytes:
    """Fixed-length null-terminated ASCII string (class 3)."""
    return struct.pack("<B3BI", (1 << 4) | 3, 0x00, 0, 0, size)


def _dataspace(dims: tuple[int, ...] | None) -> bytes:
    """Dataspace message, version 2. ``None`` => scalar."""
    if dims is None:
        return struct.pack("<BBBB", 2, 0, 0, 0)
    out = struct.pack("<BBBB", 2, len(dims), 0, 1)
    for d in dims:
        out += struct.pack("<Q", d)
    return out


# ---------------------------------------------------------------------------
# Attribute values -> (datatype bytes, dataspace bytes, data bytes)
# ---------------------------------------------------------------------------

def _encode_attr(value: Any) -> tuple[bytes, bytes, bytes]:
    if isinstance(value, str):
        raw = value.encode("utf-8")
        n = len(raw) + 1  # room for the null terminator
        return _dt_string(n), _dataspace(None), raw + b"\x00"
    if isinstance(value, bool):
        raise TypeError("bool attributes unsupported")
    if isinstance(value, int):
        return _dt_i8(), _dataspace(None), struct.pack("<q", value)
    if isinstance(value, float):
        return _dt_f8(), _dataspace(None), struct.pack("<d", value)
    if isinstance(value, (list, tuple)):
        if all(isinstance(v, str) for v in value):
            raws = [v.encode("utf-8") for v in value]
            n = max((len(r) for r in raws), default=0) + 1
            data = b"".join(r + b"\x00" * (n - len(r)) for r in raws)
            return _dt_string(n), _dataspace((len(value),)), data
        if all(isinstance(v, (int, float)) for v in value):
            data = b"".join(struct.pack("<d", float(v)) for v in value)
            return _dt_f8(), _dataspace((len(value),)), data
    raise TypeError(f"unsupported attribute value: {value!r}")


def _msg(mtype: int, data: bytes) -> bytes:
    """A version-2 object-header message: type(1) size(2) flags(1) data."""
    return struct.pack("<BHB", mtype, len(data), 0) + data


def _attr_msg(name: str, value: Any) -> bytes:
    dt, ds, data = _encode_attr(value)
    nm = name.encode("utf-8") + b"\x00"
    body = (
        struct.pack("<BBHHHB", 3, 0, len(nm), len(dt), len(ds), 0)
        + nm + dt + ds + data
    )
    return _msg(0x000C, body)


def _link_msg(name: str, address: int) -> bytes:
    nm = name.encode("utf-8")
    if len(nm) > 255:
        raise ValueError("link name too long")
    body = struct.pack("<BBB", 1, 0, len(nm)) + nm + struct.pack("<Q", address)
    return _msg(0x0006, body)


def _object_header(messages: list[bytes]) -> bytes:
    chunk = b"".join(messages)
    head = b"OHDR" + struct.pack("<BBI", 2, 0x02, len(chunk))
    return head + chunk + struct.pack("<I", lookup3(head + chunk))


# ---------------------------------------------------------------------------
# Public builder API
# ---------------------------------------------------------------------------

@dataclass
class Dataset:
    values: list[float]
    dtype: str = "f8"          # 'f8' or 'i8'
    attrs: dict[str, Any] = field(default_factory=dict)

    def raw(self) -> bytes:
        fmt = "<d" if self.dtype == "f8" else "<q"
        if self.dtype == "f8":
            return b"".join(struct.pack(fmt, float(v)) for v in self.values)
        return b"".join(struct.pack(fmt, int(v)) for v in self.values)


@dataclass
class Group:
    attrs: dict[str, Any] = field(default_factory=dict)
    groups: dict[str, "Group"] = field(default_factory=dict)
    datasets: dict[str, Dataset] = field(default_factory=dict)

    def create_group(self, name: str) -> "Group":
        g = Group()
        self.groups[name] = g
        return g

    def create_dataset(
        self, name: str, values, dtype: str = "f8", attrs: dict | None = None
    ) -> Dataset:
        d = Dataset(list(values), dtype, dict(attrs or {}))
        self.datasets[name] = d
        return d


class MiniHDF5Writer:
    """Assemble and write a .h5 file from a ``Group`` tree.

    Layout: superblock @0, then (8-byte aligned) every dataset's raw
    block, then dataset object headers, then group headers bottom-up,
    then the root header; EOF address closes the superblock.
    """

    def __init__(self) -> None:
        self.root = Group()

    def tobytes(self) -> bytes:
        blocks: list[bytes] = []   # appended in address order after sb
        cursor = 48                # superblock size

        def alloc(b: bytes) -> int:
            nonlocal cursor
            pad = (-cursor) % 8
            if pad:
                blocks.append(b"\x00" * pad)
                cursor += pad
            addr = cursor
            blocks.append(b)
            cursor += len(b)
            return addr

        def emit_dataset(d: Dataset) -> int:
            raw = d.raw()
            data_addr = alloc(raw) if raw else UNDEF
            msgs = [
                _msg(0x0001, _dataspace((len(d.values),))),
                _msg(0x0003, _dt_f8() if d.dtype == "f8" else _dt_i8()),
                # fill value v3: alloc-time late(2), write-time ifset(2),
                # value undefined (bit 4)
                _msg(0x0005, struct.pack("<BB", 3, (2) | (2 << 2) | (1 << 4))),
                _msg(0x0008, struct.pack("<BBQQ", 3, 1, data_addr, len(raw))),
            ]
            msgs += [_attr_msg(k, v) for k, v in d.attrs.items()]
            return alloc(_object_header(msgs))

        def emit_group(g: Group) -> int:
            child_addrs: list[tuple[str, int]] = []
            for name, sub in g.groups.items():
                child_addrs.append((name, emit_group(sub)))
            for name, ds in g.datasets.items():
                child_addrs.append((name, emit_dataset(ds)))
            msgs = [
                # link info v0: no creation order, heap+btree undefined
                _msg(0x0002, struct.pack("<BBQQ", 0, 0, UNDEF, UNDEF)),
                _msg(0x000A, struct.pack("<BB", 0, 0)),
            ]
            msgs += [_link_msg(n, a) for n, a in child_addrs]
            msgs += [_attr_msg(k, v) for k, v in g.attrs.items()]
            return alloc(_object_header(msgs))

        root_addr = emit_group(self.root)
        eof = cursor
        sb = b"\x89HDF\r\n\x1a\n" + struct.pack(
            "<BBBBQQQQ", 2, 8, 8, 0, 0, UNDEF, eof, root_addr
        )
        sb += struct.pack("<I", lookup3(sb))
        if len(sb) != 48:
            raise RuntimeError(f"superblock is {len(sb)} bytes, expected 48")
        return sb + b"".join(blocks)

    def write(self, path: str) -> int:
        data = self.tobytes()
        with open(path, "wb") as f:
            f.write(data)
        return len(data)


# ---------------------------------------------------------------------------
# Reader (verification path)
# ---------------------------------------------------------------------------

def _parse_datatype(buf: bytes) -> tuple[str, int]:
    ver_cls = buf[0]
    cls = ver_cls & 0x0F
    size = struct.unpack_from("<I", buf, 4)[0]
    if cls == 1:
        return ("f8", size)
    if cls == 0:
        return ("i8", size)
    if cls == 3:
        return ("s", size)
    raise ValueError(f"unsupported datatype class {cls}")


def _parse_dataspace(buf: bytes) -> tuple[int, ...] | None:
    version, ndims, _flags, stype = struct.unpack_from("<BBBB", buf, 0)
    if version != 2:
        raise ValueError(f"unsupported dataspace version {version}")
    if stype == 0:
        return None
    return struct.unpack_from(f"<{ndims}Q", buf, 4)


def _decode_values(kind: str, size: int, dims, data: bytes):
    n = 1
    for d in (dims or ()):
        n *= d
    if kind == "f8":
        vals = [struct.unpack_from("<d", data, i * 8)[0] for i in range(n)]
    elif kind == "i8":
        vals = [struct.unpack_from("<q", data, i * 8)[0] for i in range(n)]
    else:
        vals = [
            data[i * size:(i + 1) * size].split(b"\x00", 1)[0].decode("utf-8")
            for i in range(n)
        ]
    if dims is None:
        return vals[0]
    return vals


@dataclass
class ReadObject:
    attrs: dict[str, Any] = field(default_factory=dict)
    links: dict[str, int] = field(default_factory=dict)
    # dataset-only fields
    kind: str | None = None
    dims: tuple[int, ...] | None = None
    data_addr: int | None = None
    data_size: int | None = None
    type_size: int | None = None


def _read_object_header(buf: bytes, addr: int) -> ReadObject:
    if buf[addr:addr + 4] != b"OHDR":
        raise ValueError(f"no OHDR at {addr}")
    version, flags = struct.unpack_from("<BB", buf, addr + 4)
    if version != 2:
        raise ValueError(f"unsupported object header version {version}")
    pos = addr + 6
    if flags & 0x20:
        pos += 16  # times
    if flags & 0x10:
        pos += 4   # phase-change
    csize_width = 1 << (flags & 0x03)
    chunk_size = int.from_bytes(buf[pos:pos + csize_width], "little")
    pos += csize_width
    chunk_end = pos + chunk_size
    stored = struct.unpack_from("<I", buf, chunk_end)[0]
    if stored != lookup3(buf[addr:chunk_end]):
        raise ValueError(f"object header checksum mismatch at {addr}")

    obj = ReadObject()
    while pos < chunk_end:
        mtype, msize, mflags = struct.unpack_from("<BHB", buf, pos)
        body = buf[pos + 4:pos + 4 + msize]
        pos += 4 + msize
        if flags & 0x04:
            pos += 2  # creation-order field present after header
        if mtype == 0x0006:  # link
            lflags = body[1]
            p = 2
            if lflags & 0x04:
                p += 8
            if lflags & 0x08:
                p += 1
            if lflags & 0x10:
                p += 1
            ln_width = 1 << (lflags & 0x03)
            ln = int.from_bytes(body[p:p + ln_width], "little")
            p += ln_width
            name = body[p:p + ln].decode("utf-8")
            p += ln
            obj.links[name] = struct.unpack_from("<Q", body, p)[0]
        elif mtype == 0x000C:  # attribute (v3)
            ver, _aflags, nsz, dtsz, dssz, _enc = struct.unpack_from(
                "<BBHHHB", body, 0
            )
            if ver != 3:
                raise ValueError(f"unsupported attribute version {ver}")
            p = 9
            name = body[p:p + nsz].split(b"\x00", 1)[0].decode("utf-8")
            p += nsz
            kind, tsize = _parse_datatype(body[p:p + dtsz])
            p += dtsz
            dims = _parse_dataspace(body[p:p + dssz])
            p += dssz
            obj.attrs[name] = _decode_values(kind, tsize, dims, body[p:])
        elif mtype == 0x0001:
            obj.dims = _parse_dataspace(body)
        elif mtype == 0x0003:
            obj.kind, obj.type_size = _parse_datatype(body)
        elif mtype == 0x0008:
            ver, cls = struct.unpack_from("<BB", body, 0)
            if ver != 3 or cls != 1:
                raise ValueError("only contiguous layout v3 supported")
            obj.data_addr, obj.data_size = struct.unpack_from("<QQ", body, 2)
        # 0x0002 link info / 0x000A group info / 0x0005 fill: no state
    return obj


def read_hdf5(path: str) -> dict[str, Any]:
    """Parse a minihdf5 file back into the nested-dict layout shape:
    {"attrs": .., "groups": {name: {...}}, "datasets": {name:
    {"values": [...], "attrs": {...}}}} — checksums verified."""
    with open(path, "rb") as f:
        buf = f.read()
    if buf[:8] != b"\x89HDF\r\n\x1a\n":
        raise ValueError("not an HDF5 file")
    version = buf[8]
    if version != 2:
        raise ValueError(f"unsupported superblock version {version}")
    stored = struct.unpack_from("<I", buf, 44)[0]
    if stored != lookup3(buf[:44]):
        raise ValueError("superblock checksum mismatch")
    eof, root_addr = struct.unpack_from("<QQ", buf, 28)
    if eof != len(buf):
        raise ValueError(f"EOF address {eof} != file size {len(buf)}")

    def load(addr: int) -> dict[str, Any]:
        obj = _read_object_header(buf, addr)
        if obj.kind is not None:  # dataset
            raw = (
                buf[obj.data_addr:obj.data_addr + obj.data_size]
                if obj.data_addr != UNDEF else b""
            )
            values = _decode_values(obj.kind, obj.type_size, obj.dims, raw)
            return {"values": values, "attrs": obj.attrs}
        out: dict[str, Any] = {"attrs": obj.attrs, "groups": {}, "datasets": {}}
        for name, a in obj.links.items():
            child = load(a)
            if "values" in child:
                out["datasets"][name] = child
            else:
                out["groups"][name] = child
        return out

    return load(root_addr)

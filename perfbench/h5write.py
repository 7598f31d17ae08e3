"""Minimal HDF5 writer for the NeXus subset the engine's reader parses.

Written from the public HDF5 File Format Specification (version 3.0):

- superblock version 2, 8-byte offsets and lengths;
- version 2 object headers ("OHDR") with Jenkins lookup3 checksums;
- groups as link-info + group-info messages plus compact hard-link
  messages (no fractal heap, no B-tree);
- datasets with a scalar or 1-D dataspace and contiguous layout;
- attributes as version 3 attribute messages;
- element types: fixed-length null-terminated strings, little-endian
  int64, float32 and float64.

A tree is a nested ``dict``: a ``Group`` holds children by name, a
``Data`` holds a value.  ``write(path, root)`` lays the file out in one
pass, children before their parent, so every address is known when a
header is encoded.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

UNDEF = 0xFFFFFFFFFFFFFFFF
_M32 = 0xFFFFFFFF


@dataclass
class Group:
    children: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)


@dataclass
class Data:
    """``value`` is a str, int, float or a list of int/float.

    ``dtype`` picks the element encoding of numbers: ``"i8"``, ``"f4"``
    or ``"f8"`` (strings ignore it)."""

    value: object
    attrs: dict = field(default_factory=dict)
    dtype: str = "f8"


def _rot(x: int, k: int) -> int:
    return ((x << k) | (x >> (32 - k))) & _M32


def lookup3(data: bytes, initval: int = 0) -> int:
    """Bob Jenkins' lookup3 ``hashlittle``: the checksum HDF5 uses for
    every version 2 metadata structure."""
    n = len(data)
    a = b = c = (0xDEADBEEF + n + initval) & _M32
    i = 0
    while n > 12:
        a = (a + int.from_bytes(data[i : i + 4], "little")) & _M32
        b = (b + int.from_bytes(data[i + 4 : i + 8], "little")) & _M32
        c = (c + int.from_bytes(data[i + 8 : i + 12], "little")) & _M32
        a = (a - c) & _M32; a ^= _rot(c, 4); c = (c + b) & _M32
        b = (b - a) & _M32; b ^= _rot(a, 6); a = (a + c) & _M32
        c = (c - b) & _M32; c ^= _rot(b, 8); b = (b + a) & _M32
        a = (a - c) & _M32; a ^= _rot(c, 16); c = (c + b) & _M32
        b = (b - a) & _M32; b ^= _rot(a, 19); a = (a + c) & _M32
        c = (c - b) & _M32; c ^= _rot(b, 4); b = (b + a) & _M32
        i += 12
        n -= 12
    if n == 0:
        return c
    tail = bytes(data[i:]) + b"\x00" * (12 - n)
    a = (a + int.from_bytes(tail[0:4], "little")) & _M32
    b = (b + int.from_bytes(tail[4:8], "little")) & _M32
    c = (c + int.from_bytes(tail[8:12], "little")) & _M32
    c ^= b; c = (c - _rot(b, 14)) & _M32
    a ^= c; a = (a - _rot(c, 11)) & _M32
    b ^= a; b = (b - _rot(a, 25)) & _M32
    c ^= b; c = (c - _rot(b, 16)) & _M32
    a ^= c; a = (a - _rot(c, 4)) & _M32
    b ^= a; b = (b - _rot(a, 14)) & _M32
    c ^= b; c = (c - _rot(b, 24)) & _M32
    return c


# -- message bodies ---------------------------------------------------------


def _string_type(size: int) -> bytes:
    # class 3, version 1; null-terminated, ASCII
    return bytes([0x13, 0x00, 0x00, 0x00]) + struct.pack("<I", size)


def _number_type(dtype: str) -> bytes:
    if dtype == "i8":  # class 0, signed, little-endian
        return bytes([0x10, 0x08, 0x00, 0x00]) + struct.pack("<IHH", 8, 0, 64)
    if dtype == "f8":  # class 1, IEEE 754 binary64
        return bytes([0x11, 0x20, 0x3F, 0x00]) + struct.pack(
            "<IHHBBBBI", 8, 0, 64, 52, 11, 0, 52, 1023
        )
    if dtype == "f4":  # class 1, IEEE 754 binary32
        return bytes([0x11, 0x20, 0x1F, 0x00]) + struct.pack(
            "<IHHBBBBI", 4, 0, 32, 23, 8, 0, 23, 127
        )
    raise ValueError(f"unsupported dtype {dtype!r}")


_PACK = {"i8": "q", "f8": "d", "f4": "f"}


def _encode_value(value, dtype: str) -> tuple[bytes, bytes, bytes]:
    """-> (datatype message, dataspace message, raw element bytes)."""
    if isinstance(value, str):
        raw = value.encode("utf-8") + b"\x00"
        return _string_type(len(raw)), _dataspace(None), raw
    if isinstance(value, (list, tuple)):
        raw = struct.pack(f"<{len(value)}{_PACK[dtype]}", *value)
        return _number_type(dtype), _dataspace(len(value)), raw
    if dtype == "i8" and not isinstance(value, int):
        raise ValueError(f"int64 dataset given {value!r}")
    raw = struct.pack(f"<{_PACK[dtype]}", value)
    return _number_type(dtype), _dataspace(None), raw


def _dataspace(n: int | None) -> bytes:
    if n is None:  # version 2, scalar
        return bytes([2, 0, 0, 0])
    return bytes([2, 1, 0, 1]) + struct.pack("<Q", n)


def _attribute(name: str, value: str) -> bytes:
    dt, ds, raw = _encode_value(value, "")
    bname = name.encode("utf-8") + b"\x00"
    head = struct.pack("<BBHHHB", 3, 0, len(bname), len(dt), len(ds), 0)
    return head + bname + dt + ds + raw


def _link(name: str, addr: int) -> bytes:
    bname = name.encode("utf-8")
    if len(bname) > 255:
        raise ValueError(f"link name too long: {name!r}")
    return bytes([1, 0, len(bname)]) + bname + struct.pack("<Q", addr)


def _object_header(messages: list[tuple[int, bytes]]) -> bytes:
    body = b"".join(
        struct.pack("<BHB", mtype, len(msg), 0) + msg for mtype, msg in messages
    )
    # flags 0x02: chunk #0 size stored in 4 bytes
    head = b"OHDR" + bytes([2, 0x02]) + struct.pack("<I", len(body))
    block = head + body
    return block + struct.pack("<I", lookup3(block))


class _Layout:
    def __init__(self) -> None:
        self.buf = bytearray(b"\x00" * 48)  # superblock, filled in last

    def put(self, blob: bytes) -> int:
        addr = len(self.buf)
        self.buf += blob
        self.buf += b"\x00" * (-len(self.buf) % 8)
        return addr

    def node(self, obj) -> int:
        attrs = [(0x0C, _attribute(k, v)) for k, v in obj.attrs.items()]
        if isinstance(obj, Group):
            links = [(0x06, _link(name, self.node(child))) for name, child in obj.children.items()]
            linfo = bytes([0, 0]) + struct.pack("<QQ", UNDEF, UNDEF)
            msgs = [(0x02, linfo), (0x0A, bytes([0, 0]))] + links + attrs
            return self.put(_object_header(msgs))
        dt, ds, raw = _encode_value(obj.value, obj.dtype)
        data_addr = self.put(raw)
        layout = bytes([3, 1]) + struct.pack("<QQ", data_addr, len(raw))
        fill = bytes([3, 0x09])  # early allocation, no fill value defined
        msgs = [(0x01, ds), (0x03, dt), (0x05, fill), (0x08, layout)] + attrs
        return self.put(_object_header(msgs))


def encode(root: Group) -> bytes:
    lay = _Layout()
    root_addr = lay.node(root)
    eof = len(lay.buf)
    sb = b"\x89HDF\r\n\x1a\n" + bytes([2, 8, 8, 0]) + struct.pack(
        "<QQQQ", 0, UNDEF, eof, root_addr
    )
    lay.buf[:48] = sb + struct.pack("<I", lookup3(sb))
    return bytes(lay.buf)


def write(path: str, root: Group) -> None:
    with open(path, "wb") as fh:
        fh.write(encode(root))

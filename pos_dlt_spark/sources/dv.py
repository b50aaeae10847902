"""Deletion-vector codec for the Delta protocol — pure-Python, built from
the PUBLIC specs only:

- Delta PROTOCOL.md "Deletion Vectors": descriptor schema on the add
  action (``storageType`` u/i/p, ``pathOrInlineDv``, ``offset``,
  ``sizeInBytes``, ``cardinality``), the on-disk DV file layout (1-byte
  format version, then per-DV ``<dataSize: int32 BE><bitmap bytes>
  <CRC-32 of bitmap bytes: int32 BE>``), and Z85 path/inline encoding.
- The RoaringBitmapArray "portable" serialization the bitmap bytes use:
  ``<magic 1681511377: int32 LE><number of 32-bit bitmaps: int64 LE>``
  followed by that many standard portable-format 32-bit Roaring bitmaps,
  one per high-32-bit key in increasing DENSE order (bitmap i holds the
  low 32 bits of values whose high bits equal i).
- The public RoaringFormatSpec for each 32-bit bitmap: cookie 12347
  (run-containers present, container count in the cookie's high 16 bits)
  or 12346 (+ separate count word), descriptive header of (key,
  cardinality-1) pairs, optional offset header, then array (sorted
  uint16 list), bitmap (1024×uint64), or run (count + (start, length)
  pairs) containers.

Everything here is driver-side METADATA work bounded by DV size — the
row-level filtering itself stays a distributed JVM anti-join in
``sources/delta.py`` (no Python touches data rows).
"""

from __future__ import annotations

import struct
import zlib

_MAGIC = 1681511377
_SERIAL_COOKIE = 12347
_SERIAL_COOKIE_NO_RUN = 12346
_NO_OFFSET_THRESHOLD = 4

_Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_DECODE = {c: i for i, c in enumerate(_Z85_ALPHABET)}


class DeletionVectorError(Exception):
    """Malformed or unsupported deletion-vector payload."""


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise DeletionVectorError(f"z85 input must be 4-byte aligned, got {len(data)}")
    out = []
    for i in range(0, len(data), 4):
        (v,) = struct.unpack(">I", data[i : i + 4])
        chunk = []
        for _ in range(5):
            chunk.append(_Z85_ALPHABET[v % 85])
            v //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise DeletionVectorError(f"z85 text length must be a multiple of 5, got {len(text)}")
    out = bytearray()
    for i in range(0, len(text), 5):
        v = 0
        for c in text[i : i + 5]:
            try:
                v = v * 85 + _Z85_DECODE[c]
            except KeyError:
                raise DeletionVectorError(f"invalid z85 character {c!r}") from None
        out += struct.pack(">I", v)
    return bytes(out)


# -- 32-bit roaring bitmap (portable format) --------------------------------


def _decode_roaring32(buf: memoryview, pos: int) -> tuple[list[int], int]:
    """Decode one standard portable 32-bit Roaring bitmap starting at
    ``pos``; returns (sorted low-32 values, next position)."""
    (cookie,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        run_flags = bytes(buf[pos : pos + (n + 7) // 8])
        pos += (n + 7) // 8
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        run_flags = b"\x00" * ((n + 7) // 8)
    else:
        raise DeletionVectorError(f"bad roaring cookie {cookie}")
    keys: list[int] = []
    cards: list[int] = []
    for i in range(n):
        k, c = struct.unpack_from("<HH", buf, pos)
        pos += 4
        keys.append(k)
        cards.append(c + 1)
    has_run = (cookie & 0xFFFF) == _SERIAL_COOKIE
    if (not has_run) or n >= _NO_OFFSET_THRESHOLD:
        pos += 4 * n  # offset header — containers follow sequentially anyway
    values: list[int] = []
    for i in range(n):
        base = keys[i] << 16
        if run_flags[i // 8] & (1 << (i % 8)):
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            for _ in range(n_runs):
                start, length = struct.unpack_from("<HH", buf, pos)
                pos += 4
                values.extend(range(base + start, base + start + length + 1))
        elif cards[i] > 4096:
            words = struct.unpack_from("<1024Q", buf, pos)
            pos += 8192
            for wi, w in enumerate(words):
                while w:
                    b = w & -w
                    values.append(base + (wi << 6) + b.bit_length() - 1)
                    w ^= b
        else:
            vals = struct.unpack_from(f"<{cards[i]}H", buf, pos)
            pos += 2 * cards[i]
            values.extend(base + v for v in vals)
    return values, pos


def _encode_roaring32(values: list[int]) -> bytes:
    """Encode sorted low-32 values as a portable 32-bit Roaring bitmap
    (array/bitmap containers only — always valid, runs are an optional
    optimization)."""
    containers: dict[int, list[int]] = {}
    for v in values:
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    n = len(keys)
    out = bytearray()
    out += struct.pack("<II", _SERIAL_COOKIE_NO_RUN, n)
    for k in keys:
        out += struct.pack("<HH", k, len(containers[k]) - 1)
    # offset header (mandatory for the no-run cookie)
    offset = len(out) + 4 * n
    for k in keys:
        out += struct.pack("<I", offset)
        offset += 8192 if len(containers[k]) > 4096 else 2 * len(containers[k])
    for k in keys:
        vals = containers[k]
        if len(vals) > 4096:
            words = [0] * 1024
            for v in vals:
                words[v >> 6] |= 1 << (v & 63)
            out += struct.pack("<1024Q", *words)
        else:
            out += struct.pack(f"<{len(vals)}H", *vals)
    return bytes(out)


# -- header-only / run-level / vectorized views of a bitmap -----------------
#
# The read path must NEVER materialize one Python object per deleted row
# for large DVs (a 100 TB table with 0.1% deleted is ~1e9 rows — ~100 GB
# of driver tuples where the compressed bitmaps are megabytes). These
# three views keep every cost bounded by the BITMAP's size, not the
# deleted-row count: cardinality from container headers alone, runs for
# small/clustered DVs (JVM range anti-join), and a numpy-backed
# membership structure for the executor-side vectorized filter.


def _walk_containers(data: bytes):
    """Yield (high32, key16, kind, payload_view) per container without
    materializing values. kind is 'array' | 'bitmap' | 'run'."""
    if len(data) < 12:
        raise DeletionVectorError(f"DV bitmap too short ({len(data)} bytes)")
    magic, n_bitmaps = struct.unpack_from("<iq", data, 0)
    if magic != _MAGIC:
        raise DeletionVectorError(f"bad DV magic {magic} (expected {_MAGIC})")
    buf = memoryview(data)
    pos = 12
    for high in range(n_bitmaps):
        (cookie,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        if (cookie & 0xFFFF) == _SERIAL_COOKIE:
            n = (cookie >> 16) + 1
            run_flags = bytes(buf[pos : pos + (n + 7) // 8])
            pos += (n + 7) // 8
        elif cookie == _SERIAL_COOKIE_NO_RUN:
            (n,) = struct.unpack_from("<I", buf, pos)
            pos += 4
            run_flags = b"\x00" * ((n + 7) // 8)
        else:
            raise DeletionVectorError(f"bad roaring cookie {cookie}")
        keys, cards = [], []
        for i in range(n):
            k, c = struct.unpack_from("<HH", buf, pos)
            pos += 4
            keys.append(k)
            cards.append(c + 1)
        has_run = (cookie & 0xFFFF) == _SERIAL_COOKIE
        if (not has_run) or n >= _NO_OFFSET_THRESHOLD:
            pos += 4 * n
        for i in range(n):
            if run_flags[i // 8] & (1 << (i % 8)):
                (n_runs,) = struct.unpack_from("<H", buf, pos)
                size = 2 + 4 * n_runs
                yield high, keys[i], "run", buf[pos + 2 : pos + size]
            elif cards[i] > 4096:
                size = 8192
                yield high, keys[i], "bitmap", buf[pos : pos + size]
            else:
                size = 2 * cards[i]
                yield high, keys[i], "array", buf[pos : pos + size]
            pos += size


def bitmap_cardinality(data: bytes) -> int:
    """Deleted-row count from container HEADERS only (no value decode;
    run containers sum their lengths)."""
    total = 0
    for _h, _k, kind, payload in _walk_containers(data):
        if kind == "run":
            n_runs = len(payload) // 4
            total += sum(
                struct.unpack_from("<HH", payload, 4 * r)[1] + 1
                for r in range(n_runs)
            )
        elif kind == "bitmap":
            total += sum(bin(w).count("1") for w in struct.unpack(f"<{len(payload)//8}Q", payload))
        else:
            total += len(payload) // 2
    return total


def decode_dv_runs(
    data: bytes, max_runs: int | None = None
) -> list[tuple[int, int]] | None:
    """Bitmap -> maximal sorted [start, end] runs of deleted row indices.
    Memory is O(runs) (clustered deletes compress massively; a fully
    scattered DV degenerates to one run per row). ``max_runs`` aborts the
    decode and returns None as soon as the run count provably exceeds it
    (checked per container, so the overshoot is bounded by one
    container's 65,536 values) — the caller's signal to answer this
    bitmap by membership probe instead of run rendering."""
    import numpy as np

    runs: list[tuple[int, int]] = []

    def push(start: int, end: int) -> None:
        if runs and start == runs[-1][1] + 1:
            runs[-1] = (runs[-1][0], end)
        else:
            runs.append((start, end))

    for high, key, kind, payload in _walk_containers(data):
        base = (high << 32) | (key << 16)
        if kind == "run":
            for r in range(len(payload) // 4):
                s, ln = struct.unpack_from("<HH", payload, 4 * r)
                push(base + s, base + s + ln)
        else:
            if kind == "bitmap":
                words = np.frombuffer(payload, dtype=np.uint64)
                bits = np.unpackbits(words.view(np.uint8), bitorder="little")
                vals = np.nonzero(bits)[0]
            else:
                vals = np.sort(np.frombuffer(payload, dtype=np.uint16).astype(np.int64))
            if len(vals) == 0:
                continue
            # split sorted values into consecutive runs, vectorized
            breaks = np.nonzero(np.diff(vals) != 1)[0]
            starts = np.concatenate(([0], breaks + 1))
            ends = np.concatenate((breaks, [len(vals) - 1]))
            for s, e in zip(starts, ends):
                push(base + int(vals[s]), base + int(vals[e]))
        if max_runs is not None and len(runs) > max_runs:
            return None
    return runs


class DvMembership:
    """Vectorized deleted-row membership over the SERIALIZED bitmap —
    executor-side memory rides the compressed container sizes, never the
    deleted-row count. ``contains`` answers a whole Arrow batch of row
    indices with numpy ops (searchsorted / bit probes), the shape the
    pandas-UDF DV filter needs."""

    def __init__(self, data: bytes):
        import numpy as np

        self._containers: dict[int, tuple] = {}
        for high, key, kind, payload in _walk_containers(data):
            ckey = (high << 16) | key
            if kind == "array":
                arr = np.sort(np.frombuffer(payload, dtype=np.uint16).astype(np.int32))
                self._containers[ckey] = ("a", arr)
            elif kind == "bitmap":
                self._containers[ckey] = ("b", np.frombuffer(payload, dtype=np.uint64))
            else:
                pairs = np.frombuffer(payload, dtype=np.uint16).astype(np.int32)
                starts = pairs[0::2]
                ends = starts + pairs[1::2]
                order = np.argsort(starts, kind="stable")
                self._containers[ckey] = ("r", starts[order], ends[order])

    def contains(self, values) -> "object":
        """values: int64 array of row indices -> bool array. One stable
        sort groups the batch by container (contiguous slices), so total
        cost is O(n log n) + vectorized probes — NOT O(n x containers)
        (the naive per-container full-array mask measured 19 s for a
        24M-row batch over 367 containers; this shape runs it in ~1 s)."""
        import numpy as np

        v = np.asarray(values, dtype=np.int64)
        out = np.zeros(len(v), dtype=bool)
        if not len(v):
            return out
        hi = v >> 16
        order = np.argsort(hi, kind="stable")
        sh = hi[order]
        uniq, starts = np.unique(sh, return_index=True)
        bounds = np.append(starts, len(sh))
        for j, ckey in enumerate(uniq):
            c = self._containers.get(int(ckey))
            if c is None:
                continue
            sel = order[starts[j] : bounds[j + 1]]
            lows = (v[sel] & 0xFFFF).astype(np.int32)
            if c[0] == "a":
                arr = c[1]
                idx = np.searchsorted(arr, lows)
                ok = (idx < len(arr)) & (arr[np.minimum(idx, len(arr) - 1)] == lows)
            elif c[0] == "b":
                words = c[1]
                ok = (
                    (words[lows >> 6] >> (lows & 63).astype(np.uint64))
                    & np.uint64(1)
                ).astype(bool)
            else:
                starts_r, ends_r = c[1], c[2]
                idx = np.searchsorted(starts_r, lows, side="right") - 1
                ok = (idx >= 0) & (lows <= ends_r[np.maximum(idx, 0)])
            out[sel] = ok
        return out


# -- 64-bit RoaringBitmapArray (Delta's DV payload) -------------------------


def decode_dv_numpy(data: bytes):
    """Serialized RoaringBitmapArray -> sorted int64 numpy array of
    deleted row indices — the executor-side bulk decode (no per-row
    Python objects; a 10M-row DV is one 80 MB array)."""
    import numpy as np

    parts = []
    for high, key, kind, payload in _walk_containers(data):
        base = (high << 32) | (key << 16)
        if kind == "run":
            pairs = np.frombuffer(payload, dtype=np.uint16).astype(np.int64)
            starts, lens = pairs[0::2], pairs[1::2]
            for s, ln in zip(starts, lens):
                parts.append(base + np.arange(s, s + ln + 1, dtype=np.int64))
        elif kind == "bitmap":
            words = np.frombuffer(payload, dtype=np.uint64)
            bits = np.unpackbits(words.view(np.uint8), bitorder="little")
            parts.append(base + np.nonzero(bits)[0].astype(np.int64))
        else:
            vals = np.sort(np.frombuffer(payload, dtype=np.uint16).astype(np.int64))
            parts.append(base + vals)
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.concatenate(parts)


def encode_dv_bitmap_np(indices) -> bytes:
    """Vectorized encoder: int64 numpy array (any order, dups ok) ->
    serialized RoaringBitmapArray. Container building is numpy-side
    (packbits / tobytes), so a 10M-row DV encodes in well under a
    second where the per-value Python encoder takes ~10 s."""
    import numpy as np

    idx = np.unique(np.asarray(indices, dtype=np.int64))
    if len(idx) and idx[0] < 0:
        raise DeletionVectorError("negative row index")
    n_bitmaps = int(idx[-1] >> 32) + 1 if len(idx) else 0
    out = bytearray(struct.pack("<iq", _MAGIC, n_bitmaps))
    highs = idx >> 32
    for h in range(n_bitmaps):
        lo32 = (idx[highs == h] & 0xFFFFFFFF).astype(np.int64)
        out += _encode_roaring32_np(lo32)
    return bytes(out)


def _encode_roaring32_np(vals) -> bytes:
    """Sorted unique low-32 values (int64 numpy) -> one portable 32-bit
    roaring bitmap (array/bitmap containers)."""
    import numpy as np

    keys16 = (vals >> 16).astype(np.int64)
    uniq, starts = np.unique(keys16, return_index=True)
    bounds = np.append(starts, len(vals))
    n = len(uniq)
    out = bytearray()
    out += struct.pack("<II", _SERIAL_COOKIE_NO_RUN, n)
    cards = [int(bounds[j + 1] - starts[j]) for j in range(n)]
    for j in range(n):
        out += struct.pack("<HH", int(uniq[j]), cards[j] - 1)
    offset = len(out) + 4 * n
    for j in range(n):
        out += struct.pack("<I", offset)
        offset += 8192 if cards[j] > 4096 else 2 * cards[j]
    for j in range(n):
        lows = (vals[starts[j] : bounds[j + 1]] & 0xFFFF).astype(np.uint16)
        if cards[j] > 4096:
            bits = np.zeros(65536, dtype=np.uint8)
            bits[lows.astype(np.int64)] = 1
            out += np.packbits(bits, bitorder="little").tobytes()
        else:
            out += lows.astype("<u2").tobytes()
    return bytes(out)


def decode_dv_bitmap(data: bytes) -> list[int]:
    """Serialized RoaringBitmapArray -> sorted list of deleted row
    indices."""
    if len(data) < 12:
        raise DeletionVectorError(f"DV bitmap too short ({len(data)} bytes)")
    magic, n_bitmaps = struct.unpack_from("<iq", data, 0)
    if magic != _MAGIC:
        raise DeletionVectorError(f"bad DV magic {magic} (expected {_MAGIC})")
    buf = memoryview(data)
    pos = 12
    out: list[int] = []
    for high in range(n_bitmaps):
        lows, pos = _decode_roaring32(buf, pos)
        out.extend((high << 32) | lo for lo in lows)
    return out


def encode_dv_bitmap(indices: list[int]) -> bytes:
    """Sorted/unsorted row indices -> serialized RoaringBitmapArray
    (dense high-key order, the portable layout)."""
    idx = sorted(set(int(i) for i in indices))
    if idx and idx[0] < 0:
        raise DeletionVectorError("negative row index")
    n_bitmaps = (idx[-1] >> 32) + 1 if idx else 0
    groups: dict[int, list[int]] = {h: [] for h in range(n_bitmaps)}
    for v in idx:
        groups[v >> 32].append(v & 0xFFFFFFFF)
    out = bytearray(struct.pack("<iq", _MAGIC, n_bitmaps))
    for h in range(n_bitmaps):
        out += _encode_roaring32(groups[h])
    return bytes(out)


# -- DV file + descriptor ---------------------------------------------------


def write_dv_file(path: str, bitmaps: list[bytes]) -> list[tuple[int, int]]:
    """Write a DV file holding the given serialized bitmaps; returns
    [(offset, sizeInBytes), ...] for the descriptors. Layout per the
    protocol: 1-byte format version, then per DV
    ``<dataSize BE><data><crc32(data) BE>``."""
    entries = []
    with open(path, "wb") as fh:
        fh.write(b"\x01")
        pos = 1
        for data in bitmaps:
            fh.write(struct.pack(">i", len(data)))
            fh.write(data)
            fh.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
            entries.append((pos, len(data)))
            pos += 4 + len(data) + 4
    return entries


def read_dv_bytes(table_path: str, dv: dict) -> bytes:
    """Resolve an add action's deletionVector descriptor to the
    SERIALIZED bitmap bytes (CRC/size/cardinality validated) without
    decoding any row index — what the scale read path broadcasts.
    Supports storageType 'i' (inline z85), 'u' (relative UUID file) and
    'p' (absolute path); anything else fails loudly."""
    import os
    import uuid as _uuid

    st = dv.get("storageType")
    payload = dv.get("pathOrInlineDv", "")
    if st == "i":
        data = z85_decode(payload)[: int(dv["sizeInBytes"])]
    elif st in ("u", "p"):
        if st == "u":
            # last 20 chars: z85 of the 16-byte UUID; anything before is a
            # random path prefix directory
            prefix, enc = payload[:-20], payload[-20:]
            u = _uuid.UUID(bytes=z85_decode(enc))
            fname = f"deletion_vector_{u}.bin"
            fpath = os.path.join(table_path, prefix, fname) if prefix else os.path.join(
                table_path, fname
            )
        else:
            fpath = payload
        offset = int(dv.get("offset") or 0)
        size = int(dv["sizeInBytes"])
        with open(fpath, "rb") as fh:
            fh.seek(offset)
            (declared,) = struct.unpack(">i", fh.read(4))
            if declared != size:
                raise DeletionVectorError(
                    f"DV size mismatch at {fpath}:{offset}: file says {declared}, "
                    f"descriptor says {size}"
                )
            data = fh.read(size)
            (crc,) = struct.unpack(">I", fh.read(4))
            if zlib.crc32(data) & 0xFFFFFFFF != crc:
                raise DeletionVectorError(f"DV checksum mismatch at {fpath}:{offset}")
    else:
        raise DeletionVectorError(f"unsupported DV storageType {st!r}")
    card = dv.get("cardinality")
    if card is not None and int(card) != bitmap_cardinality(data):
        raise DeletionVectorError(
            f"DV cardinality mismatch: descriptor {card}, "
            f"bitmap {bitmap_cardinality(data)}"
        )
    return data


def read_dv_descriptor(table_path: str, dv: dict) -> list[int]:
    """Descriptor -> sorted deleted row indices (one Python int per row —
    fine for commit-scale deltas; the SNAPSHOT read path uses
    :func:`read_dv_bytes` + runs/membership views instead)."""
    return decode_dv_bitmap(read_dv_bytes(table_path, dv))


def dv_relative_path(dv: dict) -> str | None:
    """Table-relative sidecar path for a descriptor, or None when the DV
    is inline ('i') or lives at an absolute path ('p' — outside the table
    root, never vacuum's to collect)."""
    import uuid as _uuid

    if dv.get("storageType") != "u":
        return None
    payload = dv.get("pathOrInlineDv", "")
    prefix, enc = payload[:-20], payload[-20:]
    u = _uuid.UUID(bytes=z85_decode(enc))
    fname = f"deletion_vector_{u}.bin"
    return f"{prefix}/{fname}" if prefix else fname


def make_dv_descriptor_bytes(
    table_path: str, data: bytes, cardinality: int, inline_threshold: int = 512
) -> dict:
    """Descriptor (and sidecar file when above the inline threshold)
    from ALREADY-ENCODED bitmap bytes — the writer half when the bitmap
    was built executor-side and the driver never saw row indices."""
    import os
    import uuid as _uuid

    if len(data) <= inline_threshold:
        pad = (-len(data)) % 4
        return {
            "storageType": "i",
            "pathOrInlineDv": z85_encode(data + b"\x00" * pad),
            "offset": None,
            "sizeInBytes": len(data),
            "cardinality": cardinality,
        }
    u = _uuid.uuid4()
    fname = f"deletion_vector_{u}.bin"
    entries = write_dv_file(os.path.join(table_path, fname), [data])
    return {
        "storageType": "u",
        "pathOrInlineDv": z85_encode(u.bytes),
        "offset": entries[0][0],
        "sizeInBytes": entries[0][1],
        "cardinality": cardinality,
    }

#!/usr/bin/env python3
"""Writes the hand-built `.bin` decoder fixtures under
src/test/resources/bin-layout/, one per encoded segment type.

Every byte follows the layout documented on `graft.sources.BinFormat`
(little-endian), written field by field here so the fixtures do not depend on
the Scala reader they check. The rows are the golden rows of BinFormatSpec.
The files are committed; rerun this script only when the layout changes:

    python3 tools/make_bin_fixtures.py
"""
import os
import struct

OUT = os.path.join(os.path.dirname(__file__), "..", "src", "test", "resources", "bin-layout")


def u8(v): return struct.pack("<B", v)
def u16(v): return struct.pack("<H", v)
def u32(v): return struct.pack("<I", v)
def u64(v): return struct.pack("<Q", v)


FORMATS = {"int": "<i", "long": "<q", "float": "<f", "double": "<d"}


def strings(vs):
    """String array: lengths u64 x n, then the concatenated UTF-8 bytes."""
    bs = [v.encode("utf-8") for v in vs]
    return b"".join(u64(len(b)) for b in bs) + b"".join(bs)


def values(t, vs):
    return strings(vs) if t == "string" else b"".join(struct.pack(FORMATS[t], v) for v in vs)


def header(chunk_size, chunk_count, columns):
    """columns: [(name, type, nullable)]"""
    return (u32(chunk_size) + u32(chunk_count) + u16(len(columns))
            + strings([t for _, t, _ in columns])
            + b"".join(u8(1 if n else 0) for _, _, n in columns)
            + strings([name for name, _, _ in columns]))


def chunk(rows, segments):
    return u32(rows) + u32(0) + b"".join(segments)  # no sorted columns


def bit_packed(ids, width):
    """Compressed vector type 0: width u8, then u64 words filled LSB-first."""
    acc = 0
    for i, v in enumerate(ids):
        assert v < (1 << width)
        acc |= v << (i * width)
    n_words = (len(ids) * width + 63) // 64
    return u8(width) + b"".join(u64((acc >> (64 * w)) & (2**64 - 1)) for w in range(n_words))


def id_vector(vector_type, ids, width=None):
    """Compressed vector: 0 bit-packed, 1/2/3 fixed-width 1/2/4-byte ids."""
    if vector_type == 0:
        return bit_packed(ids, width)
    fmt = {1: "<B", 2: "<H", 3: "<I"}[vector_type]
    return b"".join(struct.pack(fmt, i) for i in ids)


def dictionary(t, col, vector_type, width=None):
    """Encoding 1: vector_type u8 | dict_size u32 | values | ids; NULL id = dict_size."""
    dic = sorted({v for v in col if v is not None})
    ids = [len(dic) if v is None else dic.index(v) for v in col]
    return u8(1) + u8(vector_type) + u32(len(dic)) + values(t, dic) + id_vector(vector_type, ids, width)


def run_length(t, col):
    """Encoding 2: run_count u32 | run values | run null flags | inclusive ends u32."""
    runs = []  # [value, end]
    for i, v in enumerate(col):
        if runs and runs[-1][0] == v:
            runs[-1][1] = i
        else:
            runs.append([v, i])
    zero = "" if t == "string" else 0
    return (u8(2) + u32(len(runs)) + values(t, [zero if v is None else v for v, _ in runs])
            + b"".join(u8(1 if v is None else 0) for v, _ in runs)
            + b"".join(u32(e) for _, e in runs))


def lz4_literal_block(data):
    """One LZ4 block holding a single literal-only sequence."""
    n = len(data)
    if n < 15:
        return u8(n << 4) + data
    rest, ext = n - 15, b""
    while rest >= 255:
        ext += u8(255)
        rest -= 255
    return u8(15 << 4) + ext + u8(rest) + data


def lz4(t, col, block_size):
    """Encoding 5 without NULLs or dictionary, every block literal-only."""
    if t == "string":
        raw = [v.encode("utf-8") for v in col]
        data = b"".join(raw)
        offsets = [sum(len(r) for r in raw[:i]) for i in range(len(raw))]
    else:
        data, offsets = values(t, col), None
    blocks = [data[i:i + block_size] for i in range(0, len(data), block_size)]
    encoded = [lz4_literal_block(b) for b in blocks]
    out = (u8(5) + u32(len(col)) + u32(len(blocks)) + u32(block_size) + u32(len(blocks[-1]))
           + b"".join(u32(len(e)) for e in encoded) + b"".join(encoded)
           + u32(0)   # null_count: no null flags follow
           + u32(0))  # dict_size: no dictionary
    if offsets is None:
        return out + u32(0)
    return out + u32(len(offsets)) + bit_packed(offsets, max(offsets).bit_length())


# golden rows (BinFormatSpec)
ALL_TYPES = [("a", "string"), ("b", "int"), ("c", "long"), ("d", "float"), ("e", "double")]
ALL_TYPES_SORTED = [
    ("AAAAA", 1, 100, 1.1, 11.1),
    ("BBBBBBBBBB", 2, 200, 2.2, 22.2),
    ("CCCCCCCCCCCCCCC", 3, 300, 3.3, 33.3),
    ("DDDDDDDDDDDDDDDDDDDD", 4, 400, 4.4, 44.4)]
NULL_TYPES = [("a", "int"), ("b", "float"), ("c", "long"), ("d", "string"), ("e", "double")]
ALL_TYPES_NULLS = [
    (None, 1.1, 100, "one", 1.11),
    (2, None, 200, "two", 2.22),
    (3, 3.3, None, "three", 3.33),
    (4, 4.4, 400, None, 4.44),
    (5, 5.5, 500, "five", None)]
FSD_NULLS = ["This", "is", "a", None, "test", None]
FOR_NULLS = [1, None, 2, None, 5]


def columns(rows):
    return [list(c) for c in zip(*rows)]


def dictionary_file():
    """Both compressed vector kinds, and a NULL id in every column."""
    cols = columns(ALL_TYPES_NULLS)
    kinds = [(0, 3), (1, None), (2, None), (3, None), (0, 3)]  # (vector type, bit width)
    segs = [dictionary(t, c, vt, w) for (_, t), c, (vt, w) in zip(NULL_TYPES, cols, kinds)]
    return header(5, 1, [(n, t, True) for n, t in NULL_TYPES]) + chunk(5, segs)


def run_length_file():
    """A NULL run in every column, split over two chunks of sizes 3 and 2."""
    out = header(3, 2, [(n, t, True) for n, t in NULL_TYPES])
    for part in (ALL_TYPES_NULLS[:3], ALL_TYPES_NULLS[3:]):
        out += chunk(len(part), [run_length(t, c) for (_, t), c in zip(NULL_TYPES, columns(part))])
    return out


def fixed_string_dictionary_file():
    """Encoding 3: zero-padded dictionary strings and NULL ids."""
    dic = sorted({v for v in FSD_NULLS if v is not None}, key=lambda s: s.encode("utf-8"))
    width = max(len(v.encode("utf-8")) for v in dic)
    ids = [len(dic) if v is None else dic.index(v) for v in FSD_NULLS]
    seg = (u8(3) + u8(1) + u32(len(dic)) + u32(width)
           + b"".join(v.encode("utf-8").ljust(width, b"\0") for v in dic)
           + id_vector(1, ids))
    return header(len(FSD_NULLS), 1, [("a", "string", True)]) + chunk(len(FSD_NULLS), [seg])


def for_values():
    """4096 rows: FOR_NULLS repeated, the second 2048-row block shifted by 1000."""
    col = [FOR_NULLS[i % 5] for i in range(4096)]
    return [v if v is None or i < 2048 else v + 1000 for i, v in enumerate(col)]


def frame_of_reference_file():
    """Encoding 4: two blocks with their own minima, NULLs in both, 3-bit
    offsets (some straddle a u64 word)."""
    col = for_values()
    blocks = [col[i:i + 2048] for i in range(0, len(col), 2048)]
    minima = [min(v for v in b if v is not None) for b in blocks]
    offsets = [0 if v is None else v - minima[i // 2048] for i, v in enumerate(col)]
    seg = (u8(4) + u8(0) + u32(len(minima)) + b"".join(struct.pack("<i", m) for m in minima)
           + u8(1) + b"".join(u8(1 if v is None else 0) for v in col)
           + bit_packed(offsets, 3))
    return header(len(col), 1, [("a", "int", True)]) + chunk(len(col), [seg])


def lz4_file():
    """Encoding 5 in every column; the string (block size 32) and int (block
    size 8) columns span two blocks."""
    cols = columns(ALL_TYPES_SORTED)
    sizes = {"a": 32, "b": 8}
    segs = [lz4(t, c, sizes.get(n, 64)) for (n, t), c in zip(ALL_TYPES, cols)]
    return header(4, 1, [(n, t, False) for n, t in ALL_TYPES]) + chunk(4, segs)


FILES = {
    "Dictionary.bin": dictionary_file,
    "RunLength.bin": run_length_file,
    "FixedStringDictionary.bin": fixed_string_dictionary_file,
    "FrameOfReference.bin": frame_of_reference_file,
    "LZ4.bin": lz4_file,
}

if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    for name, make in FILES.items():
        with open(os.path.join(OUT, name), "wb") as f:
            f.write(make())
        print(name, os.path.getsize(os.path.join(OUT, name)), "bytes")

"""Blosc-1 chunk container + raw zstd/lz4/snappy codecs for zarr stores.

Blosc is the de-facto default zarr v2 compressor (numcodecs
``Blosc(cname='lz4', shuffle=SHUFFLE)``) and zstd is zarr-python 3's
default codec, so reading wild zarr stores requires both. The blosc-1
chunk layout is a PUBLIC documented format (c-blosc
``README_CHUNK_FORMAT.rst``):

- 16-byte header: ``version, versionlz, flags, typesize`` (4 × u8) then
  ``nbytes, blocksize, cbytes`` (3 × u32le; all sizes of THIS chunk).
- flags: bit 0 byte-shuffle, bit 1 memcpy (payload stored raw right
  after the header), bit 2 bit-shuffle, bit 4 dont-split (written by
  c-blosc ≥ 1.14 so decoders need no policy table), bits 5-7 the inner
  codec FORMAT: 0 blosclz, 1 lz4/lz4hc, 2 snappy, 3 zlib, 4 zstd.
- then ``nblocks`` u32le block-start offsets (``bstarts``, absolute
  within the chunk), each block compressed independently; a block is
  either ONE stream or — when the dont-split bit is clear and the block
  is not the trailing partial block — ``typesize`` consecutive streams
  of ``block/typesize`` bytes each. Every stream is ``[u32le csize]
  [payload]``; ``csize == uncompressed size`` marks a raw-stored stream.
- byte-shuffle is per block: the block's ``n`` elements of ``typesize``
  bytes are transposed to ``typesize`` lanes of ``n`` bytes (leftover
  ``block % typesize`` tail bytes ride unshuffled at the end).

Inner codecs: zlib via the stdlib; lz4 (block format), zstd and snappy
via ``pyarrow.Codec`` (Arrow is already the engine's UDF transport, and
its C++ codecs run at native speed — no pure-Python decode loops in the
chunk path); blosclz (the c-blosc DEFAULT cname — a FastLZ-derived
token stream) in-module. Bit-shuffle (the numcodecs int-data default)
is the numpy bit transpose in ``_bit_shuffle``/``_bit_unshuffle``.

Decoding runs inside the distributed chunk scan (``mapInPandas`` over
``binaryFile`` rows), one chunk per call — no driver loops, no state.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SHUFFLE = 0x1
_MEMCPY = 0x2
_BITSHUFFLE = 0x4
_DONT_SPLIT = 0x10

#: flags bits 5-7 — the inner codec FORMAT code
_FMT_BLOSCLZ, _FMT_LZ4, _FMT_SNAPPY, _FMT_ZLIB, _FMT_ZSTD = 0, 1, 2, 3, 4
_FMT_NAMES = {_FMT_BLOSCLZ: "blosclz", _FMT_LZ4: "lz4", _FMT_SNAPPY: "snappy",
              _FMT_ZLIB: "zlib", _FMT_ZSTD: "zstd"}
_FMT_CODES = {"blosclz": _FMT_BLOSCLZ, "lz4": _FMT_LZ4, "lz4hc": _FMT_LZ4,
              "snappy": _FMT_SNAPPY, "zlib": _FMT_ZLIB, "zstd": _FMT_ZSTD}


def raw_decompress(name: str, buf: bytes, nout: int) -> bytes:
    """One raw codec stream → ``nout`` bytes. ``lz4`` is the BLOCK format
    (no embedded size — ``nout`` is required), ``zstd`` a standard frame,
    ``snappy`` a raw block, ``zlib``/``gzip`` stdlib streams."""
    if name == "zlib":
        out = zlib.decompress(buf)
    elif name == "gzip":
        import gzip

        out = gzip.decompress(buf)
    elif name == "blosclz":
        out = blosclz_decompress(buf, nout)
    else:
        import pyarrow as pa

        arrow = {"lz4": "lz4_raw", "zstd": "zstd", "snappy": "snappy"}
        if name not in arrow:
            raise NotImplementedError(f"unsupported codec {name!r}")
        out = pa.Codec(arrow[name]).decompress(
            buf, decompressed_size=nout, asbytes=True
        )
    if len(out) != nout:
        raise ValueError(
            f"{name} stream decoded to {len(out)} bytes, expected {nout}"
        )
    return out


def raw_compress(name: str, buf: bytes, level: "int | None" = None) -> bytes:
    """One raw codec stream (write-side twin of :func:`raw_decompress`)."""
    if name == "zlib":
        return zlib.compress(buf, 6 if level is None else int(level))
    if name == "gzip":
        import gzip

        # mtime=0: the header's time stamp would make every write differ
        return gzip.compress(
            buf, compresslevel=6 if level is None else int(level), mtime=0
        )
    if name == "blosclz":
        return blosclz_compress(buf)
    import pyarrow as pa

    arrow = {"lz4": "lz4_raw", "zstd": "zstd", "snappy": "snappy"}
    if name not in arrow:
        raise NotImplementedError(f"unsupported codec {name!r}")
    lvl = None
    if name == "zstd" and level is not None:
        # blosc clevel 1-9 maps into zstd's 1-22 range; identity is fine
        lvl = max(1, min(22, int(level)))
    return pa.Codec(arrow[name], compression_level=lvl).compress(
        buf, asbytes=True
    )


def blosclz_decompress(buf: bytes, nout: int) -> bytes:
    """One blosclz stream → ``nout`` bytes. BloscLZ is c-blosc's default
    cname — a FastLZ-derived LZ77 with the level-2 extras (255-chained
    length extensions, 16-bit far distances past 8191): literal tokens
    ``ctrl < 32`` copy ``ctrl+1`` input bytes; match tokens carry a
    3-bit biased length (7 → chained extension bytes), a 13-bit biased
    distance (``(ctrl & 31) << 8 | code``), and the ``code == 255,
    ofs == 31 << 8`` escape for two-byte far distances. Distance 0 is a
    run of the previous output byte."""
    n = len(buf)
    if n == 0 or nout == 0:
        if nout:
            raise ValueError("empty blosclz stream with nonzero output")
        return b""
    out = bytearray()
    try:
        ip = 1
        ctrl = buf[0] & 31
        while True:
            if ctrl >= 32:
                ln = (ctrl >> 5) - 1
                ofs = (ctrl & 31) << 8
                if ln == 6:  # length field 7: chained extensions
                    while True:
                        code = buf[ip]
                        ip += 1
                        ln += code
                        if code != 255:
                            break
                code = buf[ip]
                ip += 1
                dist = ofs + code  # effective source = out[-dist-1]
                if code == 255 and ofs == (31 << 8):
                    dist = ((buf[ip] << 8) | buf[ip + 1]) + 8191
                    ip += 2
                total = ln + 3
                if dist == 0:  # run of the previous byte
                    out += out[-1:] * total
                else:
                    start = len(out) - dist - 1
                    if start < 0:
                        raise ValueError(
                            "blosclz match reaches before the output start")
                    pattern = out[start:start + total]
                    if len(pattern) < total:  # overlap: repeat forward
                        reps = -(-total // len(pattern))
                        pattern = bytes(pattern) * reps
                    out += pattern[:total]
            else:
                cnt = ctrl + 1
                if ip + cnt > n:
                    raise ValueError("blosclz literal run overruns input")
                out += buf[ip:ip + cnt]
                ip += cnt
            if ip >= n:
                break
            ctrl = buf[ip]
            ip += 1
    except IndexError:
        raise ValueError("blosclz stream truncated") from None
    if len(out) != nout:
        raise ValueError(
            f"blosclz decoded to {len(out)} bytes, expected {nout}")
    return bytes(out)


def blosclz_compress(data: bytes) -> bytes:
    """Greedy blosclz encoder (write-side twin of
    :func:`blosclz_decompress`; same token stream FastLZ level 2 emits).
    Matches ≥ 3 bytes against a rolling 3-gram table; distances beyond
    the two-byte far escape (8191 + 65535) stay literals."""
    n = len(data)
    out = bytearray()
    table: "dict[bytes, int]" = {}
    lit = 0  # start of the pending literal run

    def flush(upto: int) -> None:
        j = lit
        while j < upto:
            cnt = min(32, upto - j)
            out.append(cnt - 1)
            out.extend(data[j:j + cnt])
            j += cnt

    i = 0
    while i + 3 <= n:
        key = data[i:i + 3]
        cand = table.get(key)
        table[key] = i
        if cand is None or data[cand:cand + 3] != key \
                or i - cand - 1 > 8191 + 65535:
            i += 1
            continue
        ln = 3
        while i + ln < n and data[cand + ln] == data[i + ln]:
            ln += 1
        flush(i)
        d = i - cand - 1  # biased distance
        lb = ln - 3       # biased length
        if d < 8191:
            if ln <= 8:
                out.append(((lb + 1) << 5) | (d >> 8))
            else:
                out.append((7 << 5) | (d >> 8))
                e = ln - 9
                while e >= 255:
                    out.append(255)
                    e -= 255
                out.append(e)
            out.append(d & 255)
        else:
            e_d = d - 8191
            if ln <= 8:
                out.append(((lb + 1) << 5) | 31)
            else:
                out.append((7 << 5) | 31)
                e = ln - 9
                while e >= 255:
                    out.append(255)
                    e -= 255
                out.append(e)
            out.append(255)
            out.append(e_d >> 8)
            out.append(e_d & 255)
        i += ln
        lit = i
    flush(n)
    return bytes(out)


def _bit_shuffle(block: bytes, typesize: int) -> bytes:
    """bitshuffle transform, c-blosc semantics: the first
    ``8 * (nel // 8)`` elements bit-transpose (bit ``b`` of every element
    groups together, MSB-first within bytes — the bitshuffle library's
    numpy reference ``unpackbits → (n, ts*8).T → packbits``); leftover
    elements AND the ``block % typesize`` tail ride raw at the end."""
    nel = len(block) // typesize
    m = nel - nel % 8
    if m == 0:
        return block
    head = np.frombuffer(block, np.uint8, count=m * typesize)
    bits = np.unpackbits(head.reshape(m, typesize))
    shuf = np.packbits(bits.reshape(m, typesize * 8).T)
    return shuf.tobytes() + block[m * typesize:]


def _bit_unshuffle(block: bytes, typesize: int) -> bytes:
    nel = len(block) // typesize
    m = nel - nel % 8
    if m == 0:
        return block
    head = np.frombuffer(block, np.uint8, count=m * typesize)
    bits = np.unpackbits(head)
    orig = np.packbits(bits.reshape(typesize * 8, m).T)
    return orig.tobytes() + block[m * typesize:]


def _unshuffle(block: bytes, typesize: int) -> bytes:
    n = len(block)
    nel = n // typesize
    if typesize <= 1 or nel == 0:
        return block
    body = np.frombuffer(block, np.uint8, count=nel * typesize)
    out = body.reshape(typesize, nel).T.tobytes()
    return out + block[nel * typesize:]


def _shuffle_bytes(block: bytes, typesize: int) -> bytes:
    n = len(block)
    nel = n // typesize
    if typesize <= 1 or nel == 0:
        return block
    body = np.frombuffer(block, np.uint8, count=nel * typesize)
    out = body.reshape(nel, typesize).T.tobytes()
    return out + block[nel * typesize:]


def decode_blosc(buf: bytes) -> bytes:
    """One blosc-1 chunk → its raw little-endian payload bytes."""
    if len(buf) < 16:
        raise ValueError(f"blosc chunk too short ({len(buf)} bytes)")
    version, _versionlz, flags, typesize = struct.unpack_from("<4B", buf, 0)
    nbytes, blocksize, cbytes = struct.unpack_from("<3I", buf, 4)
    if version not in (1, 2):
        raise NotImplementedError(f"blosc chunk version {version}")
    if cbytes > len(buf):
        raise ValueError(
            f"blosc header cbytes {cbytes} exceeds buffer {len(buf)}"
        )
    if nbytes == 0:
        return b""
    if flags & _MEMCPY:
        # whole chunk stored raw (incompressible fallback) — shuffle bits
        # are ignored in this mode, matching c-blosc's decompressor
        return bytes(buf[16:16 + nbytes])
    if (flags & _BITSHUFFLE) and (flags & _SHUFFLE):
        raise ValueError("blosc chunk with both shuffle bits set")
    fmt = flags >> 5
    if fmt not in _FMT_NAMES:
        raise NotImplementedError(
            f"blosc inner codec format {fmt} is out of scope "
            "(blosclz/lz4/zlib/zstd/snappy chunks are supported)"
        )
    codec = _FMT_NAMES[fmt]
    if blocksize <= 0:
        raise ValueError("blosc chunk with zero blocksize")
    nblocks = -(-nbytes // blocksize)
    bstarts = struct.unpack_from(f"<{nblocks}I", buf, 16)

    def decode_blocks(split: bool) -> bytes:
        parts = []
        for i, start in enumerate(bstarts):
            neblock = min(blocksize, nbytes - i * blocksize)
            leftover = neblock != blocksize
            nstreams = typesize if (split and not leftover) else 1
            per = neblock // nstreams
            pos = int(start)
            streams = []
            for _ in range(nstreams):
                (csize,) = struct.unpack_from("<i", buf, pos)
                pos += 4
                if csize < 0 or pos + csize > len(buf):
                    raise ValueError(
                        "blosc stream overruns the chunk buffer")
                raw = buf[pos:pos + csize]
                pos += csize
                streams.append(
                    bytes(raw) if csize == per
                    else raw_decompress(codec, raw, per)
                )
            block = streams[0] if nstreams == 1 else b"".join(streams)
            if flags & _SHUFFLE:
                block = _unshuffle(block, typesize)
            elif flags & _BITSHUFFLE:
                block = _bit_unshuffle(block, typesize)
            parts.append(block)
        out = b"".join(parts)
        if len(out) != nbytes:
            raise ValueError(
                f"blosc chunk decoded to {len(out)} bytes, expected {nbytes}"
            )
        return out

    # Flag-clear chunks follow c-blosc's split_block() policy (the rule
    # pre-dating the dont-split flag, kept by FORWARD_COMPAT mode): only
    # blosclz/lz4 split, and only when typesize ≤ 16 and the per-stream
    # buffer is ≥ 128 bytes. But old (≤ 1.10) or BLOSC_SPLITMODE=ALWAYS
    # writers split OTHER codecs too with the flag clear — when both
    # layouts are structurally possible, fall back to the other on a
    # decode error (stream sizes disambiguate: a wrong guess overruns or
    # misses the exact decompressed size).
    splittable = (
        not (flags & _DONT_SPLIT) and typesize > 1
        and blocksize % typesize == 0
    )
    policy_split = (
        splittable and fmt in (_FMT_BLOSCLZ, _FMT_LZ4)
        and typesize <= 16 and blocksize // typesize >= 128
    )
    try:
        return decode_blocks(policy_split)
    except (ValueError, OSError, zlib.error, struct.error):
        # a wrong layout guess surfaces as a size mismatch (ValueError),
        # a corrupt-frame error from pyarrow (OSError), zlib.error, or a
        # stream-header read off the buffer end (struct.error)
        if not splittable:
            raise
        return decode_blocks(not policy_split)


def encode_blosc(
    data: bytes, typesize: int, cname: str = "lz4", clevel: int = 5,
    shuffle: int = 1, blocksize: int = 0, split: bool = False,
) -> bytes:
    """Raw payload bytes → one blosc-1 chunk. ``shuffle``: 0 none /
    1 byte-shuffle / 2 bit-shuffle (the numcodecs ``Blosc.BITSHUFFLE``
    int-data default). ``split=True`` writes the c-blosc split-stream
    block layout (typesize streams per full block — what wild
    blosclz/lz4 chunks from c-blosc's FORWARD_COMPAT mode look like);
    the default writes one stream per block with the dont-split flag,
    which every c-blosc ≥ 1.14 reads."""
    if cname not in _FMT_CODES:
        raise NotImplementedError(
            f"blosc write codec {cname!r} unsupported "
            "(blosclz/lz4/lz4hc/zlib/zstd/snappy)"
        )
    typesize = max(1, int(typesize))
    if typesize > 255:
        typesize = 1  # c-blosc treats oversized typesize as untyped bytes
    nbytes = len(data)
    if blocksize <= 0:
        blocksize = min(max(nbytes, 1), 1 << 18)
    blocksize = max(typesize, blocksize - blocksize % typesize)
    fmt = _FMT_CODES[cname]
    flags = fmt << 5
    if shuffle == 1 and typesize > 1:
        flags |= _SHUFFLE
    elif shuffle == 2:
        flags |= _BITSHUFFLE
    elif shuffle not in (0, 1):
        raise NotImplementedError("blosc write shuffle: 0, 1 or 2 only")
    # the flag-clear split layout must match decode's split_block()
    # policy exactly, or a symmetric reader would misparse our chunks
    do_split = (
        bool(split) and typesize > 1 and blocksize % typesize == 0
        and fmt in (_FMT_BLOSCLZ, _FMT_LZ4)
        and typesize <= 16 and blocksize // typesize >= 128
    )
    if split and not do_split:
        raise ValueError(
            "split=True needs blosclz/lz4/lz4hc, 1 < typesize <= 16 and "
            "blocksize/typesize >= 128 (the c-blosc split_block policy)"
        )
    if not do_split:
        flags |= _DONT_SPLIT
    if nbytes == 0:
        return struct.pack("<4B3I", 2, 1, flags, typesize, 0, blocksize, 16)
    nblocks = -(-nbytes // blocksize)
    bstarts, blobs = [], []
    cur = 16 + 4 * nblocks
    for i in range(nblocks):
        block = data[i * blocksize:(i + 1) * blocksize]
        neblock = len(block)
        if flags & _SHUFFLE:
            block = _shuffle_bytes(block, typesize)
        elif flags & _BITSHUFFLE:
            block = _bit_shuffle(block, typesize)
        nstreams = typesize if (do_split and neblock == blocksize) else 1
        per = neblock // nstreams
        chunk_parts = []
        for s in range(nstreams):
            piece = block[s * per:(s + 1) * per]
            comp = raw_compress(cname, piece, clevel)
            if len(comp) >= per:  # raw-store marker: csize == stream size
                comp = piece
            chunk_parts.append(struct.pack("<i", len(comp)) + comp)
        blob = b"".join(chunk_parts)
        bstarts.append(cur)
        blobs.append(blob)
        cur += len(blob)
    body = struct.pack(f"<{nblocks}I", *bstarts) + b"".join(blobs)
    if 16 + len(body) >= 16 + nbytes:
        # incompressible: raw memcpy chunk (smaller AND trivially decoded)
        flags = (flags & ~_SHUFFLE & ~_BITSHUFFLE & ~_DONT_SPLIT) | _MEMCPY
        return struct.pack(
            "<4B3I", 2, 1, flags, typesize, nbytes, blocksize, 16 + nbytes
        ) + data
    return struct.pack(
        "<4B3I", 2, 1, flags, typesize, nbytes, blocksize, 16 + len(body)
    ) + body

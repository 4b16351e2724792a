"""From-scratch TIFF-flavor LZW codec (TIFF 6.0 spec section 13).

The reference writes its GeoTIFF artifacts LZW-compressed
(src/utils/wd_batch.py:584-588 ``compress='lzw'``; src/irm_main.py:
228-233), so third-party consumers of e.g. ``Pixel_Persistence.tif``
expect compression=5 to round-trip. TIFF LZW differs from GIF LZW:
MSB-first bit packing, fixed ClearCode=256 / EOI=257, and the "early
change" quirk — the code width bumps one code EARLIER than the table
size would suggest (at 510/1022/2046 after a clear).

Both directions are sequential dictionary algorithms (inherently so);
this is a correctness/interop seam — bulk raster traffic at scale
stays on the uncompressed or parquet paths.
"""

from __future__ import annotations

CLEAR, EOI, FIRST = 256, 257, 258


def compress(data: bytes) -> bytes:
    """bytes -> TIFF-LZW code stream (MSB-first, early-change widths)."""
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1  # drop drained bits: unbounded acc => O(n) shifts

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = FIRST
    width = 9
    put(CLEAR, width)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        put(table[w], width)
        table[wc] = next_code
        next_code += 1
        # early change: width bumps when the NEXT code to emit would
        # not fit, i.e. at 511/1023/2047 table entries minus one
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code == 4094:  # table full: reset
            put(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = FIRST
            width = 9
        w = bytes([b])
    if w:
        put(table[w], width)
        # the decoder, on processing this FINAL code, appends one more
        # table entry than the encoder ever allocated (the encoder only
        # adds on mismatches, and the last code has no successor), which
        # can push it across an early-change boundary — mirror that
        # widen before writing EOI, as libtiff's LZWPostEncode does
        if next_code == (1 << width) - 2 and width < 12:
            width += 1
    put(EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def decompress(data: bytes, max_out: int | None = None) -> bytes:
    """TIFF-LZW code stream -> bytes (validates CLEAR/EOI protocol)."""
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    width = 9
    table: list[bytes] = []
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)  # truncated stream: best effort
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        acc &= (1 << nbits) - 1  # drop consumed bits (keeps shifts O(1))
        if code == EOI:
            return bytes(out)
        if code == CLEAR:
            reset()
            continue
        if prev is None:
            if code >= 256:
                raise ValueError("LZW: first code after clear must be literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"LZW: code {code} beyond table size {len(table)}")
        out += entry
        prev = entry
        # early change, decoder side: the decoder's table lags the
        # encoder's by exactly one entry (the encoder adds entry e_k
        # when EMITTING code k; the decoder only learns e_k's tail on
        # the NEXT code), so it must widen one entry earlier —
        # at table sizes 510/1022/2046, not 511/1023/2047
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1
        if max_out is not None and len(out) >= max_out:
            return bytes(out)

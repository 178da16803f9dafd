"""Perceptual image hashing + near-dup dedup over binary image columns.

Ties the multimodal tier into the dedup tier: a multimodal training
corpus needs IMAGE-level near-dup removal exactly like text dedup
(reference has no analog — this is part of the beyond-parity
LLM-pipeline surface, same family as operators/dedup.py).

Three layers, each honest about what it can do in a codec-library-free
container:

  1. REAL pixel decode for the public formats: PNG — COMPLETE
     static-image spec coverage with stdlib ``zlib`` only (all five
     defilter predictors, every legal depth/color combination incl.
     sub-byte gray/palette and 16-bit, plus Adam7 interlace),
     GIF87a/89a first frames (the published LZW algorithm in pure
     Python, both interlace modes), netpbm P5/P6, uncompressed
     8/24-bit BMP, and huffman JPEG — baseline, extended sequential,
     AND progressive (operators/jpeg.py — T.81 entropy decode + IDCT,
     luma plane, validated pixel-for-pixel against Java ImageIO on
     real libjpeg files). Arithmetic/lossless JPEG stays a
     NotImplementedError.
  2. Integer-exact perceptual hashes over the decoded grayscale grid:
     aHash (block mean vs global mean) and dHash (adjacent block mean
     gradient), each 64 bits emitted as FOUR 16-bit chunk columns —
     integer-exact (all comparisons are cross-multiplied integer sums,
     no float means), so the hash is bit-reproducible across engines
     and directly DuckDB-replayable.
  3. Distributed near-dup pairing with the same pigeonhole chunk
     blocking as dedup.simhash_near_pairs: a pair within hamming <=
     max_hamming (<= 3 over 4 chunks) shares at least one identical
     16-bit chunk, so the candidate join is an equi-join on
     (chunk_index, chunk_value) — never an all-pairs cross join. At
     100 TB the block key distributes like a hash; the decode pass is
     a zero-shuffle linear mapInPandas scan.

Scale notes: decode is per-byte CPU work behind mapInPandas (Arrow
batches, no shuffle) — partition by size budget first
(multimodal.repartition_for_decode). The pair join shuffles only
(id, 4 ints) rows, 4 per image, independent of image size.
"""

from __future__ import annotations

import logging
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StructField, StructType,
)

from datafusion_postgres_spark.operators.multimodal import map_in_batches

_log = logging.getLogger(__name__)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# PNG color type -> samples per pixel (public PNG spec, 8-bit depth)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor exactly as published in the PNG spec."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png_pixels(content: bytes) -> tuple[int, int, list[int]]:
    """Full PNG pixel decode with nothing but stdlib ``zlib``.

    Returns (width, height, grayscale) where grayscale is a row-major
    list of 0..255 luma values (integer BT.601 weights for color).
    COMPLETE static-image coverage of the public spec: every legal
    depth/color combination (1/2/4/8-bit gray and palette via PLTE,
    8/16-bit gray/RGB/gray+alpha/RGBA — 16-bit samples reduce to their
    high byte, the spec's sanctioned approximation) and both interlace
    methods (none + Adam7's seven passes, each defiltered
    independently). Malformed streams raise ValueError."""
    if not content.startswith(_PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    pos, n = 8, len(content)
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    plte: bytes | None = None
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4:pos + 8]
        data = content[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = \
                struct.unpack_from(">IIBBBBB", data, 0)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length            # length + type + data + crc
    if width is None:
        raise ValueError("truncated PNG: no IHDR")
    # legal combinations per the public spec: sub-byte depths exist
    # only for grayscale (0) and palette (3); 16-bit not for palette
    legal = ((color_type in (0, 3) and bit_depth in (1, 2, 4, 8))
             or (color_type in (0, 2, 4, 6) and bit_depth in (8, 16)
                 and not (color_type == 3 and bit_depth == 16)))
    if not legal or interlace not in (0, 1):
        raise ValueError(
            f"illegal PNG depth/color/interlace combination "
            f"(depth={bit_depth}, color={color_type}, "
            f"interlace={interlace})")
    if color_type == 3:
        # indexed-color: one palette index per pixel (bpp=1 for the
        # defilter), mapped through the REQUIRED PLTE chunk afterwards
        if plte is None or len(plte) % 3:
            raise ValueError("palette PNG without a valid PLTE chunk")
        channels = 1
        pal_luma = [(299 * plte[i] + 587 * plte[i + 1]
                     + 114 * plte[i + 2]) // 1000
                    for i in range(0, len(plte), 3)]
    else:
        pal_luma = None
        channels = _PNG_CHANNELS[color_type]
    # the defilter operates on BYTES with bpp = max(1, channels *
    # bytes-per-sample) (public spec); 16-bit samples are big-endian
    # pairs that reduce to 8-bit by the high byte after reconstruction;
    # sub-byte depths pack 8/depth samples per byte, MSB first
    sample_bytes = bit_depth // 8
    byte_channels = max(1, channels * sample_bytes)
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}")

    def row_gray(recon: bytearray, w_row: int) -> list[int]:
        """One reconstructed scanline -> w_row grayscale values."""
        if sample_bytes == 2:
            # 16-bit big-endian samples reduce to their HIGH byte (the
            # spec-sanctioned 16->8 approximation)
            recon = recon[0::2]
        elif bit_depth < 8:
            # unpack MSB-first packed samples, trim row padding, and
            # scale gray to 8-bit (v * 255 / maxval, exact for the
            # power-of-two-minus-one maxvals); palette indices unscaled
            per_byte = 8 // bit_depth
            mask = (1 << bit_depth) - 1
            vals = []
            for byte in recon:
                for k in range(per_byte - 1, -1, -1):
                    vals.append((byte >> (k * bit_depth)) & mask)
            vals = vals[:w_row]
            recon = (vals if pal_luma is not None
                     else [v * 255 // mask for v in vals])
        if pal_luma is not None:                          # indexed color
            try:
                return [pal_luma[i] for i in recon]
            except IndexError:
                raise ValueError("palette index out of PLTE range")
        if channels == 1:
            return list(recon)
        if channels == 2:                                 # gray + alpha
            return list(recon[0::2])
        return [(299 * recon[x] + 587 * recon[x + 1]                # RGB(A)
                 + 114 * recon[x + 2]) // 1000
                for x in range(0, len(recon), channels)]

    # Adam7: seven sub-images with the published origins/steps, each
    # filtered independently; non-interlaced = one full-frame pass
    if interlace == 0:
        passes = [(0, 0, 1, 1)]
    else:
        passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                  (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    grid = [0] * (width * height)
    pos = 0
    for xs, ys, xstep, ystep in passes:
        w_p = (width - xs + xstep - 1) // xstep
        h_p = (height - ys + ystep - 1) // ystep
        if w_p <= 0 or h_p <= 0:
            continue
        stride = (w_p * channels * bit_depth + 7) // 8
        prior = bytearray(stride)
        bpp = byte_channels
        for r in range(h_p):
            if pos + 1 + stride > len(raw):
                raise ValueError(
                    "PNG IDAT stream has wrong decompressed length")
            ftype = raw[pos]
            line = bytearray(raw[pos + 1:pos + 1 + stride])
            pos += 1 + stride
            recon = bytearray(stride)
            if ftype == 0:                                # None
                recon[:] = line
            elif ftype == 1:                              # Sub
                for x in range(stride):
                    left = recon[x - bpp] if x >= bpp else 0
                    recon[x] = (line[x] + left) & 0xFF
            elif ftype == 2:                              # Up
                for x in range(stride):
                    recon[x] = (line[x] + prior[x]) & 0xFF
            elif ftype == 3:                              # Average
                for x in range(stride):
                    left = recon[x - bpp] if x >= bpp else 0
                    recon[x] = (line[x] + (left + prior[x]) // 2) & 0xFF
            elif ftype == 4:                              # Paeth
                for x in range(stride):
                    left = recon[x - bpp] if x >= bpp else 0
                    ul = prior[x - bpp] if x >= bpp else 0
                    recon[x] = (line[x]
                                + _paeth(left, prior[x], ul)) & 0xFF
            else:
                raise ValueError(f"invalid PNG filter type {ftype}")
            prior = recon
            y = ys + r * ystep
            vals = row_gray(recon, w_p)
            for i, v in enumerate(vals):
                grid[y * width + xs + i * xstep] = v
    if pos != len(raw):
        raise ValueError("PNG IDAT stream has wrong decompressed length")
    return width, height, grid


def encode_png_gray(width: int, height: int, gray: list[int],
                    filters: str = "cycle") -> bytes:
    """Minimal 8-bit grayscale PNG encoder (stdlib zlib only).

    ``filters='cycle'`` applies filter type ``row % 5`` so a round trip
    through decode_png_pixels exercises ALL FIVE public defilter
    predictors; 'none' writes filter 0 everywhere. Used by the fixture
    and query synthesis paths — the decode side never assumes which
    encoder produced the bytes."""
    if len(gray) != width * height:
        raise ValueError("gray must hold width*height values")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = bytearray()
    prior = [0] * width
    for r in range(height):
        row = [v & 0xFF for v in gray[r * width:(r + 1) * width]]
        f = (r % 5) if filters == "cycle" else 0
        raw.append(f)
        for x in range(width):
            left = row[x - 1] if x >= 1 else 0
            up = prior[x]
            ul = prior[x - 1] if x >= 1 else 0
            if f == 0:
                raw.append(row[x])
            elif f == 1:
                raw.append((row[x] - left) & 0xFF)
            elif f == 2:
                raw.append((row[x] - up) & 0xFF)
            elif f == 3:
                raw.append((row[x] - (left + up) // 2) & 0xFF)
            else:
                raw.append((row[x] - _paeth(left, up, ul)) & 0xFF)
        prior = row
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def decode_image_pixels(content: bytes) -> tuple[int, int, list[int]]:
    """Grayscale pixel grid for every decodable public format: PNG
    (full spec decode above), GIF, netpbm P5/P6, uncompressed 8/24-bit
    BMP, and — since round 8 — baseline/extended-sequential huffman
    JPEG (operators/jpeg.py: the luma plane, exactly what the
    perceptual hashes consume). The remaining honest boundary is
    progressive/arithmetic JPEG and formats needing external codecs."""
    if content.startswith(_PNG_SIG):
        return decode_png_pixels(content)
    if content[:4] == b"GIF8":
        return decode_gif_pixels(content)
    if content[:2] in (b"P5", b"P6"):
        return _decode_netpbm_pixels(content)
    if content[:2] == b"BM":
        return _decode_bmp_pixels(content)
    if content[:2] == b"\xFF\xD8":
        from datafusion_postgres_spark.operators.jpeg import (
            decode_jpeg_gray,
        )
        return decode_jpeg_gray(content)
    raise NotImplementedError(
        "pixel decode implemented for PNG/GIF/netpbm/BMP/baseline-JPEG; "
        "other formats need a codec library not present here")


def _decode_netpbm_pixels(content: bytes) -> tuple[int, int, list[int]]:
    from datafusion_postgres_spark.operators.multimodal import _decode_netpbm
    w, h = _decode_netpbm(content)
    # parse all THREE header fields (width, height, maxval) — a maxval
    # above 255 means 2-byte big-endian samples per the public spec
    i, fields = 2, []
    n = len(content)
    while len(fields) < 3 and i < n:
        c = content[i:i + 1]
        if c == b"#":
            while i < n and content[i:i + 1] not in (b"\n", b"\r"):
                i += 1
        elif c.isspace():
            i += 1
        elif c.isdigit():
            j = i
            while j < n and content[j:j + 1].isdigit():
                j += 1
            fields.append(int(content[i:j]))
            i = j
        else:
            raise ValueError("malformed netpbm header")
    if len(fields) < 3:
        raise ValueError("truncated netpbm header")
    maxval = fields[2]
    if not (0 < maxval < 65536):
        raise ValueError(f"illegal netpbm maxval {maxval}")
    i += 1  # single whitespace after maxval
    spp = 2 if maxval > 255 else 1          # bytes per sample
    channels = 1 if content[:2] == b"P5" else 3
    need = w * h * channels * spp
    data = content[i:i + need]
    if len(data) < need:
        raise ValueError("truncated netpbm payload")
    if spp == 2:                            # big-endian 16-bit samples
        samples = [((data[k] << 8) | data[k + 1]) * 255 // maxval
                   for k in range(0, need, 2)]
    else:
        samples = ([v * 255 // maxval for v in data]
                   if maxval != 255 else list(data))
    if channels == 1:
        return w, h, samples
    gray = [(299 * samples[k] + 587 * samples[k + 1]
             + 114 * samples[k + 2]) // 1000
            for k in range(0, len(samples), 3)]
    return w, h, gray


def _decode_bmp_pixels(content: bytes) -> tuple[int, int, list[int]]:
    (data_off,) = struct.unpack_from("<I", content, 10)
    w, h_signed = struct.unpack_from("<ii", content, 18)
    (bpp,) = struct.unpack_from("<H", content, 28)
    (compression,) = struct.unpack_from("<I", content, 30)
    if compression != 0 or bpp not in (8, 24):
        raise NotImplementedError(
            f"BMP pixel decode implemented for uncompressed 8/24-bit "
            f"(got bpp={bpp}, compression={compression})")
    h = abs(h_signed)
    bottom_up = h_signed > 0
    row_bytes = ((w * bpp // 8) + 3) & ~3        # rows pad to 4 bytes
    pal_luma = None
    if bpp == 8:
        # 8bpp BMP is INDEXED color: the BGRA color table sits between
        # the info header and the pixel data. Files written without one
        # (data_off leaves no room) fall back to identity grayscale.
        (hdr_size,) = struct.unpack_from("<I", content, 14)
        pal_start = 14 + hdr_size
        n_entries = max(0, (data_off - pal_start) // 4)
        if n_entries:
            pal = content[pal_start:pal_start + 4 * n_entries]
            pal_luma = [(299 * pal[4 * i + 2] + 587 * pal[4 * i + 1]
                         + 114 * pal[4 * i]) // 1000     # BGRA order
                        for i in range(n_entries)]
    gray: list[int] = []
    for rr in range(h):
        r = (h - 1 - rr) if bottom_up else rr
        off = data_off + r * row_bytes
        if bpp == 8:
            row = content[off:off + w]
            if pal_luma is not None:
                try:
                    gray.extend(pal_luma[i] for i in row)
                except IndexError:
                    raise ValueError("BMP palette index out of range")
            else:
                gray.extend(row)
        else:
            row = content[off:off + 3 * w]
            for k in range(0, 3 * w, 3):          # BGR order
                gray.append((299 * row[k + 2] + 587 * row[k + 1]
                             + 114 * row[k]) // 1000)
    return w, h, gray


# ---------------------------------------------------------------------------
# integer-exact perceptual hashes (4 x 16-bit chunks = 64 bits)

def ahash_chunks(gray: list[int], w: int, h: int) -> list[int]:
    """aHash: 8x8 grid of block means, bit = block mean >= global mean.
    EXACT integer arithmetic — every comparison cross-multiplies sums
    by pixel counts, so the result is identical however the blocks were
    summed (and identical to a SQL replay)."""
    total = sum(gray)
    npix = w * h
    bits = []
    for br in range(8):
        r0, r1 = br * h // 8, (br + 1) * h // 8
        for bc in range(8):
            c0, c1 = bc * w // 8, (bc + 1) * w // 8
            bs = sum(gray[r * w + c] for r in range(r0, r1)
                     for c in range(c0, c1))
            cnt = (r1 - r0) * (c1 - c0)
            bits.append(1 if bs * npix >= total * cnt else 0)
    return [sum(bits[j * 16 + k] << k for k in range(16)) for j in range(4)]


def dhash_chunks(gray: list[int], w: int, h: int) -> list[int]:
    """dHash: 8 rows x 9 cols of block means; bit = right block mean
    strictly greater than its left neighbor (integer cross-multiplied)."""
    sums, cnts = [], []
    for br in range(8):
        r0, r1 = br * h // 8, (br + 1) * h // 8
        row_s, row_c = [], []
        for bc in range(9):
            c0, c1 = bc * w // 9, (bc + 1) * w // 9
            row_s.append(sum(gray[r * w + c] for r in range(r0, r1)
                             for c in range(c0, c1)))
            row_c.append(max((r1 - r0) * (c1 - c0), 1))
        sums.append(row_s)
        cnts.append(row_c)
    bits = []
    for br in range(8):
        for bc in range(8):
            bits.append(1 if sums[br][bc + 1] * cnts[br][bc]
                        > sums[br][bc] * cnts[br][bc + 1] else 0)
    return [sum(bits[j * 16 + k] << k for k in range(16)) for j in range(4)]


HASH_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("ahash_c0", IntegerType()),
    StructField("ahash_c1", IntegerType()),
    StructField("ahash_c2", IntegerType()),
    StructField("ahash_c3", IntegerType()),
    StructField("dhash_c0", IntegerType()),
    StructField("dhash_c1", IntegerType()),
    StructField("dhash_c2", IntegerType()),
    StructField("dhash_c3", IntegerType()),
])


def image_perceptual_hashes(media: DataFrame, id_col: str = "doc_id",
                            content_col: str = "content",
                            batch_size: int = 256) -> DataFrame:
    """Per-image aHash/dHash over Arrow batches — zero shuffle, linear
    scan, constant memory per worker (the multimodal decode shape).
    Undecodable rows (codec formats, corrupt bytes) emit NULL hashes
    instead of failing the batch: at corpus scale a poison row must
    never kill the job."""

    def hash_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, content in zip(pdf[id_col], pdf[content_col]):
                try:
                    w, h, gray = decode_image_pixels(bytes(content))
                    rows.append((did, w, h, *ahash_chunks(gray, w, h),
                                 *dhash_chunks(gray, w, h)))
                except (NotImplementedError, ValueError, IndexError,
                        struct.error):
                    rows.append((did, None, None) + (None,) * 8)
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              HASH_SCHEMA.fields])

    return map_in_batches(media, hash_batches, HASH_SCHEMA, batch_size)


def _bq(name: str) -> str:
    """Backtick-quote an identifier for the single-parse SQL fragments,
    escaping embedded backticks (round-11 ADVICE fix: a block column
    named with a backtick would otherwise generate mis-parsed SQL where
    F.col previously handled it)."""
    return "`" + name.replace("`", "``") + "`"


def chunked_hamming_pairs(sig: DataFrame, cols: list[str],
                          max_hamming: int = 3,
                          cache_key: str = "chunked_hamming_pairs",
                          max_df: int | None = 1000,
                          block_cols: tuple[str, ...] = (),
                          pre_cached: bool = False) -> DataFrame:
    """Near-dup pairs over any 4x16-bit chunked signature frame
    (columns: ``id`` + the four chunk columns in ``cols``).

    Blocking mirrors dedup.simhash_near_pairs: pigeonhole guarantees
    every pair within hamming <= 3 shares at least one identical chunk
    — the candidate join is an equi-join on (chunk_index, value),
    NEVER all-pairs, so it scales like any hash-partitioned join.
    Shared by the image (aHash/dHash), audio (energy envelope) and
    video (per-frame aHash) perceptual dedup tiers.

    HOT-CHUNK SKEW (round-8 verdict #1) is bounded two ways:

    * **Identical-signature collapse** (always on, EXACT): real image
      corpora hold huge cliques of byte-identical assets (blank
      thumbnails, logos) whose members all share every chunk — paired
      naively they fan out quadratically inside the blocking join.
      Signatures collapse to one representative (min id) per distinct
      value BEFORE the chunk join; within-group pairs are emitted
      directly as hamming-0 rows through an equi-join on the group
      key (AQE skew-split applies), and representative pairs expand
      back to member pairs through group-key equi-joins. Output is
      IDENTICAL to the naive pairing; only the blocking join's input
      shrinks (one row per distinct signature).
    * **``max_df`` chunk cap** (default 1000, ``None`` = exact
      opt-out — the dedup.ngram_jaccard_pairs contract): chunk values
      shared by more than ``max_df`` DISTINCT signatures are dropped
      from the candidate join. A pair is lost only if EVERY chunk it
      shares is that kind of boilerplate (mostly-uniform assets whose
      block means straddle the global mean identically) — identical
      images are unaffected, the collapse already handles them.

    ``block_cols`` adds extra equality keys to the blocking (and the
    group key): the video tier passes the frame position so only
    same-position frames pair. Output: (id_a, id_b, *block_cols,
    hamming) with id_a < id_b, exact within max_hamming <= 3 (minus
    pairs provable only through a capped chunk)."""
    members, _, rp = _rep_structures(sig, cols, max_hamming, cache_key,
                                     max_df, list(block_cols),
                                     pre_cached)
    bc = list(block_cols)
    bcq = [_bq(c) for c in bc]

    # Expression-heavy pieces are emitted as single parses (round-10
    # py4j-chatter convention, OPTIMIZATION_r10.md §2/§7): identical
    # operator trees, one driver round-trip per projection instead of
    # one per Column op. Physical plans are unchanged modulo
    # expression ids (plans/r10/multimodal_*_{before,after}.txt).
    # within-group pairs: identical signatures, hamming 0 by definition
    m1, m2 = members.alias("m1"), members.alias("m2")
    wcond = F.expr(" AND ".join(
        ["m1.rep = m2.rep", "m1.id < m2.id"] +
        [f"m1.{q} = m2.{q}" for q in bcq]))
    within = m1.join(m2, wcond).selectExpr(
        "m1.id AS id_a", "m2.id AS id_b",
        *[f"m1.{q} AS {q}" for q in bcq],
        "CAST(0 AS BIGINT) AS hamming")

    # expand representative pairs back to member pairs (group-key
    # equi-joins — output-sized, AQE-splittable)
    ma = members.selectExpr("rep AS ra", "id AS ia", *bcq)
    mb = members.selectExpr("rep AS rb", "id AS ib", *bcq)
    cross = (rp.join(ma, ["ra", *bc]).join(mb, ["rb", *bc])
             .selectExpr("least(ia, ib) AS id_a",
                         "greatest(ia, ib) AS id_b",
                         *bcq, "hamming"))
    return within.unionByName(cross).select("id_a", "id_b", *bc,
                                            "hamming")


def _check_chunks(sig: DataFrame, cols: list[str]) -> None:
    """Raise ValueError naming the first chunk column that holds a value
    outside [0, 65535]: the packed carry in :func:`_rep_structures`
    gives each chunk a disjoint 16-bit field, so a wider or negative
    chunk would corrupt its neighbours' bits silently."""
    bounds = sig.selectExpr(*[f"min({q})" for q in map(_bq, cols)],
                            *[f"max({q})" for q in map(_bq, cols)]).first()
    for c, lo, hi in zip(cols, bounds[:len(cols)], bounds[len(cols):]):
        if lo is not None and (lo < 0 or hi > 0xFFFF):
            raise ValueError(
                f"chunk column {c!r} holds values in [{lo}, {hi}]; chunked "
                "hamming pairing needs non-negative chunks of at most "
                "16 bits")


def _rep_structures(sig: DataFrame, cols: list[str], max_hamming: int,
                    cache_key: str, max_df: int | None, bc: list[str],
                    pre_cached: bool, need_members: bool = True,
                    unique_pairs: bool = True):
    """Shared collapse machinery of the perceptual pairing/keep APIs:
    (members, rsig, rep_pairs) where members = (id, rep, *bc, *cols)
    with rep = min id per distinct (bc, signature) group, rsig = one
    (id=rep, *bc, *cols) row per distinct signature, and rep_pairs =
    (ra, rb, *bc, hamming) between DISTINCT signatures within
    max_hamming via the pigeonhole chunk blocking (optionally df-capped
    on chunk values in >max_df distinct signatures).

    ``need_members=False`` (the keep path) skips building AND caching
    the corpus-sized members frame entirely — rsig derives straight
    from the distinct-signature groupBy, so nothing corpus-sized is
    cached for a pass whose answer is signature-sized."""
    if max_hamming > 3:
        raise ValueError(
            "4-chunk pigeonhole blocking is exact only for "
            f"max_hamming <= 3 (got {max_hamming})")
    from datafusion_postgres_spark.operators.cachectl import (
        cache_generation,
    )
    # pre_cached: the caller already holds sig as its own live
    # generation (sig_survivor_ids) — caching the identical plan under
    # a second key would alias the same storage, and rotating EITHER
    # generation would unpersist data the other still believes live
    if not pre_cached:
        sig = cache_generation(cache_key, sig)
    _check_chunks(sig, cols)
    group_key = bc + list(cols)
    bcq = [_bq(c) for c in bc]
    colsq = [_bq(c) for c in cols]
    reps = sig.groupBy(*group_key).agg(F.min("id").alias("rep"))
    if need_members:
        members = cache_generation(
            cache_key + "_members",
            sig.join(reps, group_key).select("id", "rep", *bc, *cols))
        # blocking join over REPRESENTATIVES only (one row per distinct
        # signature) — the collapse is what keeps a 20% identical
        # clique linear through this node
        rsig = (members.where("id = rep").select("id", *bc, *cols))
    else:
        members = None
        rsig = reps.selectExpr("rep AS id", *bcq, *colsq)
    # single-parse projections/conditions from here down (round-10
    # py4j-chatter convention): same operator trees as the composed
    # Column forms, ~5x fewer driver round-trips per build.
    #
    # PACKED CARRY (round-11, guide §2.3 "shuffle fewer bytes"): every
    # chunk producer on this machinery emits four NON-NEGATIVE <=16-bit
    # values (image aHash/dHash and video frame-aHash: 16-bit block-mean
    # bits; audio envelope: 16-bit chunks; simhash: 12-bit slices), so
    # the four chunks pack into ONE 64-bit key with disjoint bit fields.
    # The blocking join then carries (id, sig64, ci, chunk) instead of
    # (id, c0..c3, ci, chunk) — ~45% fewer exploded-stream bytes for
    # long chunks — and the hamming verify is ONE bit_count over the
    # packed XOR (XOR acts per disjoint field, so it equals the
    # four-term per-chunk bit_count sum by construction; pinned against
    # brute force). NULL semantics are unchanged: any NULL chunk makes
    # sig64 NULL exactly as it made the old four-term sum NULL — either
    # way hamming <= k is false and the pair is dropped — and the
    # GROUPING key above stays the raw (bc, cols) tuple, so distinct
    # null-partial signatures keep their separate groups.
    packed = " + ".join(f"shiftleft(CAST({q} AS BIGINT), {16 * j})"
                        for j, q in enumerate(colsq))
    exploded = rsig.selectExpr(
        "id", *bcq, f"({packed}) AS sig64",
        f"posexplode(array({', '.join(colsq)})) AS (ci, chunk)")
    if max_df is not None:
        _log.info("chunked_hamming blocking: df-cap active (max_df=%d) "
                  "— chunk values in >max_df DISTINCT signatures are "
                  "excluded from blocking; max_df=None for exact mode",
                  max_df)
        hot = (exploded.groupBy(*bc, "ci", "chunk")
               .agg(F.count("*").alias("df"))
               .where(f"df > {int(max_df)}")
               .select(*bc, "ci", "chunk"))
        exploded = exploded.join(F.broadcast(hot), bc + ["ci", "chunk"],
                                 "left_anti")
    a, b = exploded.alias("x"), exploded.alias("y")
    jcond = F.expr(" AND ".join(
        ["x.ci = y.ci", "x.chunk = y.chunk", "x.id < y.id"] +
        [f"x.{q} = y.{q}" for q in bcq]))
    cand = (a.join(b, jcond)
            .selectExpr("x.id AS ra", "y.id AS rb",
                        *[f"x.{q} AS {q}" for q in bcq],
                        "x.sig64 AS sa", "y.sig64 AS sb"))
    # VERIFY FIRST, DEDUP AFTER (round-11, guide §2.4): hamming is a
    # cheap bit op evaluated straight off the join output, while
    # dropDuplicates is an exchange — filtering before it shrinks the
    # pairs-path dedup shuffle from candidate-count rows to MATCH-count
    # rows. filter∘distinct == distinct∘filter (hamming is a function
    # of the pair), so the output is identical.
    rp = (cand.withColumn(
              "hamming", F.expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
          .where(f"hamming <= {int(max_hamming)}")
          .select("ra", "rb", *bc, "hamming"))
    if unique_pairs:
        # pairs API contract: one row per (ra, rb) — a pair colliding on
        # several chunks would otherwise repeat. The KEEP path opts out
        # (round-10): union-find is idempotent over duplicate edges and
        # only the ≤2M driver-edge bound sees the ≤4x inflated count (a
        # conservative direction). hamming is deterministic per key, so
        # dropDuplicates' arbitrary row pick cannot change values.
        rp = rp.dropDuplicates(["ra", "rb", *bc])
    return members, rsig, rp


def chunked_hamming_keep(sig: DataFrame, cols: list[str],
                         max_hamming: int = 3,
                         cache_key: str = "chunked_hamming_keep",
                         max_df: int | None = 1000) -> DataFrame:
    """Near-dup dedup SURVIVOR ids — one (the minimum) per duplicate
    component, singletons included — with output LINEAR in the corpus
    even on identical-asset mega-cliques.

    The pairs API is inherently quadratic on a clique (a group of g
    identical images HAS g(g-1)/2 pairs); a dedup pass only needs the
    keep set, and that never requires materializing them: non-rep
    group members lose by construction (their rep has a smaller id and
    hamming 0), and component structure between DISTINCT signatures is
    decided by min-label propagation over the (small) representative
    pair graph (operators/repgraph.py — the shared keep contract: the
    rep-edge graph collects as two Arrow long columns up to
    repgraph.MAX_DRIVER_EDGES, distributed Pregel above). Semantics
    identical to ``connected_components(chunked_hamming_pairs(...))``
    + keep-min + singletons — pinned against that composition in
    tests."""
    from datafusion_postgres_spark.operators.repgraph import loser_ids

    _, rsig, rp = _rep_structures(sig, cols, max_hamming, cache_key,
                                  max_df, [], False, need_members=False,
                                  unique_pairs=False)
    losers = loser_ids(rp, col_a="ra", col_b="rb")
    return rsig.select("id").join(losers, "id", "left_anti")


def image_dedup_keep(media: DataFrame, id_col: str = "doc_id",
                     content_col: str = "content",
                     max_hamming: int = 3,
                     hash_prefix: str = "ahash",
                     max_df: int | None = 1000) -> DataFrame:
    """One surviving image per perceptual near-dup component (min id;
    undecodable rows are excluded from the keep set like they are from
    pairing). The linear-output dedup pass — use this, not
    image_near_dup_pairs ∘ components, when the corpus holds large
    identical-asset cliques. ``max_df`` defaults to the lossy 1000 cap
    (round-8 behavior change — None for exact; see
    image_near_dup_pairs)."""
    cols = [f"{hash_prefix}_c{j}" for j in range(4)]
    sig = (image_perceptual_hashes(media, id_col, content_col)
           .where(F.col(cols[0]).isNotNull())
           .select(F.col("doc_id").alias("id"), *cols))
    keep = chunked_hamming_keep(sig, cols, max_hamming,
                                cache_key="image_dedup_keep",
                                max_df=max_df)
    return media.join(keep.withColumnRenamed("id", id_col), id_col,
                      "left_semi")


def image_near_dup_pairs(media: DataFrame, id_col: str = "doc_id",
                         content_col: str = "content",
                         max_hamming: int = 3,
                         hash_prefix: str = "ahash",
                         max_df: int | None = 1000) -> DataFrame:
    """Image near-dup pairs by perceptual-hash hamming distance (see
    chunked_hamming_pairs for the blocking contract, identical-image
    collapse, and the ``max_df`` hot-chunk cap). Undecodable rows
    were already dropped by the NULL filter — a codec-format image
    never pairs.

    BEHAVIOR CHANGE (round 8): ``max_df`` defaults to 1000 — the
    blocking join drops chunk values shared by more than that many
    DISTINCT signatures, so a pair whose EVERY shared chunk is that
    hot is no longer returned. Pass ``max_df=None`` for the exact
    pre-round-8 behavior (the DuckDB-oracled rows do)."""
    cols = [f"{hash_prefix}_c{j}" for j in range(4)]
    sig = (image_perceptual_hashes(media, id_col, content_col)
           .where(F.col(cols[0]).isNotNull())
           .select(F.col("doc_id").alias("id"), *cols))
    return chunked_hamming_pairs(sig, cols, max_hamming,
                                 cache_key="image_near_dup_pairs",
                                 max_df=max_df)


def synthesize_png_corpus(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", side: int = 16,
                          batch_size: int = 512) -> DataFrame:
    """Deterministic REAL-PNG corpus from a text table: pixel (r, c) of
    a side x side grayscale grid is ``ord(text[(r*side + c) mod
    len(text)]) mod 256``, encoded as an actual zlib-compressed PNG
    with the row-cycling filter types. The pixel formula is pure
    integer character arithmetic, so an oracle can recompute the
    perceptual hashes straight from the text — any disagreement means
    the PNG encode/decode round trip broke."""
    from pyspark.sql.types import BinaryType, StringType

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("content", BinaryType()),
        StructField("media_type", StringType()),
    ])
    npix = side * side

    def to_png(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                s = text or "\x00"
                n = len(s)
                gray = [ord(s[i % n]) % 256 for i in range(npix)]
                rows.append((did, encode_png_gray(side, side, gray),
                             "image/png"))
            yield pd.DataFrame(rows, columns=["doc_id", "content",
                                              "media_type"])

    return map_in_batches(docs.select(id_col, text_col), to_png, out_schema,
                          batch_size)


# ---------------------------------------------------------------------------
# incremental ingest dedup against persisted hash state (the image twin
# of dedup.write_fingerprint_table / dedup_incremental_bucketed)

def _sig_chunk_rows(sig: DataFrame, id_col: str = "id",
                    chunk_cols: tuple[str, ...] = tuple(
                        f"ahash_c{j}" for j in range(4))) -> DataFrame:
    """DISTINCT-signature state rows from a (id, c0..c3) signature
    frame: one (state_id, s0..s3, ci, chunk) row per chunk per DISTINCT
    signature, state_id = min member id (the group representative).

    Collapsing identical signatures at WRITE time is the state-side
    twin of chunked_hamming_pairs' representative collapse: a clique of
    byte-identical assets contributes ONE state row set, so the
    per-ingest state join can never pair a hot batch clique against a
    hot state clique quadratically — the round-8 skew fix applied to
    image_dedup_incremental's join shape."""
    groups = (sig.groupBy(*chunk_cols)
              .agg(F.min(id_col).alias("state_id")))
    return groups.select(
        "state_id",
        *[F.col(c).alias(f"s{j}") for j, c in enumerate(chunk_cols)],
        F.posexplode(F.array(*[F.col(c) for c in chunk_cols]))
        .alias("ci", "chunk"))


def _state_chunk_rows(media: DataFrame, id_col: str,
                      content_col: str) -> DataFrame:
    """Hash-chunk state rows for a media frame — one row per chunk per
    DISTINCT decodable signature (see _sig_chunk_rows)."""
    sig = (image_perceptual_hashes(media, id_col, content_col)
           .where(F.col("ahash_c0").isNotNull()))
    return _sig_chunk_rows(sig, id_col="doc_id")


def write_image_hash_table(media: DataFrame, table: str,
                           n_buckets: int = 32,
                           id_col: str = "doc_id",
                           content_col: str = "content") -> None:
    """Materialize image-dedup ingest state: one (ci, chunk, s0..s3)
    row per hash chunk per DISTINCT signature (4 rows/signature,
    state_id = the min-id representative — identical-asset cliques
    collapse to one row set), BUCKETED on the chunk value — the join
    key of the pigeonhole blocking — so per-ingest anti-join reads of
    the ever-growing state stay co-located while only the small batch
    shuffles."""
    (_state_chunk_rows(media, id_col, content_col)
     .write.mode("overwrite").bucketBy(n_buckets, "chunk")
     .sortBy("chunk").format("parquet").saveAsTable(table))


def image_dedup_incremental(new_media: DataFrame,
                            table: str | None = None,
                            max_hamming: int = 3,
                            id_col: str = "doc_id",
                            content_col: str = "content",
                            max_df: int | None = 1000,
                            corpus_media: DataFrame | None = None
                            ) -> DataFrame:
    """Per-ingest image near-dup dedup against the persisted state: a
    new image survives iff no state image within ``max_hamming`` AND no
    lower-id near-dup inside the batch (the batch representative).
    Exact within max_hamming <= 3 (pigeonhole blocking on both the
    state join and the intra-batch pairing). Only survivor rows come
    back — append their hashes with merge_new_image_hashes to close the
    ingest loop.

    Skew shape (round-8): the state join runs over DISTINCT batch
    signatures (a 10k-clone batch clique joins the state once) against
    the distinct-signature state rows _sig_chunk_rows writes, so
    neither side of the (ci, chunk) join carries identical-asset
    cliques. ``max_df`` additionally drops chunk values shared by more
    than that many distinct STATE signatures (boilerplate chunks, the
    chunked_hamming_pairs cap) — ``None`` for exact mode.

    State source: ``table`` (the production bucketed loop) or
    ``corpus_media`` hashed on the fly (the side-effect-free
    composition the oracled row uses) — exactly one of the two."""
    cols = [f"ahash_c{j}" for j in range(4)]
    sig = (image_perceptual_hashes(new_media, id_col, content_col)
           .where(F.col("ahash_c0").isNotNull())
           .select(F.col("doc_id").alias("id"), *cols))
    state_rows = None
    if corpus_media is not None:
        state_rows = _state_chunk_rows(corpus_media, id_col, content_col)
    survivors = sig_survivor_ids(sig, table, cols, max_hamming, max_df,
                                 cache_key="image_dedup_incremental",
                                 state_rows=state_rows)
    return new_media.join(
        survivors.withColumnRenamed("id", id_col), id_col, "left_semi")


def sig_survivor_ids(sig: DataFrame, table: str | None, cols: list[str],
                     max_hamming: int = 3,
                     max_df: int | None = 1000,
                     cache_key: str = "sig_dedup_incremental",
                     state_rows: DataFrame | None = None) -> DataFrame:
    """Generic per-ingest survivor computation over a (id, c0..c3)
    signature frame against a _sig_chunk_rows state — the shared core
    of the image/audio/text-simhash ingest twins. A row survives iff
    no state signature within ``max_hamming`` AND no lower-id near-dup
    inside the batch. Returns a one-column (id) frame.

    State source: ``table`` names a bucketed _sig_chunk_rows table
    (the production ingest loop — refreshed first so appended batches
    are visible); ``state_rows`` passes the same rows as a frame
    instead (corpus-vs-batch composition without persisted state, used
    by the oracled query rows)."""
    if max_hamming > 3:
        raise ValueError("4-chunk blocking is exact only for "
                         f"max_hamming <= 3 (got {max_hamming})")
    if (table is None) == (state_rows is None):
        raise ValueError("pass exactly one of table / state_rows")
    spark = sig.sparkSession
    if table is not None:
        spark.catalog.refreshTable(table)
        state = spark.table(table)
    else:
        state = state_rows
    from datafusion_postgres_spark.operators.cachectl import (
        cache_generation,
    )
    sig = cache_generation(cache_key, sig)
    # DISTINCT batch signatures: identical in-batch assets cross the
    # state join once, not once per clone
    bsig = sig.select(*cols).distinct()
    expl = bsig.select(
        *cols,
        F.posexplode(F.array(*[F.col(c) for c in cols]))
        .alias("ci", "chunk"))
    if max_df is not None:
        hot = (state.groupBy("ci", "chunk")
               .agg(F.count("*").alias("df"))
               .where(F.col("df") > max_df).select("ci", "chunk"))
        expl = expl.join(F.broadcast(hot), ["ci", "chunk"], "left_anti")
    ham_state = sum(
        F.bit_count(F.col(c).bitwiseXOR(F.col(f"s{j}")).cast("long"))
        for j, c in enumerate(cols))
    dup_sigs = (expl.join(state, ["ci", "chunk"])
                .where(ham_state <= max_hamming)
                .select(*cols).distinct())
    dup_vs_state = (sig.join(dup_sigs, cols, "left_semi")
                    .select("id"))
    dup_in_batch = (chunked_hamming_pairs(
        sig, cols, max_hamming,
        cache_key=cache_key + "_pairs", max_df=max_df, pre_cached=True)
        .select(F.col("id_b").alias("id")).distinct())
    return (sig.select("id")
            .join(dup_vs_state, "id", "left_anti")
            .join(dup_in_batch, "id", "left_anti"))


def merge_new_image_hashes(survivors_media: DataFrame, table: str,
                           n_buckets: int = 32,
                           id_col: str = "doc_id",
                           content_col: str = "content",
                           sig: DataFrame | None = None) -> None:
    """Append the surviving batch's hash-chunk rows into the bucketed
    state table (``n_buckets`` must match the table's bucket spec).

    Pass ``sig`` — a frame with (id, ahash_c0..ahash_c3), e.g. a
    survivor-filtered slice of image_perceptual_hashes output — to
    skip re-decoding the survivor images; without it this function
    pays one pixel-decode pass over the (small) surviving slice.

    Appended rows are DISTINCT per signature (_sig_chunk_rows). Note
    survivors of image_dedup_incremental can never repeat a signature
    already in the state (a hamming-0 twin is a dup by definition), so
    the state stays distinct across batches without a rewrite."""
    if sig is not None:
        rows = _sig_chunk_rows(sig, id_col="id")
    else:
        rows = _state_chunk_rows(survivors_media, id_col, content_col)
    (rows.write.mode("append").bucketBy(n_buckets, "chunk")
     .sortBy("chunk").format("parquet").saveAsTable(table))


# ---------------------------------------------------------------------------
# GIF pixel decode (LZW is a published algorithm — pure Python, no codec)

def _gif_lzw_decode(min_code_size: int, data: bytes) -> list[int]:
    """GIF-variant LZW: variable code width from min+1 to 12 bits,
    little-endian bit packing, clear/end control codes — exactly as
    published in the GIF89a specification appendix."""
    clear = 1 << min_code_size
    end = clear + 1
    base = [[i] for i in range(clear)] + [None, None]
    table = list(base)
    code_size = min_code_size + 1
    out: list[int] = []
    prev: list[int] | None = None
    bitpos, total = 0, len(data) * 8
    while bitpos + code_size <= total:
        v = 0
        for i in range(code_size):
            v |= ((data[(bitpos + i) >> 3] >> ((bitpos + i) & 7)) & 1) << i
        bitpos += code_size
        if v == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if v == end:
            break
        if prev is None:
            # the first code after a CLEAR must name a root table entry;
            # a value beyond the table is a corrupt stream, not an
            # IndexError (direct decode callers rely on the ValueError
            # contract — the mapInPandas path catches both, but the
            # documented API is ValueError for malformed bytes)
            if v >= len(table) or table[v] is None:
                raise ValueError("corrupt GIF LZW stream")
            entry = table[v]
        elif v < len(table) and table[v] is not None:
            entry = table[v]
        elif v == len(table):
            entry = prev + [prev[0]]
        else:
            raise ValueError("corrupt GIF LZW stream")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + [entry[0]])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    return out


def decode_gif_pixels(content: bytes) -> tuple[int, int, list[int]]:
    """First-frame GIF pixel decode (GIF87a/89a): logical screen
    descriptor, global/local color tables, extension-block skipping,
    LZW index stream, 4-pass GIF interlace — all from the public spec.
    Returns the first image's (width, height, luma grid)."""
    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    import struct as _s
    _, _, flags = _s.unpack_from("<HHB", content, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = content[pos:pos + 3 * n]
        pos += 3 * n
    while pos < len(content):
        b = content[pos]
        if b == 0x21:                       # extension: label + subblocks
            pos += 2
            while pos < len(content) and content[pos] != 0:
                pos += 1 + content[pos]
            pos += 1
        elif b == 0x2C:                     # image descriptor
            _, _, w, h, iflags = _s.unpack_from("<HHHHB", content, pos + 1)
            pos += 10
            table = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                table = content[pos:pos + 3 * n]
                pos += 3 * n
            if table is None:
                raise ValueError("GIF image without a color table")
            mcs = content[pos]
            pos += 1
            data = bytearray()
            while pos < len(content) and content[pos] != 0:
                size = content[pos]
                data += content[pos + 1:pos + 1 + size]
                pos += 1 + size
            idx = _gif_lzw_decode(mcs, bytes(data))
            if len(idx) < w * h:
                raise ValueError("GIF LZW stream shorter than the image")
            luma = [(299 * table[3 * i] + 587 * table[3 * i + 1]
                     + 114 * table[3 * i + 2]) // 1000
                    for i in range(len(table) // 3)]
            grid = [0] * (w * h)
            if iflags & 0x40:               # GIF 4-pass interlace
                rows = (list(range(0, h, 8)) + list(range(4, h, 8))
                        + list(range(2, h, 4)) + list(range(1, h, 2)))
            else:
                rows = list(range(h))
            k = 0
            for y in rows:
                for x in range(w):
                    grid[y * w + x] = luma[idx[k]]
                    k += 1
            return w, h, grid
        elif b == 0x3B:                     # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    raise ValueError("GIF without an image descriptor")


def encode_gif_gray(width: int, height: int, gray: list[int],
                    interlace: bool = False) -> bytes:
    """Minimal single-frame grayscale GIF89a encoder: a 256-entry gray
    palette and the classic 'uncompressed' LZW stream (a CLEAR code
    before every pixel code keeps the table empty and the code width
    fixed at 9 bits — a perfectly valid stream any decoder accepts).
    Fixture/synthesis twin of encode_png_gray."""
    import struct as _s
    if len(gray) != width * height:
        raise ValueError("gray must hold width*height values")
    out = bytearray(b"GIF89a")
    out += _s.pack("<HHBBB", width, height, 0xF7, 0, 0)  # GCT: 256 cells
    for v in range(256):
        out += bytes((v, v, v))
    out += b"\x2C" + _s.pack("<HHHHB", 0, 0, width, height,
                             0x40 if interlace else 0)
    out.append(8)                           # LZW min code size
    bits = bytearray()
    acc = n_acc = 0

    def emit(code):
        nonlocal acc, n_acc
        acc |= code << n_acc
        n_acc += 9
        while n_acc >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            n_acc -= 8

    if interlace:
        h = height
        rows = (list(range(0, h, 8)) + list(range(4, h, 8))
                + list(range(2, h, 4)) + list(range(1, h, 2)))
    else:
        rows = list(range(height))
    emit(256)                               # initial CLEAR
    for y in rows:
        for x in range(width):
            emit(gray[y * width + x] & 0xFF)
            emit(256)                       # keep the table empty
    emit(257)                               # END
    if n_acc:
        bits.append(acc & 0xFF)
    for i in range(0, len(bits), 255):
        block = bits[i:i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3B"
    return bytes(out)

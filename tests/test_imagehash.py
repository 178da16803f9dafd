"""Perceptual image hashing + near-dup dedup (operators/imagehash.py).

Round-7 verdict item #1: PNG pixel decode is REAL (stdlib zlib inflate
+ the five public defilter predictors); aHash/dHash are integer-exact;
near-dup pairing reuses the pigeonhole chunk blocking. No reference
analog — beyond-parity LLM-pipeline tier."""

import random
import struct
import zlib

import pytest

from datafusion_postgres_spark.operators.imagehash import (
    ahash_chunks, decode_image_pixels, decode_png_pixels, dhash_chunks,
    encode_png_gray, image_near_dup_pairs, image_perceptual_hashes,
    synthesize_png_corpus,
)

SF = "/root/testdata/sf0.001"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data)))


def _raw_png(w, h, color_type, channels, pix, filters=0):
    raw = bytearray()
    for r in range(h):
        raw.append(filters)
        for c in range(w):
            raw.extend(pix[r][c][:channels])
    return (b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR",
                         struct.pack(">IIBBBBB", w, h, 8, color_type,
                                     0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


class TestPngCodec:
    def test_roundtrip_all_filter_types(self):
        """encode cycles filter types 0-4 per row, so a single round
        trip exercises every public defilter predictor."""
        rng = random.Random(11)
        for w, h in [(16, 16), (8, 8), (13, 9), (32, 16), (7, 7), (1, 5)]:
            gray = [rng.randrange(256) for _ in range(w * h)]
            w2, h2, g2 = decode_png_pixels(encode_png_gray(w, h, gray))
            assert (w2, h2, g2) == (w, h, gray)

    def test_rgb_rgba_gray_alpha_decode(self):
        rng = random.Random(5)
        w, h = 9, 5
        pix = [[tuple(rng.randrange(256) for _ in range(4))
                for _ in range(w)] for _ in range(h)]
        for color_type, ch in ((2, 3), (6, 4), (4, 2)):
            w2, h2, gray = decode_png_pixels(
                _raw_png(w, h, color_type, ch, pix))
            exp = []
            for r in range(h):
                for c in range(w):
                    p = pix[r][c][:ch]
                    exp.append(p[0] if ch == 2 else
                               (299 * p[0] + 587 * p[1] + 114 * p[2])
                               // 1000)
            assert (w2, h2, gray) == (w, h, exp)

    def test_palette_png_decodes_via_plte(self):
        # indexed-color: indices map through the PLTE chunk's luma
        import zlib as _z
        w, h = 5, 3
        pal = bytes([255, 0, 0,   0, 255, 0,   0, 0, 255,   9, 9, 9])
        raw = bytearray()
        for r in range(h):
            raw.append(0)
            raw.extend((r + c) % 4 for c in range(w))
        png = (b"\x89PNG\r\n\x1a\n"
               + _png_chunk(b"IHDR",
                            struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
               + _png_chunk(b"PLTE", pal)
               + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
               + _png_chunk(b"IEND", b""))
        luma = [(299 * pal[i] + 587 * pal[i + 1] + 114 * pal[i + 2])
                // 1000 for i in range(0, 12, 3)]
        w2, h2, gray = decode_png_pixels(png)
        want = [luma[(r + c) % 4] for r in range(h) for c in range(w)]
        assert (w2, h2, gray) == (w, h, want)

    def test_16bit_png_reduces_to_high_byte(self):
        # 16-bit grayscale: defilter on byte pairs (bpp=2), then the
        # high byte carries the 8-bit luma; Sub filter exercises the
        # 2-byte bpp offset
        import zlib as _z
        w, h = 4, 2
        vals = [[0x1234, 0xFFEE, 0x0001, 0x8000],
                [0x4242, 0x0100, 0xABCD, 0x7FFF]]
        raw = bytearray()
        for r in range(h):
            raw.append(1)  # Sub filter
            prev = (0, 0)
            for c in range(w):
                hi, lo = vals[r][c] >> 8, vals[r][c] & 0xFF
                raw.append((hi - prev[0]) & 0xFF)
                raw.append((lo - prev[1]) & 0xFF)
                prev = (hi, lo)
        png = (b"\x89PNG\r\n\x1a\n"
               + _png_chunk(b"IHDR",
                            struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0))
               + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
               + _png_chunk(b"IEND", b""))
        w2, h2, gray = decode_png_pixels(png)
        assert (w2, h2) == (w, h)
        assert gray == [v >> 8 for row in vals for v in row]

    def test_malformed_variants_raise_clearly(self):
        # PNG static-image coverage is COMPLETE (all legal depth/color
        # combos + Adam7): only genuinely ILLEGAL or corrupt streams
        # raise, and they raise ValueError, never silent garbage
        bad_palette = (b"\x89PNG\r\n\x1a\n"
                       + _png_chunk(b"IHDR",
                                    struct.pack(">IIBBBBB", 4, 4, 8, 3,
                                                0, 0, 0))
                       + _png_chunk(b"IEND", b""))
        with pytest.raises(ValueError):
            decode_png_pixels(bad_palette)   # palette without PLTE
        for depth, ctype, inter in ((16, 3, 0),   # 16-bit palette
                                    (3, 0, 0),    # depth 3 illegal
                                    (8, 0, 2),    # interlace 2 illegal
                                    (4, 2, 0)):   # sub-byte RGB illegal
            png = (b"\x89PNG\r\n\x1a\n"
                   + _png_chunk(b"IHDR",
                                struct.pack(">IIBBBBB", 4, 4, depth,
                                            ctype, 0, 0, inter))
                   + _png_chunk(b"IEND", b""))
            with pytest.raises(ValueError):
                decode_png_pixels(png)
        # truncated IDAT
        with pytest.raises(ValueError):
            decode_png_pixels(
                b"\x89PNG\r\n\x1a\n"
                + _png_chunk(b"IHDR",
                             struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
                + _png_chunk(b"IDAT", b"\x78\x9c\x01")
                + _png_chunk(b"IEND", b""))
        with pytest.raises(ValueError):
            decode_png_pixels(b"\xff\xd8\xffnot a png")

    def test_subbyte_and_adam7_decode(self):
        import zlib as _z
        # 2-bit palette, 5x1
        pal = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 200, 210, 220])
        idx = [0, 3, 2, 1, 0]
        raw = bytearray([0, (idx[0] << 6) | (idx[1] << 4)
                         | (idx[2] << 2) | idx[3], idx[4] << 6])
        png = (b"\x89PNG\r\n\x1a\n"
               + _png_chunk(b"IHDR",
                            struct.pack(">IIBBBBB", 5, 1, 2, 3, 0, 0, 0))
               + _png_chunk(b"PLTE", pal)
               + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
               + _png_chunk(b"IEND", b""))
        luma = [(299 * pal[3 * i] + 587 * pal[3 * i + 1]
                 + 114 * pal[3 * i + 2]) // 1000 for i in range(4)]
        assert decode_png_pixels(png) == (5, 1, [luma[i] for i in idx])
        # 1-bit gray scales to 0/255
        raw = bytearray([0, 0b10110010])
        png = (b"\x89PNG\r\n\x1a\n"
               + _png_chunk(b"IHDR",
                            struct.pack(">IIBBBBB", 8, 1, 1, 0, 0, 0, 0))
               + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
               + _png_chunk(b"IEND", b""))
        assert decode_png_pixels(png) == (
            8, 1, [255, 0, 255, 255, 0, 0, 255, 0])
        # Adam7: scatter the seven passes of a random 13x9 gray image
        # (filter 0 per pass row) and expect exact reconstruction
        rng = random.Random(23)
        w, h = 13, 9
        gray = [rng.randrange(256) for _ in range(w * h)]
        passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                  (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
        raw = bytearray()
        for xs, ys, xst, yst in passes:
            w_p = (w - xs + xst - 1) // xst
            h_p = (h - ys + yst - 1) // yst
            if w_p <= 0 or h_p <= 0:
                continue
            for r in range(h_p):
                raw.append(0)
                y = ys + r * yst
                raw.extend(gray[y * w + xs + i * xst] for i in range(w_p))
        png = (b"\x89PNG\r\n\x1a\n"
               + _png_chunk(b"IHDR",
                            struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1))
               + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
               + _png_chunk(b"IEND", b""))
        assert decode_png_pixels(png) == (w, h, gray)

    def test_netpbm_and_bmp_pixels(self):
        gray = list(range(12))
        p5 = b"P5 4 3 255\n" + bytes(gray)
        assert decode_image_pixels(p5) == (4, 3, gray)
        rgb = bytes(v for g in gray for v in (g, g, g))
        p6 = b"P6 4 3 255\n" + rgb
        assert decode_image_pixels(p6) == (4, 3, gray)
        # bottom-up 8-bit BMP, rows padded to 4 bytes
        w, h, row_bytes = 4, 3, 4
        hdr = bytearray(54)
        hdr[0:2] = b"BM"
        struct.pack_into("<I", hdr, 10, 54)
        struct.pack_into("<I", hdr, 14, 40)
        struct.pack_into("<ii", hdr, 18, w, h)
        struct.pack_into("<H", hdr, 26, 1)
        struct.pack_into("<H", hdr, 28, 8)
        body = b"".join(bytes(gray[r * w:(r + 1) * w]).ljust(row_bytes,
                                                             b"\x00")
                        for r in reversed(range(h)))
        assert decode_image_pixels(bytes(hdr) + body) == (w, h, gray)


class TestPerceptualHash:
    def test_integer_exact_vs_naive_float(self):
        rng = random.Random(3)
        w = h = 16
        gray = [rng.randrange(256) for _ in range(w * h)]
        ch = ahash_chunks(gray, w, h)
        mean = sum(gray) / len(gray)
        bits = []
        for br in range(8):
            for bc in range(8):
                vals = [gray[r * w + c]
                        for r in range(br * 2, br * 2 + 2)
                        for c in range(bc * 2, bc * 2 + 2)]
                bits.append(1 if sum(vals) / 4 >= mean else 0)
        want = [sum(bits[j * 16 + k] << k for k in range(16))
                for j in range(4)]
        assert ch == want

    def test_near_identical_images_hash_close(self):
        rng = random.Random(9)
        gray = [rng.randrange(256) for _ in range(256)]
        tweaked = list(gray)
        for i in range(0, 8):          # brighten a corner region
            tweaked[i] = min(255, tweaked[i] + 40)
        a = ahash_chunks(gray, 16, 16)
        b = ahash_chunks(tweaked, 16, 16)
        ham = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
        assert ham <= 6
        other = [rng.randrange(256) for _ in range(256)]
        c = ahash_chunks(other, 16, 16)
        far = sum(bin(x ^ y).count("1") for x, y in zip(a, c))
        assert far > ham
        d1, d2 = dhash_chunks(gray, 16, 16), dhash_chunks(tweaked, 16, 16)
        assert sum(bin(x ^ y).count("1") for x, y in zip(d1, d2)) <= 10


class TestNearDupPairs:
    def test_planted_near_dup_found(self, spark):
        rng = random.Random(21)
        base = [rng.randrange(256) for _ in range(256)]
        # dup: tiny perturbation; decoy: unrelated pixels
        dup = list(base)
        dup[100] = (dup[100] + 3) % 256
        decoy = [rng.randrange(256) for _ in range(256)]
        rows = [(1, encode_png_gray(16, 16, base), "image/png"),
                (2, encode_png_gray(16, 16, dup), "image/png"),
                (3, encode_png_gray(16, 16, decoy), "image/png")]
        media = spark.createDataFrame(
            rows, "doc_id long, content binary, media_type string")
        got = {(r["id_a"], r["id_b"])
               for r in image_near_dup_pairs(media).collect()}
        assert (1, 2) in got
        assert (1, 3) not in got and (2, 3) not in got

    def test_poison_rows_skipped_not_fatal(self, spark):
        rows = [(1, encode_png_gray(8, 8, list(range(64))), "image/png"),
                (2, b"\xff\xd8\xff\xe0 jpeg-ish garbage", "image/jpeg"),
                (3, b"", "image/png")]
        media = spark.createDataFrame(
            rows, "doc_id long, content binary, media_type string")
        hashes = image_perceptual_hashes(media).collect()
        by_id = {r["doc_id"]: r for r in hashes}
        assert by_id[1]["ahash_c0"] is not None
        assert by_id[2]["ahash_c0"] is None
        assert by_id[3]["ahash_c0"] is None
        assert image_near_dup_pairs(media).count() == 0

    def test_blocking_is_exact_vs_bruteforce(self, spark):
        """Pigeonhole pin: the chunk-blocked join finds EXACTLY the
        pairs a naive all-pairs hamming join finds at max_hamming=3."""
        from datafusion_postgres_spark.sources.registry import read_table
        docs = read_table(spark, SF, "documents").limit(120)
        media = synthesize_png_corpus(docs)
        got = {(r["id_a"], r["id_b"], r["hamming"])
               for r in image_near_dup_pairs(media,
                                             max_hamming=3).collect()}
        sig = image_perceptual_hashes(media).collect()
        want = set()
        for i, a in enumerate(sig):
            for b in sig[i + 1:]:
                ha = [a[f"ahash_c{j}"] for j in range(4)]
                hb = [b[f"ahash_c{j}"] for j in range(4)]
                ham = sum(bin(x ^ y).count("1") for x, y in zip(ha, hb))
                if ham <= 3:
                    lo, hi = sorted((a["doc_id"], b["doc_id"]))
                    want.add((lo, hi, ham))
        assert got == want and len(want) > 0

    def test_max_hamming_above_blocking_guarantee_rejected(self, spark):
        media = spark.createDataFrame(
            [(1, encode_png_gray(8, 8, list(range(64))), "image/png")],
            "doc_id long, content binary, media_type string")
        with pytest.raises(ValueError):
            image_near_dup_pairs(media, max_hamming=4)

    def test_block_cols_exact_vs_bruteforce(self, spark):
        """Round-10 single-parse pin: chunked_hamming_pairs with
        ``block_cols`` (the video per-position shape) finds EXACTLY
        the brute-force pairs that match on the block key AND are
        within max_hamming — exercising the parsed join conditions,
        the bc-qualified within/cross projections, and the hamming
        fold on a frame with identical-signature groups per block."""
        from datafusion_postgres_spark.operators.imagehash import (
            chunked_hamming_pairs)
        rng = random.Random(42)
        rows = []
        for i in range(40):
            pos = i % 3
            if i % 5 == 0 and i >= 3:
                # identical-signature clique member within its block
                # (i-3 shares pos: 3 % 3 == 0)
                sig4 = rows[i - 3][2:]
            elif i % 7 == 3 and i >= 3:
                # planted near-dup within its block: flip one low bit
                prev = rows[i - 3]
                sig4 = (prev[2] ^ 1, prev[3], prev[4], prev[5])
            else:
                sig4 = tuple(rng.randrange(1 << 16) for _ in range(4))
            rows.append((i, pos, *sig4))
        sig = spark.createDataFrame(
            rows, "id long, pos int, c0 long, c1 long, c2 long, c3 long")
        got = {(r["id_a"], r["id_b"], r["pos"], r["hamming"])
               for r in chunked_hamming_pairs(
                   sig, ["c0", "c1", "c2", "c3"], max_hamming=3,
                   cache_key="test_bc_pin", max_df=None,
                   block_cols=("pos",)).collect()}
        want = set()
        for i, a in enumerate(rows):
            for b in rows[i + 1:]:
                if a[1] != b[1]:
                    continue
                ham = sum(bin(x ^ y).count("1")
                          for x, y in zip(a[2:], b[2:]))
                if ham <= 3:
                    lo, hi = sorted((a[0], b[0]))
                    want.add((lo, hi, a[1], ham))
        assert got == want and len(want) > 0
        # sanity: the planted structures actually exercised both the
        # hamming-0 clique path and the cross-rep near-dup path
        assert any(h == 0 for *_, h in want)
        assert any(h > 0 for *_, h in want)

    @pytest.mark.parametrize("bad", [1 << 16, -1])
    def test_chunk_wider_than_16_bits_rejected(self, spark, bad):
        """The packed 64-bit carry gives each chunk 16 bits: a wider or
        negative chunk fails loudly, naming its column."""
        from datafusion_postgres_spark.operators.imagehash import (
            chunked_hamming_pairs)
        sig = spark.createDataFrame(
            [(1, 5, 6, 7, 8), (2, 5, bad, 7, 8)],
            "id long, c0 long, c1 long, c2 long, c3 long")
        with pytest.raises(ValueError, match="'c1'"):
            chunked_hamming_pairs(sig, ["c0", "c1", "c2", "c3"],
                                  cache_key="test_wide_chunk", max_df=None)


class TestImageIncrementalDedup:
    """Ingest-loop state for the image tier (write -> dedup -> merge),
    the image twin of dedup_incremental_bucketed."""

    def test_ingest_loop_flow(self, spark, tmp_path):
        import random
        from datafusion_postgres_spark.operators.imagehash import (
            image_dedup_incremental, merge_new_image_hashes,
            write_image_hash_table,
        )
        spark.sql("DROP TABLE IF EXISTS img_state_t")
        rng = random.Random(77)
        base = [rng.randrange(256) for _ in range(256)]
        unique1 = [rng.randrange(256) for _ in range(256)]
        unique2 = [rng.randrange(256) for _ in range(256)]
        near_base = list(base)
        near_base[3] = (near_base[3] + 2) % 256
        near_u1 = list(unique1)
        near_u1[50] = (near_u1[50] + 1) % 256

        corpus = spark.createDataFrame(
            [(1, encode_png_gray(16, 16, base))],
            "doc_id long, content binary")
        write_image_hash_table(corpus, "img_state_t")

        # batch 1: near-dup of state (drop), unique (keep), and an
        # intra-batch near-dup pair (keep lower id only)
        batch1 = spark.createDataFrame(
            [(10, encode_png_gray(16, 16, near_base)),
             (11, encode_png_gray(16, 16, unique1)),
             (12, encode_png_gray(16, 16, near_u1))],
            "doc_id long, content binary")
        kept1 = image_dedup_incremental(batch1, "img_state_t")
        assert sorted(r["doc_id"] for r in kept1.collect()) == [11]
        merge_new_image_hashes(kept1, "img_state_t")

        # batch 2: near-dup of the JUST-MERGED unique1 (drop), new
        # unique (keep) — state grew across the loop
        batch2 = spark.createDataFrame(
            [(20, encode_png_gray(16, 16, near_u1)),
             (21, encode_png_gray(16, 16, unique2))],
            "doc_id long, content binary")
        kept2 = image_dedup_incremental(batch2, "img_state_t")
        assert sorted(r["doc_id"] for r in kept2.collect()) == [21]
        spark.sql("DROP TABLE img_state_t")


class TestGifCodec:
    def test_roundtrip_both_interlace_modes(self):
        from datafusion_postgres_spark.operators.imagehash import (
            decode_gif_pixels, encode_gif_gray,
        )
        rng = random.Random(4)
        for w, h in [(16, 16), (13, 9), (7, 5), (1, 1)]:
            for inter in (False, True):
                gray = [rng.randrange(256) for _ in range(w * h)]
                assert decode_gif_pixels(
                    encode_gif_gray(w, h, gray, interlace=inter)) == \
                    (w, h, gray)

    def test_lzw_table_growth_path(self):
        """A genuinely COMPRESSED stream (codes referencing grown table
        entries, including the code==len(table) KwKwK case) — the path
        the uncompressed fixture encoder never exercises."""
        from datafusion_postgres_spark.operators.imagehash import (
            _gif_lzw_decode,
        )
        # min_code_size=2: clear=4, end=5; codes [4, 1, 6, 7, 5] decode
        # to [1] + [1,1] + [1,1,1] (6,7 are the just-created entries)
        codes, width = [4, 1, 6, 7, 5], 3
        acc = 0
        for i, c in enumerate(codes):
            acc |= c << (i * width)
        data = acc.to_bytes((len(codes) * width + 7) // 8, "little")
        assert _gif_lzw_decode(2, data) == [1, 1, 1, 1, 1, 1]

    def test_lzw_first_code_out_of_bounds_is_value_error(self):
        """ADVICE r8 #2: a first code after CLEAR beyond the table must
        raise ValueError (the documented malformed-stream contract for
        direct decode callers), never an IndexError."""
        import pytest
        from datafusion_postgres_spark.operators.imagehash import (
            _gif_lzw_decode,
        )
        # min_code_size=2: clear=4, end=5, table length 6. First codes
        # 6 (== len) and 7 (> len) are both corrupt as the stream opener.
        for first in (6, 7):
            with pytest.raises(ValueError, match="corrupt GIF"):
                _gif_lzw_decode(2, bytes([first]))

    def test_keep_equals_pairs_components_composition(self, spark):
        """chunked_hamming_keep's shortcut (rep collapse + components
        over rep pairs) must equal the pair-materializing composition
        connected_components(image_near_dup_pairs) + keep-min +
        singletons, on a corpus with exact dups, near dups, chains,
        and singletons."""
        from datafusion_postgres_spark.operators.dedup import (
            connected_components,
        )
        from datafusion_postgres_spark.operators.imagehash import (
            image_dedup_keep, image_near_dup_pairs,
        )
        rng = random.Random(71)
        base = [rng.randrange(256) for _ in range(256)]
        near = list(base)
        near[3] = (near[3] + 2) % 256
        blobs = [encode_png_gray(16, 16, base)] * 3 \
            + [encode_png_gray(16, 16, near)] \
            + [encode_png_gray(16, 16,
                               [rng.randrange(256) for _ in range(256)])
               for _ in range(20)]
        media = spark.createDataFrame(
            list(enumerate(blobs)), "doc_id long, content binary")
        kept = sorted(r["doc_id"] for r in
                      image_dedup_keep(media).collect())
        pairs = image_near_dup_pairs(media)
        comp = {r["doc_id"]: r["component_id"] for r in
                connected_components(pairs).collect()}
        want = sorted(i for i in range(len(blobs))
                      if comp.get(i, i) == i)
        assert kept == want
        assert 0 in kept and {1, 2, 3}.isdisjoint(set(kept))

    def test_gif_flows_into_near_dup_pairs(self, spark):
        from datafusion_postgres_spark.operators.imagehash import (
            encode_gif_gray, image_near_dup_pairs,
        )
        rng = random.Random(51)
        base = [rng.randrange(256) for _ in range(256)]
        dup = list(base)
        dup[10] = (dup[10] + 2) % 256
        png_twin = encode_png_gray(16, 16, base)
        media = spark.createDataFrame(
            [(1, encode_gif_gray(16, 16, base)),
             (2, encode_gif_gray(16, 16, dup)),
             (3, png_twin)],
            "doc_id long, content binary")
        got = {(r["id_a"], r["id_b"])
               for r in image_near_dup_pairs(media).collect()}
        # GIF<->GIF near-dup found AND the GIF pairs with its PNG twin
        # (identical pixels -> identical hash, format-independent)
        assert (1, 2) in got and (1, 3) in got


class TestRobustnessRound7Review:
    def test_struct_error_poison_rows_skipped(self, spark):
        """Truncated headers that raise struct.error must NULL out, not
        kill the job (the poison-row contract)."""
        rows = [(1, encode_png_gray(8, 8, list(range(64)))),
                (2, b"BM\x00\x00"),
                (3, b"GIF87a"),
                (4, b"\x89PNG\r\n\x1a\n\x00\x00")]
        media = spark.createDataFrame(rows, "doc_id long, content binary")
        got = {r["doc_id"]: r["ahash_c0"]
               for r in image_perceptual_hashes(media).collect()}
        assert got[1] is not None
        assert got[2] is None and got[3] is None and got[4] is None

    def test_bmp_8bit_palette_mapped(self):
        """8bpp BMP is indexed color: a non-identity palette must map
        through the color table (a PNG of the same pixels hashes
        identically)."""
        import struct as _s
        w, h = 4, 2
        idx = [0, 1, 2, 3, 3, 2, 1, 0]
        pal_rgb = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
        hdr = bytearray(54)
        hdr[0:2] = b"BM"
        data_off = 54 + 4 * 4
        _s.pack_into("<I", hdr, 10, data_off)
        _s.pack_into("<I", hdr, 14, 40)
        _s.pack_into("<ii", hdr, 18, w, h)
        _s.pack_into("<H", hdr, 26, 1)
        _s.pack_into("<H", hdr, 28, 8)
        pal = b"".join(bytes((b, g, r, 0)) for r, g, b in pal_rgb)
        row_bytes = (w + 3) & ~3
        body = b"".join(bytes(idx[r * w:(r + 1) * w]).ljust(row_bytes,
                                                            b"\x00")
                        for r in reversed(range(h)))
        got = decode_image_pixels(bytes(hdr) + pal + body)
        luma = [(299 * r + 587 * g + 114 * b) // 1000
                for r, g, b in pal_rgb]
        assert got == (w, h, [luma[i] for i in idx])

    def test_netpbm_16bit_maxval_and_truncation(self):
        import struct as _s
        vals = [0, 1000, 65535, 32768]
        p5 = b"P5 4 1 65535\n" + _s.pack(">4H", *vals)
        assert decode_image_pixels(p5) == (
            4, 1, [v * 255 // 65535 for v in vals])
        # non-255 8-bit maxval scales too
        p5b = b"P5 3 1 100\n" + bytes([0, 50, 100])
        assert decode_image_pixels(p5b) == (3, 1, [0, 127, 255])
        with pytest.raises(ValueError):
            decode_image_pixels(b"P5 4 4 255\n" + bytes(3))  # truncated


class TestIdentifierQuoting:
    def test_bq_escapes_embedded_backticks(self, spark):
        """Round-11 ADVICE fix: block-column names are backtick-quoted
        into single-parse SQL; an embedded backtick must be escaped
        (doubled), and the quoted form must round-trip through a real
        selectExpr rather than mis-parse."""
        from datafusion_postgres_spark.operators.imagehash import _bq
        assert _bq("frame_pos") == "`frame_pos`"
        assert _bq("we`ird") == "`we``ird`"
        df = spark.createDataFrame([(1,)], ["x"]).withColumnRenamed(
            "x", "we`ird")
        out = df.selectExpr(f"{_bq('we`ird')} AS ok").collect()
        assert out[0]["ok"] == 1

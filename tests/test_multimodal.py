"""Multimodal column plumbing tests: binary content + mapInPandas
metadata extraction (decode itself is a deterministic fake — see
operators/multimodal.py)."""

import pytest
from pyspark.sql import functions as F

from datafusion_postgres_spark.operators import multimodal as mm
from datafusion_postgres_spark.sources.registry import read_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = read_table(spark, SF_DIR, "documents").limit(100)
    return mm.attach_binary_content(docs)


def test_binary_schema(media):
    dtypes = dict(media.dtypes)
    assert dtypes["content"] == "binary"
    assert dtypes["media_type"] == "string"


def test_extract_metadata_shape(media):
    out = mm.extract_metadata(media, fake_decode=True)
    rows = out.collect()
    assert len(rows) == 100
    assert set(out.columns) == {"doc_id", "media_type", "byte_len", "format",
                                "width", "height", "checksum"}
    for r in rows:
        assert r["byte_len"] > 0
        assert 64 <= r["width"] < 64 + 1024


_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def test_operator_leaves_session_arrow_batch_size(spark, media):
    """An operator's batch_size must not stay behind in the session, where
    every later Arrow exchange (result fetches included) would use it."""
    before = spark.conf.get(_BATCH_CONF)
    assert mm.extract_metadata(media, batch_size=7).count() == 100
    assert spark.conf.get(_BATCH_CONF) == before


def test_map_in_batches_bounds_each_batch(spark):
    import pandas as pd

    def sizes(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)], "first": [pdf["id"].iloc[0]]})

    df = spark.range(0, 10, 1, 1)
    got = mm.map_in_batches(df, sizes, "n long, first long", 3).collect()
    assert [(r.n, r.first) for r in got] == [(3, 0), (3, 3), (3, 6), (1, 9)]


def test_metadata_deterministic_vs_local(spark, media):
    """The distributed mapInPandas result must equal a local recompute."""
    sample = media.orderBy("doc_id").limit(5).collect()
    dist = {r["doc_id"]: r for r in
            mm.extract_metadata(media, fake_decode=True).collect()}
    for row in sample:
        local = mm.decode_image(bytes(row["content"]), fake=True)
        got = dist[row["doc_id"]]
        assert got["checksum"] == local["checksum"]
        assert got["byte_len"] == local["byte_len"]
        assert got["width"] == local["width"]


def test_pixelless_formats_still_require_library():
    # formats with no header-only dimension parser stay an honest
    # NotImplementedError (PNG/GIF/JPEG dims are now real header reads)
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x00\x00\x00\x18ftypmp42....")  # mp4
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"no magic at all")


def _ppm(w, h):
    # P6 with a comment line — the public netpbm header shape
    return (f"P6\n# test image\n{w} {h}\n255\n".encode() +
            bytes(w * h * 3))


def _bmp(w, h):
    import struct
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, w * h * 3,
                      2835, 2835, 0, 0)
    hdr = b"BM" + struct.pack("<IHHI", 54 + w * h * 3, 0, 0, 54)
    return hdr + dib + bytes(w * h * 3)


class TestRealDecode:
    """Library-free REAL decode: netpbm + BMP parsed from their public
    specs — same schema as the fake path, end-to-end via mapInPandas."""

    def test_ppm_local(self):
        got = mm.decode_image(_ppm(320, 200))
        assert (got["format"], got["width"], got["height"]) == \
            ("ppm", 320, 200)

    def test_bmp_local_including_topdown(self):
        assert mm.decode_image(_bmp(64, 48))["width"] == 64
        import struct
        # negative height = top-down BMP; dimensions still positive
        td = bytearray(_bmp(10, 7))
        struct.pack_into("<i", td, 22, -7)
        got = mm.decode_image(bytes(td))
        assert (got["width"], got["height"]) == (10, 7)

    def test_malformed_headers_raise(self):
        with pytest.raises(ValueError):
            mm.decode_image(b"P6\n# no dims")
        with pytest.raises(ValueError):
            mm.decode_image(b"BM\x00\x00")

    def test_real_path_distributed(self, spark):
        rows = [(1, _ppm(32, 16), "image/x-portable-pixmap"),
                (2, _bmp(20, 10), "image/bmp"),
                (3, _ppm(100, 50), "image/x-portable-pixmap")]
        media = spark.createDataFrame(
            rows, "doc_id long, content binary, media_type string")
        out = mm.extract_metadata(media, fake_decode=False)
        assert set(out.columns) == {"doc_id", "media_type", "byte_len",
                                    "format", "width", "height", "checksum"}
        got = {r["doc_id"]: (r["format"], r["width"], r["height"])
               for r in out.collect()}
        assert got == {1: ("ppm", 32, 16), 2: ("bmp", 20, 10),
                       3: ("ppm", 100, 50)}


def test_repartition_for_decode(media):
    out = mm.repartition_for_decode(media, target_bytes=10_000)
    assert out.rdd.getNumPartitions() >= 2


def test_frame_sample_plan(media):
    plan = mm.frame_sample_plan(media, every_n_seconds=2)
    rows = plan.collect()
    assert all(r["frame_ts"] % 2 == 0 for r in rows)
    # audio rows excluded
    assert all(not r["media_type"].startswith("audio") for r in rows)


def test_resize_batch_fit_box(media):
    out = {r["doc_id"]: r for r in
           mm.resize_batch(media, max_side=128).collect()}
    assert len(out) == 100
    for r in out.values():
        assert max(r["new_width"], r["new_height"]) <= 128
        # aspect preserved within floor() rounding
        if r["orig_width"] >= r["orig_height"]:
            assert r["new_width"] >= r["new_height"] - 1
        assert 1 <= len(r["content_resized"]) <= r["byte_len"] \
            if "byte_len" in r else True
        assert len(r["content_resized"]) >= 1


def test_resize_deterministic_vs_local(spark, media):
    import math
    sample = media.orderBy("doc_id").limit(3).collect()
    dist = {r["doc_id"]: r for r in
            mm.resize_batch(media, max_side=100).collect()}
    for row in sample:
        meta = mm.decode_image(bytes(row["content"]), fake=True)
        w, h = meta["width"], meta["height"]
        s = min(1.0, 100 / max(w, h))
        assert dist[row["doc_id"]]["new_width"] == max(1, math.floor(w * s))
        assert dist[row["doc_id"]]["new_height"] == max(1, math.floor(h * s))


def test_audio_chunk_plan(media):
    out = mm.audio_chunk_plan(media, chunk_ms=100, overlap_ms=20).collect()
    assert out, "corpus has audio/wav rows"
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r["chunk_id"])
        assert rows[0]["start_ms"] == 0
        for a, b in zip(rows, rows[1:]):
            assert b["start_ms"] - a["start_ms"] == 80   # step = 100-20
        for r in rows:
            assert r["end_ms"] - r["start_ms"] <= 100
            assert r["end_ms"] > r["start_ms"]
    # only audio rows get chunked
    media_types = dict(media.select("doc_id", "media_type").collect())
    assert all(media_types[d].startswith("audio") for d in by_doc)


def test_byte_histogram_features(media):
    import numpy as np
    out = {r["doc_id"]: r for r in
           mm.byte_histogram_features(media, dims=16).collect()}
    assert len(out) == 100
    sample = media.orderBy("doc_id").limit(3).collect()
    for row in sample:
        arr = np.frombuffer(bytes(row["content"]), dtype=np.uint8)
        hist = np.bincount(arr // 16, minlength=16)[:16] / max(1, len(arr))
        got = out[row["doc_id"]]["features"]
        assert len(got) == 16
        assert np.allclose(got, hist)
        assert abs(sum(got) - 1.0) < 1e-9   # L1-normalized


def _wav(channels=2, rate=16000, bits=16, frames=16000, extra_chunk=False):
    import struct
    data_size = frames * channels * (bits // 8)
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * (bits // 8),
                      channels * (bits // 8), bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:  # LIST chunk before data — chunk-walk must skip it
        chunks += b"LIST" + struct.pack("<I", 4) + b"INFO"
    chunks += b"data" + struct.pack("<I", data_size) + bytes(min(data_size, 64))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


class TestRealAudioDecode:
    def test_wav_header(self):
        got = mm.decode_audio(_wav())
        assert (got["channels"], got["sample_rate"],
                got["bits_per_sample"]) == (2, 16000, 16)
        assert got["duration_ms"] == 1000  # 16000 frames @ 16 kHz

    def test_chunk_walk_skips_list(self):
        got = mm.decode_audio(_wav(channels=1, rate=8000, frames=4000,
                                   extra_chunk=True))
        assert got["channels"] == 1 and got["duration_ms"] == 500

    def test_unsupported_audio_raises(self):
        with pytest.raises(NotImplementedError):
            mm.decode_audio(b"OggS\x00 vorbis data")
        with pytest.raises(ValueError):
            mm.decode_audio(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt chunk
        with pytest.raises(ValueError):
            mm.decode_audio(b"ID3\x04\x00\x00\x00\x00\x00\x04junk")  # no sync

    def test_distributed_probe(self, spark):
        rows = [(1, _wav(rate=16000, frames=16000)),
                (2, _wav(channels=1, rate=8000, frames=2000))]
        media = spark.createDataFrame(rows, "doc_id long, content binary")
        got = {r["doc_id"]: r["duration_ms"] for r in
               mm.extract_audio_metadata(media).collect()}
        assert got == {1: 1000, 2: 250}


import struct


def _png(w, h):
    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" +
            ihdr + b"\x00\x00\x00\x00")


def _gif(w, h):
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\xf7\x00\x00"


def _jpeg(w, h, progressive=False):
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof_marker = b"\xff\xc2" if progressive else b"\xff\xc0"
    sof = sof_marker + struct.pack(">H", 17) + b"\x08" + \
        struct.pack(">HH", h, w) + b"\x03" + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def _flac(rate=44100, channels=2, bits=16, total=44100):
    packed = (rate << 44) | ((channels - 1) << 41) | ((bits - 1) << 36) | total
    streaminfo = b"\x10\x00" * 2 + b"\x00" * 6 + struct.pack(">Q", packed) + \
        b"\x00" * 16
    return b"fLaC" + b"\x80" + struct.pack(">I", 34)[1:] + streaminfo


def _mp3_cbr(n_bytes=16000):
    # MPEG1 Layer III, 128 kbps, 44100 Hz, stereo
    return b"\xff\xfb\x90\x00" + b"\x00" * (n_bytes - 4)


def _mp3_xing(frames=100, id3=False):
    hdr = b"\xff\xfb\x90\x00" + b"\x00" * 32  # v1 stereo side info
    body = hdr + b"Xing" + struct.pack(">I", 1) + struct.pack(">I", frames) \
        + b"\x00" * 64
    if id3:
        tag = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 12]) + b"\x00" * 12
        return tag + body
    return body


class TestHeaderOnlyImageDims:
    """r5 verdict item #2: PNG IHDR / GIF screen descriptor / JPEG SOF
    are plain header fields — dimensions need no codec."""

    def test_png(self):
        got = mm.decode_image(_png(640, 480))
        assert (got["format"], got["width"], got["height"]) == \
            ("png", 640, 480)

    def test_gif(self):
        got = mm.decode_image(_gif(320, 200))
        assert (got["format"], got["width"], got["height"]) == \
            ("gif", 320, 200)

    def test_jpeg_baseline_and_progressive(self):
        got = mm.decode_image(_jpeg(1024, 768))
        assert (got["format"], got["width"], got["height"]) == \
            ("jpeg", 1024, 768)
        prog = mm.decode_image(_jpeg(99, 33, progressive=True))
        assert (prog["width"], prog["height"]) == (99, 33)

    def test_truncated_raise(self):
        with pytest.raises(ValueError):
            mm.decode_image(b"\x89PNG\r\n\x1a\n\x00\x00")
        with pytest.raises(ValueError):
            mm.decode_image(b"GIF89a\x01")
        with pytest.raises(ValueError):
            mm.decode_image(b"\xff\xd8\xff\xd9")  # SOI+EOI, no SOF

    def test_distributed_mixed_formats(self, spark):
        rows = [(1, _png(12, 34), "image/png"),
                (2, _gif(56, 78), "image/gif"),
                (3, _jpeg(90, 12), "image/jpeg"),
                (4, _bmp(20, 10), "image/bmp")]
        media = spark.createDataFrame(
            rows, "doc_id long, content binary, media_type string")
        got = {r["doc_id"]: (r["format"], r["width"], r["height"])
               for r in mm.extract_metadata(media, fake_decode=False).collect()}
        assert got == {1: ("png", 12, 34), 2: ("gif", 56, 78),
                       3: ("jpeg", 90, 12), 4: ("bmp", 20, 10)}


class TestCompressedAudioProbes:
    """r5 verdict item #6: FLAC STREAMINFO and MP3 frame headers are
    public formats parseable without a codec."""

    def test_flac_streaminfo(self):
        got = mm.decode_audio(_flac(rate=48000, channels=1, bits=24,
                                    total=96000))
        assert (got["format"], got["channels"], got["sample_rate"],
                got["bits_per_sample"], got["duration_ms"]) == \
            ("flac", 1, 48000, 24, 2000)

    def test_mp3_cbr_duration(self):
        got = mm.decode_audio(_mp3_cbr(16000))
        # 16000 bytes @ 128 kbps = 1000 ms
        assert (got["format"], got["channels"], got["sample_rate"],
                got["duration_ms"]) == ("mp3", 2, 44100, 1000)

    def test_mp3_xing_vbr_and_id3_skip(self):
        want_ms = (100 * 1152 * 1000) // 44100
        assert mm.decode_audio(_mp3_xing(100))["duration_ms"] == want_ms
        assert mm.decode_audio(_mp3_xing(100, id3=True))["duration_ms"] \
            == want_ms

    def test_distributed_mixed_audio(self, spark):
        rows = [(1, _wav(rate=16000, frames=16000)),
                (2, _flac(rate=44100, total=22050)),
                (3, _mp3_cbr(32000))]
        media = spark.createDataFrame(rows, "doc_id long, content binary")
        got = {r["doc_id"]: (r["format"], r["duration_ms"]) for r in
               mm.extract_audio_metadata(media).collect()}
        assert got == {1: ("wav", 1000), 2: ("flac", 500),
                       3: ("mp3", 2000)}


def _isobox(btype: bytes, payload: bytes, largesize: bool = False) -> bytes:
    import struct
    if largesize:
        return struct.pack(">I", 1) + btype + \
            struct.pack(">Q", 16 + len(payload)) + payload
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _mvhd(duration_ms: int, version: int = 0) -> bytes:
    import struct
    timescale = 1000
    if version == 1:
        body = bytes([1, 0, 0, 0]) + struct.pack(">QQ", 0, 0) + \
            struct.pack(">I", timescale) + struct.pack(">Q", duration_ms)
    else:
        body = bytes(4) + struct.pack(">IIII", 0, 0, timescale, duration_ms)
    return _isobox(b"mvhd", body + bytes(80))


def _trak(handler: bytes, w: int = 0, h: int = 0,
          version: int = 0) -> bytes:
    import struct
    if version == 1:
        tk = bytes([1, 0, 0, 0]) + bytes(32) + bytes(52) + \
            struct.pack(">II", w << 16, h << 16)
    else:
        tk = bytes(4) + bytes(20) + bytes(52) + \
            struct.pack(">II", w << 16, h << 16)
    hdlr = _isobox(b"hdlr", bytes(4) + bytes(4) + handler + bytes(12))
    return _isobox(b"trak", _isobox(b"tkhd", tk) + _isobox(b"mdia", hdlr))


def _mp4(duration_ms: int = 90_000, w: int = 640, h: int = 360,
         with_audio: bool = True, version: int = 0,
         largesize_mdat: bool = False) -> bytes:
    ftyp = _isobox(b"ftyp", b"isom" + bytes(4) + b"isomiso2")
    mdat = _isobox(b"mdat", b"\xAB" * 512, largesize=largesize_mdat)
    traks = _trak(b"vide", w, h, version)
    if with_audio:
        traks += _trak(b"soun")
    moov = _isobox(b"moov", _mvhd(duration_ms, version) + traks)
    return ftyp + mdat + moov


class TestVideoProbe:
    """MP4/ISO-BMFF header-only probe: mvhd duration, tkhd dimensions,
    hdlr track classes — mdat skipped via the size field."""

    def test_mp4_v0(self):
        got = mm.decode_video(_mp4())
        assert (got["format"], got["duration_ms"], got["width"],
                got["height"], got["n_video_tracks"],
                got["n_audio_tracks"]) == ("mp4", 90_000, 640, 360, 1, 1)

    def test_mp4_v1_and_largesize(self):
        got = mm.decode_video(_mp4(duration_ms=3_600_000, w=1920, h=1080,
                                   version=1, largesize_mdat=True))
        assert (got["duration_ms"], got["width"], got["height"]) == \
            (3_600_000, 1920, 1080)

    def test_audio_only_container(self):
        got = mm.decode_video(_mp4(w=0, h=0, with_audio=True)
                              .replace(b"vide", b"soun"))
        assert (got["n_video_tracks"], got["n_audio_tracks"],
                got["width"]) == (0, 2, 0)

    def test_errors(self):
        import pytest
        with pytest.raises(ValueError):
            mm.decode_video(_isobox(b"ftyp", b"isom") +
                            _isobox(b"mdat", b"x" * 8))  # no moov
        with pytest.raises(NotImplementedError):
            mm.decode_video(b"\x1a\x45\xdf\xa3" + bytes(64))  # mkv magic

    def test_distributed_probe_feeds_frame_grid(self, spark):
        rows = [(1, _mp4(duration_ms=20_000), "video/mp4"),
                (2, _mp4(duration_ms=7_000, w=320, h=240, version=1),
                 "video/mp4")]
        media = spark.createDataFrame(
            rows, "doc_id long, content binary, media_type string")
        meta = mm.extract_video_metadata(media)
        got = {r["doc_id"]: (r["width"], r["height"], r["duration_ms"])
               for r in meta.collect()}
        assert got == {1: (640, 360, 20_000), 2: (320, 240, 7_000)}
        # real-duration sampling grid: join probe output back on doc_id
        grid = mm.frame_sample_plan(
            media.join(meta.select("doc_id", "duration_ms"), "doc_id"),
            every_n_seconds=5, duration_ms_col="duration_ms")
        ts = sorted((r["doc_id"], r["frame_ts"]) for r in grid.collect())
        assert ts == [(1, 0), (1, 5), (1, 10), (1, 15), (2, 0), (2, 5)]


class TestJpegExif:
    """EXIF orientation/DateTime probe: pure header parse (APP1 TIFF
    IFD0), graceful on non-JPEG and EXIF-less inputs."""

    def test_both_byte_orders(self):
        from datafusion_postgres_spark.operators.multimodal import (
            jpeg_exif, synthetic_jpeg)
        for bo in ("II", "MM"):
            m = jpeg_exif(synthetic_jpeg(
                320, 240, orientation=6,
                datetime="2026:08:14 12:00:00", byte_order=bo))
            assert m == {"has_exif": True, "orientation": 6,
                         "datetime": "2026:08:14 12:00:00"}

    def test_absent_and_malformed_degrade(self):
        from datafusion_postgres_spark.operators.multimodal import (
            jpeg_exif, synthetic_jpeg)
        none = {"has_exif": False, "orientation": None, "datetime": None}
        assert jpeg_exif(synthetic_jpeg(64, 48)) == none
        assert jpeg_exif(b"\x89PNG\r\n\x1a\n") == none
        assert jpeg_exif(b"\xff\xd8\xff\xe1\x00\x08Exif") == none
        assert jpeg_exif(b"") == none

    def test_dims_unaffected_by_app1(self):
        from datafusion_postgres_spark.operators.multimodal import (
            _decode_jpeg, synthetic_jpeg)
        assert _decode_jpeg(synthetic_jpeg(320, 240, orientation=8)) \
            == (320, 240)

    def test_distributed_mixed_corpus(self, spark):
        import pandas as pd
        from datafusion_postgres_spark.operators.multimodal import (
            extract_image_exif, synthetic_jpeg)

        def gen(batches):
            for pdf in batches:
                ids = pdf["doc_id"]
                yield pd.DataFrame({
                    "doc_id": ids,
                    "content": [
                        synthetic_jpeg(10, 10, orientation=1 + int(i) % 8)
                        if i % 3 == 0 else
                        (synthetic_jpeg(10, 10) if i % 3 == 1
                         else b"\x89PNG\r\n\x1a\nxxxx")
                        for i in ids],
                })

        media = (spark.range(30).select(F.col("id").alias("doc_id"))
                 .repartition(4)
                 .mapInPandas(gen, "doc_id long, content binary"))
        got = {r["doc_id"]: (r["has_exif"], r["orientation"]) for r in
               extract_image_exif(media).collect()}
        assert len(got) == 30
        for i in range(30):
            if i % 3 == 0:
                assert got[i] == (True, 1 + i % 8)
            else:
                assert got[i] == (False, None)


class TestTiffDims:
    def _synth(self, w, h, bo="II"):
        e = "<" if bo == "II" else ">"
        hdr = bo.encode() + struct.pack(e + "H", 42) + \
            struct.pack(e + "I", 8)
        entries = (struct.pack(e + "HHI", 0x0100, 3, 1) +
                   struct.pack(e + "H", w) + b"\x00\x00" +
                   struct.pack(e + "HHI", 0x0101, 4, 1) +
                   struct.pack(e + "I", h))
        return hdr + struct.pack(e + "H", 2) + entries + \
            struct.pack(e + "I", 0)

    def test_both_byte_orders(self):
        for bo in ("II", "MM"):
            m = mm.decode_image(self._synth(800, 600, bo))
            assert (m["format"], m["width"], m["height"]) == \
                ("tiff", 800, 600)

    def test_missing_dims_raise(self):
        b = b"II*\x00\x08\x00\x00\x00\x00\x00"
        with pytest.raises(ValueError):
            mm._decode_tiff(b)

"""Perceptual audio fingerprinting + near-dup dedup over WAV columns.

Completes the cross-modal dedup story (text: minhash/simhash; images:
aHash/dHash in operators/imagehash.py; audio: THIS): a multimodal
training corpus dedups recrawled/re-encoded audio the same way it
dedups images. No reference analog — beyond-parity LLM-pipeline tier.

Three layers, same honesty contract as imagehash:

  1. REAL PCM decode for RIFF/WAVE (the public container spec — chunk
     walk + little-endian PCM samples, 8/16-bit, any channel count
     mixed down by integer mean). Entropy-coded audio (MP3/OGG/AAC
     samples) stays a NotImplementedError; their HEADERS already probe
     via multimodal.decode_audio.
  2. An integer-exact 64-bit energy-envelope fingerprint: the sample
     stream splits into 64 equal-count frames, and bit k compares
     frame k's mean |amplitude| against the global mean by integer
     cross-multiplication — bit-reproducible across engines, directly
     SQL-replayable, robust to small local edits (the aHash idea on
     the time axis).
  3. Near-dup pairing through the SAME pigeonhole chunk blocking as
     images and simhash (imagehash.chunked_hamming_pairs): equi-join
     on (chunk_index, 16-bit value), never all-pairs.

Scale: decode is a zero-shuffle mapInPandas scan (partition by byte
budget first); the pair join ships 4 small ints per clip.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StructField, StructType,
)

from datafusion_postgres_spark.operators.multimodal import map_in_batches


def decode_wav_samples(content: bytes) -> tuple[int, list[int]]:
    """(sample_rate, mono samples) from a RIFF/WAVE byte string.

    PCM (format tag 1) at 8-bit unsigned or 16-bit signed, any channel
    count (channels mix down by integer mean, floor toward -inf via //
    on the signed sum — deterministic). Compressed WAV variants raise
    NotImplementedError."""
    if len(content) < 12 or content[:4] != b"RIFF" or \
            content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, n = 12, len(content)
    fmt = None
    data = None
    while pos + 8 <= n:
        cid = content[pos:pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        if cid == b"fmt " and pos + 24 <= n:
            audio_fmt, channels, rate = struct.unpack_from(
                "<HHI", content, pos + 8)
            (bits,) = struct.unpack_from("<H", content, pos + 22)
            fmt = (audio_fmt, channels, rate, bits)
        elif cid == b"data":
            data = content[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("RIFF/WAVE without fmt/data chunks")
    audio_fmt, channels, rate, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16):
        raise NotImplementedError(
            f"WAV PCM decode implemented for format 1 at 8/16 bits "
            f"(got format={audio_fmt}, bits={bits}); compressed WAV "
            "needs a codec")
    if bits == 8:                                  # unsigned, bias 128
        frames = [b - 128 for b in data]
    else:
        frames = list(struct.unpack_from(f"<{len(data) // 2}h", data))
    if channels > 1:
        usable = (len(frames) // channels) * channels
        frames = [sum(frames[i:i + channels]) // channels
                  for i in range(0, usable, channels)]
    return rate, frames


def encode_wav_pcm16(rate: int, samples: list[int]) -> bytes:
    """Minimal mono 16-bit PCM WAV encoder (fixtures + query
    synthesis; the decoder never assumes this encoder)."""
    data = struct.pack(f"<{len(samples)}h",
                       *[max(-32768, min(32767, s)) for s in samples])
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    riff = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def envelope_chunks(samples: list[int], frames: int = 64) -> list[int]:
    """64-bit energy-envelope fingerprint as four 16-bit chunks.

    bit k = (mean |amplitude| of frame k) >= (global mean |amplitude|),
    compared exactly by integer cross-multiplication — identical
    however the sums were computed, and replayable in SQL."""
    n = len(samples)
    if n == 0:
        raise ValueError("empty sample stream")
    absv = [s if s >= 0 else -s for s in samples]
    total = sum(absv)
    bits = []
    for k in range(frames):
        lo, hi = k * n // frames, (k + 1) * n // frames
        fsum = sum(absv[lo:hi])
        cnt = max(hi - lo, 1)
        bits.append(1 if fsum * n >= total * cnt else 0)
    return [sum(bits[j * 16 + k] << k for k in range(16))
            for j in range(frames // 16)]


ENVELOPE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("env_c0", IntegerType()),
    StructField("env_c1", IntegerType()),
    StructField("env_c2", IntegerType()),
    StructField("env_c3", IntegerType()),
])


def audio_envelope_hashes(media: DataFrame, id_col: str = "doc_id",
                          content_col: str = "content",
                          batch_size: int = 256) -> DataFrame:
    """Per-clip envelope fingerprints over Arrow batches — zero
    shuffle, linear scan; undecodable/compressed rows emit NULLs (a
    poison clip must never kill the corpus job)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, content in zip(pdf[id_col], pdf[content_col]):
                try:
                    rate, samples = decode_wav_samples(bytes(content))
                    rows.append((did, rate, len(samples),
                                 *envelope_chunks(samples)))
                except (NotImplementedError, ValueError, IndexError,
                        struct.error):
                    rows.append((did, None, None) + (None,) * 4)
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              ENVELOPE_SCHEMA.fields])

    return map_in_batches(media, batches, ENVELOPE_SCHEMA, batch_size)


def audio_near_dup_pairs(media: DataFrame, id_col: str = "doc_id",
                         content_col: str = "content",
                         max_hamming: int = 3,
                         max_df: int | None = 1000) -> DataFrame:
    """Audio near-dup pairs by envelope hamming distance, blocked by
    the shared pigeonhole chunk join (exact within max_hamming <= 3,
    never all-pairs; identical-clip cliques collapse to one
    representative before the blocking join and ``max_df`` caps
    boilerplate chunk values — see imagehash.chunked_hamming_pairs)."""
    from datafusion_postgres_spark.operators.imagehash import (
        chunked_hamming_pairs,
    )
    cols = [f"env_c{j}" for j in range(4)]
    sig = (audio_envelope_hashes(media, id_col, content_col)
           .where(F.col(cols[0]).isNotNull())
           .select(F.col("doc_id").alias("id"), *cols))
    return chunked_hamming_pairs(sig, cols, max_hamming,
                                 cache_key="audio_near_dup_pairs",
                                 max_df=max_df)


# ---------------------------------------------------------------------------
# incremental ingest dedup against persisted envelope-hash state — the
# audio twin of imagehash's write/incremental/merge loop, sharing its
# generic _sig_chunk_rows / sig_survivor_ids machinery.

_ENV_COLS = tuple(f"env_c{j}" for j in range(4))


def _audio_sig(media: DataFrame, id_col: str,
               content_col: str) -> DataFrame:
    return (audio_envelope_hashes(media, id_col, content_col)
            .where(F.col("env_c0").isNotNull())
            .select(F.col("doc_id").alias("id"), *_ENV_COLS))


def write_audio_hash_table(media: DataFrame, table: str,
                           n_buckets: int = 32,
                           id_col: str = "doc_id",
                           content_col: str = "content") -> None:
    """Materialize audio-dedup ingest state: distinct-signature
    envelope chunk rows, bucketed on the blocking key (see
    imagehash.write_image_hash_table — same layout, same skew
    contract)."""
    from datafusion_postgres_spark.operators.imagehash import (
        _sig_chunk_rows,
    )
    rows = _sig_chunk_rows(_audio_sig(media, id_col, content_col),
                           id_col="id", chunk_cols=_ENV_COLS)
    (rows.write.mode("overwrite").bucketBy(n_buckets, "chunk")
     .sortBy("chunk").format("parquet").saveAsTable(table))


def audio_dedup_incremental(new_media: DataFrame,
                            table: str | None = None,
                            max_hamming: int = 3,
                            id_col: str = "doc_id",
                            content_col: str = "content",
                            max_df: int | None = 1000,
                            corpus_media: DataFrame | None = None
                            ) -> DataFrame:
    """Per-ingest audio near-dup dedup against the persisted envelope
    state: a new clip survives iff no state clip within ``max_hamming``
    AND no lower-id near-dup inside the batch (see
    imagehash.sig_survivor_ids for the exactness and skew contract).
    State = the bucketed ``table`` (production loop) or
    ``corpus_media`` hashed on the fly (the oracled-row composition) —
    exactly one of the two."""
    from datafusion_postgres_spark.operators.imagehash import (
        _sig_chunk_rows, sig_survivor_ids,
    )
    state_rows = None
    if corpus_media is not None:
        state_rows = _sig_chunk_rows(
            _audio_sig(corpus_media, id_col, content_col), id_col="id",
            chunk_cols=_ENV_COLS)
    survivors = sig_survivor_ids(
        _audio_sig(new_media, id_col, content_col), table,
        list(_ENV_COLS), max_hamming, max_df,
        cache_key="audio_dedup_incremental", state_rows=state_rows)
    return new_media.join(
        survivors.withColumnRenamed("id", id_col), id_col, "left_semi")


def audio_dedup_keep(media: DataFrame, id_col: str = "doc_id",
                     content_col: str = "content",
                     max_hamming: int = 3,
                     max_df: int | None = 1000) -> DataFrame:
    """One surviving clip per envelope near-dup component (min id) —
    the LINEAR-OUTPUT dedup pass (imagehash.chunked_hamming_keep,
    operators/repgraph.py contract): identical-clip cliques never
    materialize their quadratic pair lists; components run over the
    representative pair graph only. ``max_df`` defaults to the lossy
    1000 hot-chunk cap (round-8 behavior change — None for exact)."""
    from datafusion_postgres_spark.operators.imagehash import (
        chunked_hamming_keep,
    )
    keep = chunked_hamming_keep(
        _audio_sig(media, id_col, content_col), list(_ENV_COLS),
        max_hamming, cache_key="audio_dedup_keep", max_df=max_df)
    return media.join(keep.withColumnRenamed("id", id_col), id_col,
                      "left_semi")


def merge_new_audio_hashes(survivors_media: DataFrame, table: str,
                           n_buckets: int = 32,
                           id_col: str = "doc_id",
                           content_col: str = "content",
                           sig: DataFrame | None = None) -> None:
    """Append the surviving batch's envelope chunk rows into the
    bucketed state table (pass ``sig`` — (id, env_c0..env_c3) — to skip
    re-decoding survivors). Survivors can never repeat a state
    signature (a hamming-0 twin is a dup), so the state stays distinct
    across batches."""
    from datafusion_postgres_spark.operators.imagehash import (
        _sig_chunk_rows,
    )
    if sig is None:
        sig = _audio_sig(survivors_media, id_col, content_col)
    rows = _sig_chunk_rows(sig, id_col="id", chunk_cols=_ENV_COLS)
    (rows.write.mode("append").bucketBy(n_buckets, "chunk")
     .sortBy("chunk").format("parquet").saveAsTable(table))


def synthesize_wav_corpus(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n_samples: int = 256,
                          rate: int = 8000,
                          batch_size: int = 512) -> DataFrame:
    """Deterministic REAL-WAV corpus from a text table: sample i is
    ``(ord(text[i mod len]) mod 256 - 128) * 256`` (int16 range),
    encoded as an actual RIFF/WAVE PCM16 stream. Pure integer character
    arithmetic, so an oracle recomputes the envelope fingerprint
    straight from the text — a mismatch means the WAV encode/decode
    round trip broke (the imagehash synthesis contract, on audio)."""
    from pyspark.sql.types import BinaryType, StringType

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("content", BinaryType()),
        StructField("media_type", StringType()),
    ])

    def to_wav(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                s = text or "\x00"
                n = len(s)
                samples = [(ord(s[i % n]) % 256 - 128) * 256
                           for i in range(n_samples)]
                rows.append((did, encode_wav_pcm16(rate, samples),
                             "audio/wav"))
            yield pd.DataFrame(rows, columns=["doc_id", "content",
                                              "media_type"])

    return map_in_batches(docs.select(id_col, text_col), to_wav, out_schema,
                          batch_size)

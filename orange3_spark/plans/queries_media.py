"""Multimodal queries — binary columns synthesized from the documents table
(the fixtures carry no real blobs; the engine treats any binary payload the
same way)."""

from __future__ import annotations

from pyspark.sql import functions as F

from orange3_spark.multimodal import media as M
from orange3_spark.plans.registry import query
from orange3_spark.session import load_tables


def _ids_partitioned(spark, sf_dir):
    """doc_id frame spread across the session's parallelism: the sf
    fixtures are a single parquet row-group, so WITHOUT this every
    synthesized-blob decode below would run in ONE task — a harness
    artifact, not an engine property (real blob tables arrive in many
    files/row-groups).  Shuffling 1 long column is negligible."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    par = spark.sparkContext.defaultParallelism
    return docs.select("doc_id").repartition(par)


def _docs_as_media(spark, sf_dir):
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return docs.select(F.col("doc_id").alias("media_id"),
                       F.encode("text", "utf-8").alias("content"))


def _pixel_checksum(dec, keys=("media_id",)):
    """Shared postlude of the pixel-exact codec queries: per ``keys``
    row (a media_id, or a media_id and frame_no), (n_px, sum of 0..255
    pixel values, position-weighted checksum) — the contract every
    codec oracle recomputes from doc_id arithmetic.  Pixels come back
    to exact ints: float32(v/255)·255 rounds to v exactly.  One
    definition so the round/cast rule can't silently diverge between a
    query and its oracle (r10 review)."""
    ints = F.transform(F.col("pixels"),
                       lambda x: F.round(x * 255).cast("long"))
    weighted = F.transform(ints, lambda v, i: v * (i.cast("long") + 1))
    lsum = (lambda arr: F.aggregate(arr, F.lit(0).cast("long"),
                                    lambda a, v: a + v))
    return dec.select(
        *keys,
        F.size("pixels").cast("long").alias("n_px"),
        lsum(ints).alias("sum_val"),
        lsum(weighted).alias("checksum"))


@query("q_media_metadata", """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS media_bytes,
       md5(text) AS media_hash,
       'unknown' AS media_format
FROM documents
""")
def q_media_metadata(spark, sf_dir):
    """Blob metadata (format sniff / length / content hash) as pure column
    expressions — the filter/dedup surface that never touches pixels."""
    m = M.media_metadata(_docs_as_media(spark, sf_dir))
    return m.select("media_id", "media_bytes", "media_hash", "media_format")


@query("q_media_dedup", """
SELECT min(doc_id) AS media_id, count(*) AS n_copies
FROM (SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 5000000, text FROM documents)
GROUP BY md5(text)
""")
def q_media_dedup(spark, sf_dir):
    """Exact blob dedup by content hash (doubled corpus collapses back)."""
    m = _docs_as_media(spark, sf_dir)
    doubled = m.unionByName(
        m.select((F.col("media_id") + 5000000).alias("media_id"), "content"))
    return M.dedup_media_exact(doubled)


@query("q_media_bytes", """
WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents),
by AS (SELECT doc_id, n,
              (strpos('0123456789ABCDEF', substring(hx, 2*i-1, 1)) - 1) * 16
              + (strpos('0123456789ABCDEF', substring(hx, 2*i, 1)) - 1) AS byte
       FROM b, unnest(generate_series(1, n)) g(i)),
h AS (SELECT doc_id, byte, CAST(count(*) AS DOUBLE) AS c,
             CAST(any_value(n) AS DOUBLE) AS n
      FROM by GROUP BY doc_id, byte)
SELECT doc_id AS media_id,
       round(-sum((c / n) * log2(c / n)), 6) + 0.0 AS entropy,
       round(sum(byte * c) / any_value(n), 6) AS mean_byte
FROM h GROUP BY doc_id
""")
def q_media_bytes(spark, sf_dir):
    """Byte histogram + entropy per blob via Arrow-batched mapInPandas —
    the real-computation path of the decode plumbing.  The oracle rebuilds
    the byte stream from the blob's hex encoding (2 hex chars → 1 byte), so
    even the binary-payload arithmetic is cross-checked."""
    out = M.byte_histogram(_docs_as_media(spark, sf_dir))
    # + 0.0 collapses the −0.0 a constant-byte blob's −Σ p·log p produces
    # (engine-dependent sign — the r8 signed-zero lesson, SURVEY §8)
    return out.select("media_id",
                      (F.round("entropy", 6) + F.lit(0.0)).alias("entropy"),
                      F.round("mean_byte", 6).alias("mean_byte"))


@query("q_media_decode", """
WITH px AS (SELECT doc_id, (doc_id * 31 + i) % 256 AS v, i
            FROM documents, unnest(generate_series(0, 167)) g(i))
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
FROM px GROUP BY doc_id
""")
def q_media_decode(spark, sf_dir):
    """REAL image decode, oracle-checked to the pixel: per document an
    8×7 uncompressed BMP is synthesized whose RGB raster bytes are
    ``(doc_id·31 + idx) mod 256``, decoded by the pure-Python codec
    (``multimodal/codecs.py`` via ``decode_image(decoder='native')``),
    and reduced to exact integer sums + a position-weighted checksum.
    Width 7 forces 3 bytes of BMP row padding, and the checksum pins
    bottom-up row order and BGR→RGB channel order — any decode slip
    shifts it.  The oracle never sees the blob: it recomputes the
    expected bytes from doc_id, so encode→decode must be lossless to
    match.  (JPEG/PNG stay behind the Pillow gate; BMP/PPM prove the
    pipeline with checked pixels in this container.)"""
    import numpy as np
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)
    H, W = 8, 7

    def mk(pdf_iter):
        from orange3_spark.multimodal.codecs import encode_bmp
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                idx = np.arange(H * W * 3, dtype=np.int64)
                vals = ((int(did) * 31 + idx) % 256).astype(np.uint8)
                out.append((int(did), encode_bmp(vals.reshape(H, W, 3))))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    dec = M.decode_image(blobs, height=H, width=W, decoder="native")
    return _pixel_checksum(dec)

@query("q_media_decode_png", """
WITH px AS (SELECT doc_id, (doc_id * 47 + i) % 256 AS v, i
            FROM documents, unnest(generate_series(0, 89)) g(i))
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
FROM px GROUP BY doc_id
""")
def q_media_decode_png(spark, sf_dir):
    """REAL PNG decode, oracle-checked to the pixel (round 7: the PNG
    gate is gone — multimodal/codecs.decode_png inflates IDAT with
    stdlib zlib and undoes the RFC 2083 row filters; JPEG alone stays
    behind the Pillow gate).  Per document a 6x5 8-bit truecolor PNG is
    synthesized whose raster is (doc_id*47 + idx) mod 256, decoded via
    decode_image(decoder='native'), and reduced to exact integer sums +
    a position-weighted checksum; the oracle recomputes the bytes from
    doc_id, so the zlib + unfilter path must be lossless to match.
    Filters 1-4, grayscale, and palette PNGs are pytest-pinned
    (tests/test_multimodal.py)."""
    import numpy as np
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)
    H, W = 6, 5

    def mk(pdf_iter):
        from orange3_spark.multimodal.codecs import encode_png
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                idx = np.arange(H * W * 3, dtype=np.int64)
                vals = ((int(did) * 47 + idx) % 256).astype(np.uint8)
                out.append((int(did), encode_png(vals.reshape(H, W, 3))))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    dec = M.decode_image(blobs, height=H, width=W, decoder="native")
    return _pixel_checksum(dec)

@query("q_media_decode_jpeg", """
WITH px AS (SELECT doc_id,
                   2 * ((doc_id * 13 + 7 * (2 * (y // 8) + (x // 8)))
                        % 60 - 30) + 128 AS v,
                   (y * 16 + x) * 3 + c AS i
            FROM documents,
                 unnest(generate_series(0, 15)) gy(y),
                 unnest(generate_series(0, 15)) gx(x),
                 unnest(generate_series(0, 2)) gc(c))
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
FROM px GROUP BY doc_id
""")
def q_media_decode_jpeg(spark, sf_dir):
    """REAL baseline-JPEG decode, oracle-checked to the pixel (round 7:
    multimodal/jpeg.py — huffman entropy decode, dequantization, IDCT,
    all pure Python/numpy; only exotic shapes stay behind the Pillow
    gate).  Exactness construction: per document a 16x16 grayscale JPEG
    of four DC-ONLY blocks (quantized DC = (doc_id*13 + 7*blk) % 60-30
    at quality 50, q0 = 16), so each block decodes to the mathematically
    flat value 2*DC + 128 — an exact integer the SQL oracle recomputes
    from doc_id alone.  Any slip in marker parse, huffman tables, DC
    prediction, dequant, zigzag, or the IDCT's flat case shifts the
    position-weighted checksum.  Lossy-path fidelity (AC coefficients,
    color, 4:4:4) is pytest-pinned (tests/test_multimodal.py)."""
    import numpy as np
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)
    H = W = 16

    def mk(pdf_iter):
        from orange3_spark.multimodal.jpeg import encode_jpeg
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                coeffs = np.zeros((2, 2, 8, 8), dtype=np.int64)
                for by in range(2):
                    for bx in range(2):
                        coeffs[by, bx, 0, 0] = \
                            (int(did) * 13 + 7 * (2 * by + bx)) % 60 - 30
                out.append((int(did),
                            encode_jpeg(None, quality=50, coeffs=coeffs)))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    dec = M.decode_image(blobs, height=H, width=W, decoder="native")
    return _pixel_checksum(dec)


@query("q_media_frames", """
WITH b AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS n
           FROM documents),
f AS (SELECT media_id, n, (i - 1) AS fno
      FROM b, unnest(generate_series(
          1, LEAST(16, CAST(floor(n / 1024) AS INT) + 1))) g(i))
SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(LEAST(64, n - fno * 1024)) AS BIGINT) AS bytes_total
FROM f GROUP BY media_id
""")
def q_media_frames(spark, sf_dir):
    """Frame-sampling plumbing for video blobs (``multimodal/media.py:181``):
    deterministic byte-offset slices stand in for keyframe extraction (the
    real ffmpeg call swaps into the same long-form schema).  The oracle
    re-derives the slice arithmetic — frame count and per-frame byte
    lengths — from each blob's octet length."""
    frames = M.sample_frames(_docs_as_media(spark, sf_dir))
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.octet_length("frame")).alias("bytes_total"))


@query("q_media_audio", """
WITH d AS (SELECT doc_id, 400 + (doc_id % 5) * 100 AS n FROM documents),
s AS (SELECT doc_id, n, (i - 1) AS t,
             ((doc_id * 31 + (i - 1) * (i - 1) * 7) % 2048) - 1024 AS v
      FROM d, unnest(generate_series(1, CAST(n AS INT))) g(i)),
z AS (SELECT doc_id, n, t, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv
      FROM s)
SELECT doc_id, CAST(any_value(n) AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(any_value(n) * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(sum(v * v) AS BIGINT) AS energy,
       CAST(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
FROM z GROUP BY doc_id
""")
def q_media_audio(spark, sf_dir):
    """REAL audio codec round-trip + feature extraction
    (``multimodal/audio.py``): a deterministic integer waveform per doc
    (pure function of doc_id — no libm) is encoded to genuine RIFF/WAV
    bytes with the stdlib ``wave`` writer, decoded back by the engine's
    parser, and reduced to integer features (sample count, floor
    duration, Σs² energy, zero crossings) in one Arrow-batched scan.
    The oracle re-derives every feature from the waveform DEFINITION —
    any loss in the encoder, the RIFF parsing, or the feature math
    breaks the hash."""
    import numpy as np

    from orange3_spark.multimodal.audio import (audio_feature_table,
                                                encode_wav)

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]

    def mk(it):
        import pandas as pd

        for pdf in it:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 400 + (did % 5) * 100
                t = np.arange(n, dtype=np.int64)
                v = ((did * 31 + t * t * 7) % 2048) - 1024
                ids.append(did)
                blobs.append(encode_wav(v.astype("<i2"), rate=8000))
            yield pd.DataFrame({"doc_id": ids, "content": blobs})

    media = docs.select("doc_id").mapInPandas(
        mk, "doc_id long, content binary")
    return audio_feature_table(media, "content", "doc_id")


@query("q_media_gate_fraction", """
WITH d AS (SELECT doc_id % 5 AS m FROM documents),
c AS (SELECT CASE WHEN m = 1 THEN 'webp'
                  WHEN m = 2 THEN 'gif' ELSE 'jpeg' END AS format,
             CASE WHEN m = 0 OR m = 1 THEN 'pillow-gated'
                  ELSE 'native' END AS decode_path,
             count(*) AS n_docs
      FROM d GROUP BY 1, 2),
t AS (SELECT sum(n_docs) AS total FROM c)
SELECT format, decode_path, n_docs,
       CAST(n_docs * 1000000 // total AS BIGINT) AS pct_q
FROM c, t ORDER BY format, decode_path
""")
def q_media_gate_fraction(spark, sf_dir):
    """The Pillow-gate MEASUREMENT (r7 verdict #7): before relying on
    decoder='native' on a crawl corpus, measure what fraction of blobs
    the native codecs cover vs what stays gated.  Round 8: progressive
    JPEG (SOF2), GIF, and baseline TIFF decode natively, so the gated
    classes in this mix are an ARITHMETIC-coded frame header (SOF9)
    and WebP — the corpus mixes
    SOF9 headers, GIFs, PPMs, real PROGRESSIVE JPEGs
    (multimodal/jpeg.encode_jpeg(progressive=True)), and baseline
    JPEGs, keyed on doc_id; classify_decodability walks the JPEG
    marker segments (multimodal/jpeg.jpeg_sof) in ONE Arrow-batched
    mapInPandas — a misread marker, frame type, or segment length
    shifts a class count and breaks the hash, since the oracle
    recomputes the fractions from doc_id arithmetic alone."""
    import numpy as np
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)

    def mk(pdf_iter):
        from orange3_spark.multimodal.jpeg import encode_jpeg

        # arithmetic-coded header: SOI + SOF9 (1 component, 16x16) +
        # EOI — a valid marker walk up to the frame type, which is all
        # the classifier needs (SOF2/progressive is native now, so the
        # gated JPEG exemplar moved one frame type up)
        arith = bytes([0xFF, 0xD8, 0xFF, 0xC9, 0x00, 0x0B,
                       8, 0, 16, 0, 16, 1, 1, 0x11, 0, 0xFF, 0xD9])
        webp = b"RIFF" + bytes(4) + b"WEBPVP8 " + bytes(4)
        import numpy as _np

        from orange3_spark.multimodal.gif import encode_gif
        _g = _np.zeros((2, 2, 3), dtype=_np.uint8)
        _g[0, 0] = 255
        gif = encode_gif(_g)
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                m = int(did) % 5
                if m == 0:
                    blob = arith
                elif m == 1:
                    blob = webp
                elif m == 2:
                    blob = gif
                else:
                    coeffs = np.zeros((1, 1, 8, 8), dtype=np.int64)
                    coeffs[0, 0, 0, 0] = int(did) % 40 - 20
                    blob = encode_jpeg(None, quality=50, coeffs=coeffs,
                                       progressive=(m == 3))
                out.append((int(did), blob))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    cls = M.classify_decodability(blobs)
    counts = (cls.groupBy("format", "decode_path")
              .agg(F.count(F.lit(1)).alias("n_docs")))
    from pyspark.sql.window import Window
    total = F.sum("n_docs").over(Window.partitionBy())
    return (counts.withColumn("total", total)
            .withColumn("pct_q",
                        F.expr("(n_docs * 1000000) div total"))
            .select("format", "decode_path", "n_docs", "pct_q"))


@query("q_media_decode_jpeg_prog", """
WITH px AS (SELECT doc_id,
                   2 * ((doc_id * 29 + 11 * (2 * (y // 8) + (x // 8)))
                        % 58 - 29) + 128 AS v,
                   (y * 16 + x) * 3 + c AS i
            FROM documents,
                 unnest(generate_series(0, 15)) gy(y),
                 unnest(generate_series(0, 15)) gx(x),
                 unnest(generate_series(0, 2)) gc(c))
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
FROM px GROUP BY doc_id
""")
def q_media_decode_jpeg_prog(spark, sf_dir):
    """REAL progressive-JPEG decode, oracle-checked to the pixel
    (round 8: multimodal/jpeg.py decodes T.81 Annex G scans natively —
    spectral selection, successive approximation, EOB-run coding; the
    Pillow gate now covers only arithmetic/hierarchical
    frames).  Exactness construction: the baseline query's DC-only
    blocks (quantized DC = (doc_id*29 + 11*blk) % 58 - 29 at quality
    50, q0 = 16 so pixel = 2*DC + 128) shipped through the FULL
    progressive scan script — DC first scan at Al=1 (arithmetic-shift
    halved diffs), per-component AC first scans (pure EOB runs here),
    the DC refinement bit, and the AC refinement scan.  Any slip in
    SOF2 parse, multi-scan coefficient accumulation, the
    successive-approximation bit algebra (two's-complement shift/OR),
    or EOB-run decode shifts the position-weighted checksum.  Nonzero
    AC refinement (correction bits, newly-significant run coding) is
    pytest-pinned via 120 random coefficient round-trips
    (tests/test_multimodal.py)."""
    import numpy as np
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)
    H = W = 16

    def mk(pdf_iter):
        from orange3_spark.multimodal.jpeg import encode_jpeg
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                coeffs = np.zeros((2, 2, 8, 8), dtype=np.int64)
                for by in range(2):
                    for bx in range(2):
                        coeffs[by, bx, 0, 0] = \
                            (int(did) * 29 + 11 * (2 * by + bx)) % 58 - 29
                out.append((int(did),
                            encode_jpeg(None, quality=50, coeffs=coeffs,
                                        progressive=True)))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    dec = M.decode_image(blobs, height=H, width=W, decoder="native")
    return _pixel_checksum(dec)


@query("q_media_decode_jpeg420", """
WITH px AS (SELECT doc_id,
                   (doc_id * 17 + 9 * (4 * (y // 8) + (x // 8)))
                   % 59 - 29 + 128 AS v,
                   (y * 32 + x) * 3 + c AS i
            FROM documents,
                 unnest(generate_series(0, 15)) gy(y),
                 unnest(generate_series(0, 31)) gx(x),
                 unnest(generate_series(0, 2)) gc(c))
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
FROM px GROUP BY doc_id
""")
def q_media_decode_jpeg420(spark, sf_dir):
    """REAL 4:2:0 chroma-subsampled color JPEG decode with restart
    markers, oracle-checked to the pixel (round 8: sampling factors /
    MCU interleave / RSTn are native in multimodal/jpeg.py).
    Exactness construction: at quality 76 both Annex-K q0 values scale
    to exactly 8, so a 32x16 GRAY image flat per 8x8 block (value
    v = (doc_id*17 + 9*blk) % 59 - 29 + 128) survives the whole lossy
    pipeline exactly — luma DC quantizes to v-128, chroma planes of a
    gray image are 128 so both chroma DCs quantize to 0, and decode
    returns v on all three channels.  The image spans TWO 16x16 MCUs
    with restart_interval=1, so the checksum pins the 4-luma +
    2-chroma MCU block interleave order, per-component DC prediction,
    the RST0 predictor reset, 2x2 nearest upsampling, and the
    zero-chroma color transform.  Nonzero-chroma / AC fidelity at
    4:2:0 and 4:2:2 is pytest-pinned against an independently composed
    numpy reference pipeline (tests/test_multimodal.py)."""
    import numpy as np
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)
    H, W = 16, 32

    def mk(pdf_iter):
        from orange3_spark.multimodal.jpeg import encode_jpeg
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                img = np.zeros((H, W, 3), dtype=np.uint8)
                for by in range(H // 8):
                    for bx in range(W // 8):
                        v = (int(did) * 17
                             + 9 * (4 * by + bx)) % 59 - 29 + 128
                        img[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8, :] = v
                out.append((int(did),
                            encode_jpeg(img, quality=76,
                                        subsampling="420",
                                        restart_interval=1)))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    dec = M.decode_image(blobs, height=H, width=W, decoder="native")
    return _pixel_checksum(dec)


@query("q_media_decode_gif", """
WITH px AS (SELECT doc_id, (doc_id * 53 + p) % 256 AS b, p, c
            FROM documents,
                 unnest(generate_series(0, 29)) gp(p),
                 unnest(generate_series(0, 2)) gc(c)),
v AS (SELECT doc_id,
             CASE WHEN c = 0 THEN b
                  WHEN c = 1 THEN (b * 2) % 256
                  ELSE (b * 3 + 7) % 256 END AS v,
             p * 3 + c AS i
      FROM px)
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
FROM v GROUP BY doc_id
""")
def q_media_decode_gif(spark, sf_dir):
    """REAL GIF decode, oracle-checked to the pixel (round 8:
    multimodal/gif.py — variable-width LZW decompression, palette
    application, 4-pass interlacing; the Pillow gate shrinks to
    TIFF/WebP + exotic JPEG frame types).  Per document a 6x5 GIF89a
    is synthesized whose pixel p carries palette color
    (b, 2b%256, 3b+7%256) with b=(doc_id*53+p)%256; ODD doc_ids encode
    INTERLACED (the 4-pass row shuffle must invert exactly), even ones
    sequential — both decode to the same raster, which the oracle
    recomputes from doc_id alone.  GIF is lossless over palette
    indices, so any slip in LZW code widths, dictionary growth, CLEAR
    handling, palette sizing, or deinterlacing shifts the
    position-weighted checksum."""
    import numpy as np
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)
    H, W = 6, 5

    def mk(pdf_iter):
        from orange3_spark.multimodal.gif import encode_gif
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                p = np.arange(H * W, dtype=np.int64)
                b = (int(did) * 53 + p) % 256
                img = np.stack([b, (b * 2) % 256, (b * 3 + 7) % 256],
                               axis=-1).astype(np.uint8).reshape(H, W, 3)
                out.append((int(did),
                            encode_gif(img, interlace=bool(did % 2))))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    dec = M.decode_image(blobs, height=H, width=W, decoder="native")
    return _pixel_checksum(dec)


@query("q_media_decode_tiff", """
WITH px AS (SELECT doc_id, (doc_id * 59 + i) % 256 AS v, i
            FROM documents, unnest(generate_series(0, 104)) g(i))
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
FROM px GROUP BY doc_id
""")
def q_media_decode_tiff(spark, sf_dir):
    """REAL TIFF decode, oracle-checked to the pixel (round 8, widened
    round 10: multimodal/tiff.py — IFD walk, strip AND tile (§15)
    assembly with edge-tile cropping, TIFF-LZW with the spec's early
    code-width change, Deflate (codes 8/32946), PackBits,
    horizontal-differencing predictor in 8- AND 16-bit arithmetic,
    both byte orders, 16-bit samples folded to 8 via the high byte).
    Per document a 7x5 RGB TIFF is synthesized whose raster is
    (doc_id*59 + idx) mod 256, cycling doc_id through the codec matrix
    — byte order II/MM x compression none/LZW/PackBits/Deflate x
    predictor on/off x multi-strip/single-strip/tiled-16x16 x 8/16-bit
    — and decoded via decode_image(decoder='native').  TIFF is
    lossless, so the oracle recomputes the raster from doc_id alone;
    any slip in IFD offsets, strip/tile math, LZW widths, RLE, inflate
    bounds, 16-bit widening, or the predictor cumulative sum shifts
    the position-weighted checksum."""
    import numpy as np
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)
    H, W = 7, 5

    def mk(pdf_iter):
        from orange3_spark.multimodal.tiff import encode_tiff
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                idx = np.arange(H * W * 3, dtype=np.int64)
                img = ((did * 59 + idx) % 256).astype(
                    np.uint8).reshape(H, W, 3)
                storage = ({"rows_per_strip": 3} if did % 7 < 3
                           else {"tile": (16, 16)} if did % 7 >= 5
                           else {})
                blob = encode_tiff(
                    img,
                    byte_order="MM" if did % 2 else "II",
                    compression=("none", "lzw", "packbits",
                                 "deflate")[did % 4],
                    predictor=bool(did % 5 % 2),
                    bits=16 if did % 11 < 4 else 8,
                    **storage)
                out.append((did, blob))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    dec = M.decode_image(blobs, height=H, width=W, decoder="native")
    return _pixel_checksum(dec)


@query("q_media_decode_jpeg12", """
WITH px AS (SELECT doc_id,
                   (2 * ((doc_id * 19 + 9 * (2 * (y // 8) + (x // 8)))
                         % 62 - 31) + 2048) // 16 AS v,
                   (y * 16 + x) * 3 + c AS i
            FROM documents,
                 unnest(generate_series(0, 15)) gy(y),
                 unnest(generate_series(0, 15)) gx(x),
                 unnest(generate_series(0, 2)) gc(c))
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
FROM px GROUP BY doc_id
""")
def q_media_decode_jpeg12(spark, sf_dir):
    """REAL 12-BIT JPEG decode, oracle-checked to the pixel (round 10:
    multimodal/jpeg.py accepts precision 12 on extended-sequential
    SOF1 and progressive SOF2 frames — 16-bit DQT entries (Pq=1),
    level shift 2^11, clip to 4095, high-bit fold to the 8-bit output
    contract; the JPEG Pillow gate is down to arithmetic/hierarchical/
    CMYK).  Exactness construction: per document a 16x16 grayscale
    12-bit JPEG of four DC-ONLY blocks (quantized DC = (doc_id*19 +
    9*blk) % 62 - 31 at quality 50, q0 = 16), so each block decodes to
    the mathematically flat 12-bit value 2*DC + 2048 and folds to the
    exact integer (2*DC + 2048) >> 4.  Odd doc_ids ship through the
    FULL progressive scan script at 12-bit (DC Al=1 + refine, EOB-run
    AC scans over the flat AC12 table); any slip in the 16-bit DQT
    parse, the SOF1 precision admit, the wider level shift, or the
    fold shifts the position-weighted checksum."""
    import numpy as np
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)
    H = W = 16

    def mk(pdf_iter):
        from orange3_spark.multimodal.jpeg import encode_jpeg
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                coeffs = np.zeros((2, 2, 8, 8), dtype=np.int64)
                for by in range(2):
                    for bx in range(2):
                        coeffs[by, bx, 0, 0] = \
                            (int(did) * 19 + 9 * (2 * by + bx)) % 62 - 31
                out.append((int(did),
                            encode_jpeg(None, quality=50, coeffs=coeffs,
                                        precision=12,
                                        progressive=bool(did % 2))))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    dec = M.decode_image(blobs, height=H, width=W, decoder="native")
    return _pixel_checksum(dec)


@query("q_media_decode_jpeg_lossless", """
WITH px AS (SELECT doc_id, (doc_id * 71 + i) % 256 AS v, i
            FROM documents, unnest(generate_series(0, 125)) g(i))
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
FROM px GROUP BY doc_id
""")
def q_media_decode_jpeg_lossless(spark, sf_dir):
    """REAL lossless-JPEG (SOF3, T.81 Annex H) decode, oracle-checked
    to the pixel (round 10: multimodal/jpeg.py — huffman-coded
    prediction differences, the edge rules (scan-start default,
    first-line Ra, first-column Rb), mod-2^16 reconstruction, 16-bit
    precision folded via the high byte; the JPEG Pillow gate is down
    to arithmetic/12-bit-DCT/hierarchical).  Per document a 6x7 RGB
    image with raster (doc_id*71 + idx) mod 256 is SOF3-encoded
    cycling doc_id through the matrix — all SEVEN Annex-H predictors x
    8/16-bit precision x interleaved/per-component scans — and decoded
    via decode_image(decoder='native').  Lossless JPEG stores RGB with
    no color transform, so the oracle recomputes the raster from
    doc_id alone; any slip in the predictor algebra, category-16
    handling, bit extension, or the scan interleave order shifts the
    position-weighted checksum."""
    import numpy as np
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)
    H, W = 6, 7

    def mk(pdf_iter):
        from orange3_spark.multimodal.jpeg import encode_jpeg_lossless
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                idx = np.arange(H * W * 3, dtype=np.int64)
                img = ((did * 71 + idx) % 256).astype(
                    np.uint8).reshape(H, W, 3)
                blob = encode_jpeg_lossless(
                    img,
                    predictor=did % 7 + 1,
                    bits=16 if did % 3 == 0 else 8,
                    interleaved=bool(did % 2))
                out.append((did, blob))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    dec = M.decode_image(blobs, height=H, width=W, decoder="native")
    return _pixel_checksum(dec)


@query("q_media_decode_webp", """
WITH px AS (SELECT doc_id, (doc_id * 61 + i) % 256 AS v, i
            FROM documents, unnest(generate_series(0, 131)) g(i))
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
FROM px GROUP BY doc_id
""")
def q_media_decode_webp(spark, sf_dir):
    """REAL lossless-WebP (VP8L) decode, oracle-checked to the pixel
    (round 8: multimodal/webp.py — LSB-first prefix codes, color
    cache, LZ77 with the 2-D distance map, predictor / color /
    subtract-green transforms; the Pillow gate for images is now ONLY
    lossy VP8 WebP + arithmetic/hierarchical JPEG + CCITT/JPEG-in-TIFF).
    Per document an 11x4 RGB image with raster (doc_id*61 + idx) mod
    256 is VP8L-encoded with feature flags drawn from doc_id's low
    bits — color cache, LZ77 run references, subtract-green, the
    14-mode predictor transform, and the cross-channel color transform
    all rotate through the corpus — and decoded via
    decode_image(decoder='native').  VP8L is lossless, so the oracle
    recomputes the raster from doc_id alone; any slip in canonical
    code construction, cache hashing, distance mapping, or transform
    algebra shifts the position-weighted checksum.  Palette packing is
    pytest-pinned (tests/test_multimodal.py)."""
    import numpy as np
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)
    H, W = 11, 4

    def mk(pdf_iter):
        from orange3_spark.multimodal.webp import encode_webp_lossless
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                idx = np.arange(H * W * 3, dtype=np.int64)
                img = ((did * 61 + idx) % 256).astype(
                    np.uint8).reshape(H, W, 3)
                blob = encode_webp_lossless(
                    img,
                    use_cache=bool(did & 1),
                    use_lz77=bool(did & 2),
                    subtract_green=bool(did & 4),
                    predictor=bool(did & 8),
                    color_transform=bool(did & 16))
                out.append((did, blob))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    dec = M.decode_image(blobs, height=H, width=W, decoder="native")
    return _pixel_checksum(dec)


@query("q_media_frames_gif", """
WITH px AS (
  SELECT doc_id, f, y, x, c,
         (doc_id * 19) % 64 + 20 AS v0,
         (doc_id * 23) % 64 + 100 AS v1,
         (doc_id * 29) % 64 + 180 AS v2
  FROM documents,
       unnest(generate_series(0, 2)) gf(f),
       unnest(generate_series(0, 5)) gy(y),
       unnest(generate_series(0, 7)) gx(x),
       unnest(generate_series(0, 2)) gc(c)),
v AS (
  SELECT doc_id, f, (y * 8 + x) * 3 + c AS i,
         CASE
           WHEN f >= 2 AND y = 2 AND x BETWEEN 1 AND 3 THEN v2
           WHEN f >= 1 AND y BETWEEN 2 AND 3
                AND x BETWEEN 1 AND 3 THEN v1
           ELSE v0 END AS v
  FROM px)
SELECT doc_id AS media_id, CAST(f AS INT) AS frame_no,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
FROM v GROUP BY doc_id, f
""")
def q_media_frames_gif(spark, sf_dir):
    """REAL animation keyframe extraction, oracle-checked to the pixel
    (round 8: sample_gif_frames decodes composited GIF frames — the
    byte-slice sample_frames stub now stands in only for formats with
    no native decoder).  Per document a 3-frame 6x8 GIF89a animation:
    base canvas v0, a 2x3 patch of v1 at (1,2), then a third frame
    whose patch REDRAWS only its first row as v2 and marks the second
    row transparent — so frame 2's second patch row must show v1
    (compositing), not v0 (redraw) or v2.  v0/v1/v2 live in disjoint
    ranges, so any slip in GCE parsing, transparency masking, patch
    placement, or frame accumulation shifts a frame's
    position-weighted checksum; the oracle recomputes all three
    composited frames from doc_id alone.  Disposal modes 2/3 are
    pytest-pinned (tests/test_multimodal.py)."""
    import numpy as np
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)
    H, W = 6, 8

    def mk(pdf_iter):
        from orange3_spark.multimodal.gif import encode_gif_animation
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                v0 = (did * 19) % 64 + 20
                v1 = (did * 23) % 64 + 100
                v2 = (did * 29) % 64 + 180
                base = np.full((H, W, 3), v0, dtype=np.uint8)
                p1 = np.full((2, 3, 3), v1, dtype=np.uint8)
                p2 = np.full((2, 3, 3), v0, dtype=np.uint8)
                p2[0] = v2                      # row 1 stays transparent
                blob = encode_gif_animation(
                    [base, p1, p2], rects=[None, (1, 2), (1, 2)],
                    transparents=[None, None, (v0, v0, v0)])
                out.append((did, blob))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    fr = M.sample_gif_frames(blobs)
    return _pixel_checksum(fr, ("media_id", "frame_no"))


@query("q_media_frames_vid", """
WITH px AS (
  SELECT doc_id, f,
         2 * ((doc_id * 13 + 11 * f + 7 * (2 * (y // 8) + (x // 8)))
              % 60 - 30) + 128 AS v,
         (y * 16 + x) * 3 + c AS i
  FROM documents,
       unnest([0, 2]) gf(f),
       unnest(generate_series(0, 15)) gy(y),
       unnest(generate_series(0, 15)) gx(x),
       unnest(generate_series(0, 2)) gc(c)),
sel AS (SELECT doc_id, CASE WHEN f = 0 THEN 0 ELSE 1 END AS frame_no,
               v, i FROM px)
SELECT doc_id AS media_id, CAST(frame_no AS INT) AS frame_no,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
FROM sel GROUP BY doc_id, frame_no
""")
def q_media_frames_vid(spark, sf_dir):
    """REAL video keyframe extraction, oracle-checked to the pixel
    (round 9: multimodal/avi.py parses the MJPEG-in-AVI container and
    the r8 JPEG decoder handles each I-frame — the byte-slice
    sample_frames stub is retired to containers with no native path).
    Per document a 3-frame AVI whose idx1 marks frames 0 and 2 as
    keyframes and frame 1 as a delta frame: the reader must SELECT
    exactly the keyframes, skip the delta frame entirely, and decode
    each to the flat DC-only values pinned by construction
    (2·DC + 128, the q_media_decode_jpeg exactness trick with a
    per-frame term).  Any slip in RIFF chunk walking, idx1 flag
    handling, offset-convention disambiguation, or the JPEG decode
    shifts the position-weighted checksum; the oracle recomputes both
    selected frames from doc_id alone."""
    import numpy as np
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)
    H = W = 16

    def mk(pdf_iter):
        from orange3_spark.multimodal.avi import encode_avi_mjpeg
        from orange3_spark.multimodal.jpeg import encode_jpeg

        def dc_frame(did, f):
            coeffs = np.zeros((2, 2, 8, 8), dtype=np.int64)
            for by in range(2):
                for bx in range(2):
                    coeffs[by, bx, 0, 0] = \
                        (did * 13 + 11 * f + 7 * (2 * by + bx)) % 60 - 30
            return encode_jpeg(None, quality=50, coeffs=coeffs)

        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                blob = encode_avi_mjpeg(
                    jpegs=[dc_frame(did, f) for f in range(3)],
                    size=(H, W),
                    keyframe_flags=[True, False, True])
                out.append((did, blob))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    fr = M.sample_video_frames(blobs)
    return _pixel_checksum(fr, ("media_id", "frame_no"))


@query("q_media_vp8_meta", """
SELECT doc_id AS media_id,
       CAST(16 + (doc_id % 1009) AS INT) AS width,
       CAST(16 + ((doc_id * 7) % 737) AS INT) AS height,
       CAST((doc_id * 11) % 64 AS INT) AS filter_level,
       CAST((doc_id * 13) % 128 AS INT) AS y_ac_qi,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1
                 WHEN doc_id % 3 = 1 THEN 2 ELSE 8 END AS INT)
         AS n_token_partitions
FROM documents
""")
def q_media_vp8_meta(spark, sf_dir):
    """Lossy-VP8 header metadata at corpus scale (round 9,
    multimodal/webp.vp8_frame_header): the boolean-coded frame header —
    dimensions, loop-filter level, quantizer index, partition count —
    parses natively with uniform probabilities (exact for real libvpx
    files), so the ONE gated format is triage-able without decoding a
    macroblock.  Per document a VP8 keyframe header is synthesized with
    fields derived from doc_id; the oracle recomputes every field from
    doc_id alone, so any slip in the boolean decoder, tag unpack, or
    field order shifts a value."""
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)

    def mk(pdf_iter):
        from orange3_spark.multimodal.webp import encode_vp8_header_stub
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                blob = encode_vp8_header_stub(
                    width=16 + did % 1009,
                    height=16 + (did * 7) % 737,
                    filter_level=(did * 11) % 64,
                    y_ac_qi=(did * 13) % 128,
                    n_token_partitions={0: 1, 1: 2, 2: 8}[did % 3])
                out.append((did, blob))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    return M.vp8_metadata(blobs)


@query("q_media_frames_mp4", """
WITH px AS (
  SELECT doc_id, f,
         2 * ((doc_id * 17 + 5 * f + 3 * (2 * (y // 8) + (x // 8)))
              % 60 - 30) + 128 AS v,
         (y * 16 + x) * 3 + c AS i
  FROM documents,
       unnest([0, 2]) gf(f),
       unnest(generate_series(0, 15)) gy(y),
       unnest(generate_series(0, 15)) gx(x),
       unnest(generate_series(0, 2)) gc(c)),
sel AS (SELECT doc_id, CASE WHEN f = 0 THEN 0 ELSE 1 END AS frame_no,
               v, i FROM px)
SELECT doc_id AS media_id, CAST(frame_no AS INT) AS frame_no,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
FROM sel GROUP BY doc_id, frame_no
""")
def q_media_frames_mp4(spark, sf_dir):
    """ISO-BMFF keyframe extraction, oracle-checked to the pixel
    (round 9, multimodal/mp4.py — the container real corpora use; the
    r8 verdict's "a real corpus is MP4/WebM").  Per document a 3-sample
    MP4 whose ``stss`` marks samples 1 and 3 sync: the reader must walk
    the nested box tree, expand the stsc/stco/stsz chunk run-map into
    absolute sample ranges, SELECT exactly the stss samples, and decode
    each JPEG payload to the flat DC-only values pinned by construction
    (2·DC + 128, the q_media_decode_jpeg exactness trick with per-frame
    terms).  Any slip in box walking, the sample-table expansion, sync
    selection, or the JPEG decode shifts the position-weighted checksum;
    the oracle recomputes both selected frames from doc_id alone."""
    import numpy as np
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)
    H = W = 16

    def mk(pdf_iter):
        from orange3_spark.multimodal.jpeg import encode_jpeg
        from orange3_spark.multimodal.mp4 import encode_mp4_mjpeg

        def dc_frame(did, f):
            coeffs = np.zeros((2, 2, 8, 8), dtype=np.int64)
            for by in range(2):
                for bx in range(2):
                    coeffs[by, bx, 0, 0] = \
                        (did * 17 + 5 * f + 3 * (2 * by + bx)) % 60 - 30
            return encode_jpeg(None, quality=50, coeffs=coeffs)

        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                blob = encode_mp4_mjpeg(
                    [dc_frame(did, f) for f in range(3)], (H, W),
                    sync_flags=[True, False, True])
                out.append((did, blob))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    fr = M.sample_video_frames(blobs)
    return _pixel_checksum(fr, ("media_id", "frame_no"))


@query("q_media_mp4_meta", """
SELECT doc_id AS media_id,
       'isom' AS brand,
       CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'avc1' END AS codec,
       CAST(16 + (doc_id % 640) AS INT) AS width,
       CAST(16 + ((doc_id * 3) % 480) AS INT) AS height,
       CAST((1 + doc_id % 4) * 100 AS BIGINT) AS duration,
       CAST(1 + doc_id % 4 AS INT) AS n_samples,
       CAST(1 + (doc_id % 4) // 2 AS INT) AS n_sync
FROM documents
""")
def q_media_mp4_meta(spark, sf_dir):
    """MP4 track metadata at corpus scale (round 9,
    multimodal/mp4.parse_mp4): brand, codec fourcc, declared
    dimensions, duration, sample and sync counts — the triage surface
    for inter-coded video (avc1 & co) whose pixels stay gated, the
    video analogue of q_media_vp8_meta.  Per document an MP4 with
    1 + doc_id%4 samples, alternating sync flags (sample 1 always
    sync), jpeg/avc1 codec by parity, and dimensions derived from
    doc_id; the oracle recomputes every field from doc_id alone —
    n_sync = 1 + (n_samples-1)//2 pins stss writing AND the absent-stss
    "all sync" spec default (n=1 writes no stss)."""
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)

    def mk(pdf_iter):
        from orange3_spark.multimodal.mp4 import encode_mp4_mjpeg
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 1 + did % 4
                # payloads are opaque for metadata (no decode) — tiny
                # distinct stand-ins keep the sample table honest
                samples = [b"\xFF\xD8" + bytes([i]) * (3 + i)
                           for i in range(n)]
                blob = encode_mp4_mjpeg(
                    samples, (16 + (did * 3) % 480, 16 + did % 640),
                    sync_flags=[i % 2 == 0 for i in range(n)],
                    codec=b"jpeg" if did % 2 == 0 else b"avc1")
                out.append((did, blob))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    return M.mp4_metadata(blobs)


@query("q_media_webm_meta", """
SELECT doc_id AS media_id,
       'webm' AS doctype,
       'V_VP8' AS codec,
       CAST(16 + (doc_id % 1009) AS INT) AS width,
       CAST(16 + ((doc_id * 7) % 737) AS INT) AS height,
       CAST(1 + doc_id % 3 AS INT) AS n_blocks,
       CAST(1 + (doc_id % 3) // 2 AS INT) AS n_key,
       CAST((doc_id * 11) % 64 AS INT) AS kf_filter_level,
       CAST((doc_id * 13) % 128 AS INT) AS kf_y_ac_qi
FROM documents
""")
def q_media_webm_meta(spark, sf_dir):
    """WebM/EBML metadata at corpus scale (round 9, multimodal/webm.py)
    with the VP8 header layer COMPOSED on top: per document a WebM
    whose 1 + doc_id%3 SimpleBlocks alternate keyframe flags (block 1
    always key) and whose VP8 keyframe payloads are header stubs with
    doc_id-derived fields — the oracle recomputes doctype, codec,
    container dimensions, block/key counts, AND the first keyframe's
    own filter level + quantizer from doc_id alone.  Pins the EBML
    vint/element walk, SimpleBlock flag parsing, keyframe payload
    extraction, and the vp8_frame_header compose in one hash."""
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)

    def mk(pdf_iter):
        from orange3_spark.multimodal.webm import encode_webm_vp8
        from orange3_spark.multimodal.webp import encode_vp8_header_stub
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 16 + did % 1009, 16 + (did * 7) % 737
                stub = encode_vp8_header_stub(
                    width=w, height=h,
                    filter_level=(did * 11) % 64,
                    y_ac_qi=(did * 13) % 128,
                    n_token_partitions=1)
                n = 1 + did % 3
                blob = encode_webm_vp8(
                    [stub] * n, w, h,
                    keyframe_flags=[i % 2 == 0 for i in range(n)])
                out.append((did, blob))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    return M.webm_metadata(blobs)


@query("q_media_ts_meta", """
WITH p AS (SELECT doc_id,
                  5 + doc_id % 7 AS nv,
                  1 + doc_id % 3 AS na,
                  1 + doc_id % 4 AS re
           FROM documents)
SELECT doc_id AS media_id,
       CAST(2 + nv + na AS INT) AS n_packets,
       CAST(4 AS INT) AS n_pids,
       CAST(257 AS INT) AS video_pid,
       CASE WHEN doc_id % 2 = 0 THEN 'h264' ELSE 'hevc' END
           AS video_codec,
       CAST(nv AS INT) AS n_video_packets,
       CAST(1 + (nv - 1) // re AS INT) AS n_rai,
       CAST(0 AS INT) AS continuity_errors
FROM p
""")
def q_media_ts_meta(spark, sf_dir):
    """MPEG-TS triage at corpus scale (round 9, multimodal/ts.py):
    packet demux, PAT→PMT stream-type resolution, and random-access
    point counting — the transport-layer keyframe signal — with no
    elementary-stream decode (H.264/HEVC pixels stay gated).  Per
    document a TS with 5+doc_id%7 video packets (h264/hevc by parity),
    1+doc_id%3 audio packets, and a RAI every 1+doc_id%4 video packets;
    the oracle recomputes packet/PID/RAI counts and the codec name from
    doc_id alone — any slip in sync walk, PID masking, PSI section
    offsets, or adaptation-field flag parsing shifts a count."""
    import pandas as pd

    docs = _ids_partitioned(spark, sf_dir)

    def mk(pdf_iter):
        from orange3_spark.multimodal.ts import encode_ts
        for pdf in pdf_iter:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                vt = 0x1B if did % 2 == 0 else 0x24
                blob = encode_ts(
                    {0x101: vt, 0x102: 0x0F},
                    n_packets_per_pid={0x101: 5 + did % 7,
                                       0x102: 1 + did % 3},
                    rai_every=1 + did % 4)
                out.append((did, blob))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    blobs = docs.mapInPandas(mk, "media_id long, content binary")
    return M.ts_metadata(blobs)

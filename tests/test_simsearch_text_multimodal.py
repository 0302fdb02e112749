"""Tests for ANN search, text analysis, and multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crocodile_spark.operators.similarity_search import (
    brute_force_topk,
    lsh_topk,
    recall_at_k,
)
from crocodile_spark.operators.text_analysis import (
    fingerprint,
    identify_language,
    quality_features,
    token_counts,
)


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


def test_brute_force_topk_shape(spark, embeddings):
    q = embeddings.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = embeddings.select(F.col("vec_id").alias("cand_id"), "embedding")
    top = brute_force_topk(q, c, k=5)
    per_q = top.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in per_q)
    # self should be rank 1 with cosine ~1 (query set is a subset of corpus)
    self_rows = top.where(F.col("query_id") == F.col("cand_id")).collect()
    assert all(r["rank"] == 1 and r["cosine"] > 0.999 for r in self_rows)


def test_lsh_topk_recall(spark, embeddings):
    q = embeddings.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = embeddings.select(F.col("vec_id").alias("cand_id"), "embedding")
    exact = brute_force_topk(q, c, k=5)
    ann = lsh_topk(q, c, k=5, num_planes=4, num_tables=12)
    r = recall_at_k(ann, exact)
    assert r >= 0.7, f"ANN recall@5 {r:.2f}"


def test_arrow_ann_paths_tolerate_null_and_ragged_embeddings(spark, embeddings):
    """The Arrow matmul kernels must degrade to null buckets/cells on null
    or wrong-width embedding rows -- not kill the job -- so such rows are
    never candidates (r5 review finding)."""
    from crocodile_spark.operators.similarity_search import (
        ivf_topk,
        train_ivf_centroids,
    )

    q = embeddings.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dirty = (
        embeddings.select(F.col("vec_id").alias("cand_id"), "embedding")
        .withColumn(
            "embedding",
            F.when(F.col("cand_id") % 17 == 0, F.lit(None))  # null rows
            .when(F.col("cand_id") % 19 == 0, F.slice("embedding", 1, 3))  # ragged
            .otherwise(F.col("embedding")),
        )
    )
    ann = lsh_topk(q, dirty, k=5, num_planes=4, num_tables=12)
    assert ann.count() > 0  # completes; dirty rows simply never bucket
    assert ann.where(F.col("cand_id") % 17 == 0).count() == 0
    cents = train_ivf_centroids(
        embeddings.select(F.col("vec_id").alias("cand_id"), "embedding"),
        id_col="cand_id",
        n_centroids=8,
    )
    ivf = ivf_topk(q, dirty, cents, k=5, n_probe=4)
    assert ivf.count() > 0
    assert ivf.where(F.col("cand_id") % 17 == 0).count() == 0


def _dirty_embedding_rows(dim: int) -> list:
    """(vec_id, embedding) rows for every input class of the embedding
    laws: NaN, NULL and +-inf elements, zero and near-zero vectors, NULL
    arrays and wrong widths."""
    nan, inf = float("nan"), float("inf")
    base = [float((j % 7) - 3) for j in range(dim)]
    ortho = [1.0, -1.0] * (dim // 2)  # sums to 0: small dots
    return [
        (-1, [nan] + base[1:]),
        (-2, [None] + base[1:]),
        (-3, [None, nan] + base[2:]),
        (-4, [inf] + base[1:]),
        (-5, [inf, -inf] + base[2:]),
        (-6, [0.0] * dim),
        (-7, ortho),
        (-8, [1e-30] * dim),
        (-9, None),
        (-10, base[:3]),
        (-11, base + [1.0]),
    ]


def test_hyperplane_buckets_arrow_equal_native(spark, embeddings):
    """The Arrow bucket kernel (guarded matmul) must give the native HOF
    keys on the fixture embeddings and on every dirty input class: a NaN
    dot signs 1, a NULL element signs all 0. A NULL or wrong-width array
    gets NULL from the Arrow path (no bucket) where the native form gives
    all zeros."""
    from crocodile_spark.operators.similarity_search import (
        hyperplane_table_buckets,
        hyperplane_table_buckets_udf,
    )

    dirty = spark.createDataFrame(
        _dirty_embedding_rows(64), "vec_id long, embedding array<float>"
    )
    df = embeddings.select("vec_id", "embedding").unionByName(dirty)
    got = df.select(
        "vec_id",
        hyperplane_table_buckets_udf(64, 4, 12, 42)(F.col("embedding")).alias("a"),
        hyperplane_table_buckets("embedding", 64, 4, 12, 42).alias("n"),
    ).collect()
    assert len(got) == embeddings.count() + 11
    invalid = {-9, -10, -11}
    for r in got:
        if r["vec_id"] in invalid:
            assert r["a"] is None
        else:
            assert r["a"] == r["n"], r["vec_id"]
    by_id = {r["vec_id"]: r["a"] for r in got}
    assert all(key.endswith("0000") for key in by_id[-2] + by_id[-3])
    assert all(key.endswith("1111") for key in by_id[-1])


def test_ivf_cells_arrow_equal_native_on_dirty_rows(spark, embeddings):
    """The Arrow IVF cells equal the native ``_ivf_dots_struct`` law: the
    probe order ``reverse(array_sort(struct<d, cell>))`` (``n_probe=4``)
    and the corpus assignment ``array_max(...)["cell"]`` (``n_probe=1``).
    Inputs: NaN, NULL-element, +-inf, zero and tiny rows (NaN above every
    number, ties to the larger cell) under seeded centroids, and the
    fixture embeddings under seeded and trained centroids. NULL and
    wrong-width arrays get NULL from the Arrow path."""
    from crocodile_spark.operators.similarity_search import (
        _ivf_dots_struct,
        ivf_probe_cells_udf,
        seeded_random_centroids,
        train_ivf_centroids,
    )

    dirty = spark.createDataFrame(
        _dirty_embedding_rows(8), "vec_id long, embedding array<double>"
    )
    fixture = embeddings.select("vec_id", "embedding")
    trained = train_ivf_centroids(fixture, id_col="vec_id", n_centroids=8, seed=3)
    for df, cents in (
        (dirty, seeded_random_centroids(8, 6, 3)),
        (fixture, seeded_random_centroids(64, 16, 7)),
        (fixture, trained),
    ):
        dots = _ivf_dots_struct("embedding", cents)
        native = F.slice(F.reverse(F.array_sort(dots)), 1, 4)
        got = df.select(
            "vec_id",
            ivf_probe_cells_udf(cents, 4)(F.col("embedding")).alias("a"),
            F.transform(native, lambda s: s["cell"]).alias("n"),
            ivf_probe_cells_udf(cents, 1)(F.col("embedding")).alias("a1"),
            F.array_max(dots)["cell"].alias("n1"),
        ).collect()
        assert got
        for r in got:
            if r["vec_id"] in (-9, -10, -11):
                assert r["a"] is None and r["a1"] is None
            else:
                assert r["a"] == r["n"], r["vec_id"]
                assert r["a1"] == [r["n1"]], r["vec_id"]


def test_identify_language(spark):
    rows = [
        (0, "the cat sat on the mat and looked at the dog"),
        (1, "der hund ist nicht mit der katze und das haus"),
        (2, "le chat est dans la maison et les jardins pour une"),
        (3, "el perro es una mascota para los ninos con la casa"),
        (4, ""),
        # r5 profiles: pt/it/nl sentences must beat their overlapping
        # es/fr markers (que/para/por, una, ...) on marker density
        (5, "uma frase para teste com mais palavras que servem como exemplo"),
        (6, "una frase di esempio che non serve per il test con parole anche"),
        (7, "het is een voorbeeld dat niet voor de test met woorden"),
        # languages WITHOUT a profile map to 'und', never to a wrong
        # language: Finnish carries zero markers from any profile
        (8, "tama on suomenkielinen lause ilman mitaan merkkeja siina"),
        # digits/garbage only: tokens exist but no marker hits -> und
        (9, "zzz qqq 12345 xyzzy 99"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {r["id"]: r for r in identify_language(df).collect()}
    got = {i: r["pred_lang"] for i, r in out.items()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "und",
                   5: "pt", 6: "it", 7: "nl", 8: "und", 9: "und"}
    assert out[4]["lang_confidence"] == 0.0
    assert out[8]["lang_confidence"] == 0.0
    assert out[5]["lang_confidence"] > 0.3


def test_quality_features_ranges(spark):
    rows = [(0, "A well formed english sentence with reasonable words."),
            (1, "@@@ ### !!! 123"), (2, "")]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r["id"]: r for r in quality_features(df).collect()}
    assert 0.0 <= got[2]["quality"] <= got[1]["quality"] <= got[0]["quality"] <= 1.0
    assert got[0]["alpha_ratio"] > 0.7
    assert got[1]["alpha_ratio"] == 0.0


def test_token_counts(spark):
    df = spark.createDataFrame([(0, "abc de-f 123  x!")], ["id", "text"])
    r = token_counts(df).collect()[0]
    assert r["n_ws_tokens"] == 4
    # pieces: abc / de / - / f / 123 / x / !
    assert r["n_bpe_tokens"] == 7


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(0, "identical text"), (1, "identical text"), (2, "different words")],
        ["id", "text"],
    )
    rows = {r["id"]: (r["fp0"], r["fp1"]) for r in fingerprint(df, num_slots=2).collect()}
    assert rows[0] == rows[1]
    assert rows[0] != rows[2]


def test_multimodal_plumbing(spark):
    from crocodile_spark.operators.multimodal import (
        extract_media_features,
        frame_sample_plan,
        make_fake_media,
    )

    media = make_fake_media(spark, n=32).cache()
    feats = extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == 32
    assert all(len(r["feat"]) == 8 for r in rows)
    # r4: BMP/WAV features are real content stats (WAV means are SIGNED,
    # in [-1,1]); sha-placeholder formats stay in [0,1]
    assert all(-1.0 <= v <= 1.0 for r in rows for v in r["feat"])
    real_decodes = {"png": 0, "gif": 0}
    for r in rows:
        if r["format"] is None:
            assert all(0.0 <= v <= 1.0 for v in r["feat"])
            assert r["ch_mean"] is None and r["ch_std"] is None
        elif r["format"] in ("png", "gif"):
            # real-pixel payloads decode (zlib / LZW); junk bodies fall back
            if r["ch_mean"] is not None:
                real_decodes[r["format"]] += 1
                k = len(r["ch_mean"])
                assert r["feat"][:k] == r["ch_mean"]
            else:
                assert all(0.0 <= v <= 1.0 for v in r["feat"])
        else:  # bmp/wav: real stats always present and embedded in feat
            assert r["ch_mean"] is not None and r["ch_std"] is not None
            k = len(r["ch_mean"])
            assert r["feat"][:k] == r["ch_mean"]
            assert r["feat"][4 : 4 + k] == r["ch_std"]
    for fmt in ("png", "gif"):
        if any(r["format"] == fmt for r in rows):
            assert real_decodes[fmt] > 0, f"fixture must contain decodable {fmt}s"
    # determinism: same payload -> same feature
    again = {r["media_id"]: r["feat"] for r in extract_media_features(media).collect()}
    assert all(again[r["media_id"]] == r["feat"] for r in rows)
    # real codec: every image payload parses to its encoded dims
    meta = {r["media_id"]: (r["width"], r["height"]) for r in media.collect()
            if r["kind"] == "image"}
    for r in rows:
        if r["media_id"] in meta:
            assert (r["width"], r["height"]) == meta[r["media_id"]]
            assert r["format"] in ("png", "gif", "bmp")
            assert r["channels"] in (1, 2, 3, 4)
        elif r["kind"] == "audio":
            assert r["format"] == "wav" and r["channels"] in (1, 2)
            assert r["width"] is None and r["height"] is None

    plan = frame_sample_plan(media, every_ms=5000)
    n_videos = media.where(F.col("kind") == "video").count()
    if n_videos:
        assert plan.count() >= n_videos  # at least frame 0 per video
    assert plan.columns == ["media_id", "frame_ts_ms"]


def test_media_header_parser_roundtrip():
    """The dependency-free codec decodes exactly what the encoders wrote,
    and unknown magic falls through to nulls instead of raising."""
    from crocodile_spark.operators.multimodal import (
        encode_bmp,
        encode_gif,
        encode_png,
        encode_wav,
        parse_media_header,
    )

    assert parse_media_header(encode_png(640, 480, 2, b"x" * 10)) == (
        "png", 640, 480, 3)
    assert parse_media_header(encode_png(11, 7, 6, b"")) == ("png", 11, 7, 4)
    assert parse_media_header(encode_gif(320, 200, b"z")) == ("gif", 320, 200, 3)
    assert parse_media_header(encode_bmp(800, 600, 24, b"q" * 4)) == (
        "bmp", 800, 600, 3)
    assert parse_media_header(encode_bmp(5, -5, 8, b"")) == ("bmp", 5, 5, 1)
    assert parse_media_header(encode_wav(2, 16000, b"aa" * 8)) == (
        "wav", None, None, 2)
    assert parse_media_header(b"not a container at all") == (
        None, None, None, None)
    assert parse_media_header(None) == (None, None, None, None)
    assert parse_media_header(b"\x89PNG") == (None, None, None, None)  # truncated


def test_ivf_topk_recall(spark, embeddings):
    """IVF with trained centroids: n_probe=6 of 16 cells must recover most
    of the exact top-5 while comparing far fewer candidates."""
    from crocodile_spark.operators.similarity_search import (
        ivf_topk,
        train_ivf_centroids,
    )

    q = embeddings.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = embeddings.select(F.col("vec_id").alias("cand_id"), "embedding")
    cents = train_ivf_centroids(c, id_col="cand_id", n_centroids=16, seed=3)
    exact = brute_force_topk(q, c, k=5)
    ann = ivf_topk(q, c, cents, k=5, n_probe=6)
    r = recall_at_k(ann, exact)
    assert r >= 0.5, f"IVF recall@5 {r:.2f}"
    # every query produces results (compare against the query COUNT --
    # a groupBy over the output alone can never catch an absent query)
    assert ann.select("query_id").distinct().count() == q.count()


def test_media_header_parser_properties():
    """Property law: every encoder round-trips through the parser for all
    valid dims/formats, and arbitrary byte soup never raises."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crocodile_spark.operators.multimodal import (
        encode_bmp,
        encode_gif,
        encode_png,
        encode_wav,
        parse_media_header,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        w=st.integers(1, 65535), h=st.integers(1, 65535),
        ct=st.sampled_from([0, 2, 3, 4, 6]),
        bpp=st.sampled_from([8, 16, 24, 32]),
        ch=st.integers(1, 8),
        body=st.binary(max_size=64),
    )
    def roundtrip(w, h, ct, bpp, ch, body):
        png_ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ct]
        assert parse_media_header(encode_png(w, h, ct, body)) == ("png", w, h, png_ch)
        assert parse_media_header(encode_gif(w, h, body)) == ("gif", w, h, 3)
        assert parse_media_header(encode_bmp(w, h, bpp, body)) == (
            "bmp", w, h, max(1, bpp // 8))
        assert parse_media_header(encode_wav(ch, 8000, body)) == (
            "wav", None, None, ch)

    @settings(max_examples=300, deadline=None)
    @given(blob=st.binary(max_size=128))
    def never_raises(blob):
        fmt, w, hh, c = parse_media_header(blob)
        assert fmt in (None, "png", "gif", "bmp", "wav")

    roundtrip()
    never_raises()


def test_wav_chunk_walk_handles_junk_chunks():
    """ADVICE r3: real WAVs may carry JUNK/LIST chunks before 'fmt ' --
    the chunk walk must find fmt and data wherever they sit, and the
    decoded PCM stats must equal the canonical-layout file's."""
    import struct

    from crocodile_spark.operators.multimodal import (
        encode_wav,
        media_content_stats,
        parse_media_header,
        parse_wav,
    )

    data = bytes((i * 37 + 11) % 256 for i in range(300))
    canonical = encode_wav(2, 16000, data)

    # same content, JUNK chunk between the RIFF header and fmt
    junk_payload = b"\x00" * 20
    body = (
        b"JUNK" + struct.pack("<I", len(junk_payload)) + junk_payload
        + canonical[12:]  # fmt + data chunks verbatim
    )
    shifted = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    assert parse_wav(shifted)[0] == 2
    assert parse_media_header(shifted) == ("wav", None, None, 2)
    m_canon, s_canon = media_content_stats(canonical)
    m_shift, s_shift = media_content_stats(shifted)
    assert m_canon == m_shift and s_canon == s_shift
    assert len(m_canon) == 2 and all(-1.0 <= x <= 1.0 for x in m_canon)

    # fixed-offset-22 would have read garbage here: byte 22 of the shifted
    # file is inside the JUNK chunk
    (garbage,) = struct.unpack("<H", shifted[22:24])
    assert garbage != 2


def test_wav_non_pcm16_degrades_to_placeholder():
    """ADVICE r4: the s16le sample law is only valid for wFormatTag==1 at
    16 bits/sample. 8-bit PCM, float32 (tag 3), and ADPCM (tag 2) WAVs
    must return (None, None) -- the placeholder path -- not wrong 'real'
    stats; parse_wav still reports their channel count for the header."""
    import struct

    from crocodile_spark.operators.multimodal import (
        encode_wav,
        media_content_stats,
        parse_media_header,
        parse_wav,
    )

    data = bytes((i * 37 + 11) % 256 for i in range(300))
    canonical = encode_wav(2, 16000, data)
    assert media_content_stats(canonical)[0] is not None  # PCM16 baseline

    def with_fmt(tag: int, bits: int) -> bytes:
        # patch wFormatTag (fmt offset 0 = byte 20) and wBitsPerSample
        # (fmt offset 14 = byte 34) of the canonical-layout file
        b = bytearray(canonical)
        b[20:22] = struct.pack("<H", tag)
        b[34:36] = struct.pack("<H", bits)
        return bytes(b)

    for tag, bits in [(1, 8), (3, 32), (2, 4), (1, 24)]:
        wav = with_fmt(tag, bits)
        assert media_content_stats(wav) == (None, None), (tag, bits)
        assert parse_wav(wav)[0] == 2
        assert parse_media_header(wav) == ("wav", None, None, 2)
        ch, off, size, got_tag, got_bits = parse_wav(wav)
        assert (got_tag, got_bits) == (tag, bits)


def test_bmp_full_pixel_array_strips_row_padding():
    """A BMP whose payload carries the full pixel array decodes rows
    properly: the 4-byte row padding must NOT pollute the channel stats."""
    import numpy as np
    import struct

    from crocodile_spark.operators.multimodal import media_content_stats

    w, h, bpp = 3, 4, 24  # row = 9 data bytes + 3 pad bytes
    rng = np.random.RandomState(5)
    pixels = rng.randint(0, 256, size=(h, w * 3), dtype=np.uint8)
    rows = b"".join(pixels[r].tobytes() + b"\xff\xff\xff" for r in range(h))
    payload = (
        b"BM" + struct.pack("<I", 54 + len(rows)) + b"\x00" * 4
        + struct.pack("<I", 54) + struct.pack("<I", 40)
        + struct.pack("<ii", w, h) + struct.pack("<HH", 1, bpp)
        + b"\x00" * 24 + rows
    )
    means, stds = media_content_stats(payload)
    flat = pixels.reshape(-1, 3).astype(np.float64)
    exp_means = [float(x) / 255.0 for x in flat.mean(axis=0)]
    exp_stds = [float(x) / 255.0 for x in flat.std(axis=0)]
    assert means == pytest.approx(exp_means, abs=1e-12)
    assert stds == pytest.approx(exp_stds, abs=1e-12)
    # the 0xff pad bytes would have dragged every mean toward 1.0
    raw = np.frombuffer(payload[54:], dtype=np.uint8).astype(np.float64)
    raw_means = raw[: (len(raw) // 3) * 3].reshape(-1, 3).mean(axis=0) / 255.0
    assert means != pytest.approx(list(raw_means), abs=1e-9)


def test_wav_pcm_stats_match_numpy_reference():
    """The WAV stats law equals a direct numpy int16 decode."""
    import numpy as np

    from crocodile_spark.operators.multimodal import (
        encode_wav,
        media_content_stats,
    )

    rng = np.random.RandomState(9)
    samples = rng.randint(-32768, 32768, size=501, dtype=np.int16)  # odd count
    payload = encode_wav(2, 8000, samples.tobytes())
    means, stds = media_content_stats(payload)
    keep = samples[:500].reshape(-1, 2).astype(np.float64)
    assert means == pytest.approx(list(keep.mean(axis=0) / 32768.0), abs=1e-12)
    assert stds == pytest.approx(list(keep.std(axis=0) / 32768.0), abs=1e-12)


def test_png_pixel_decode_matches_numpy_reference():
    """late-r4: real PNG decode (stdlib zlib + unfiltering). The encoder
    emits filter 0/2 rows; a hand-built IDAT exercises Sub/Average/Paeth
    too. Stats must equal a direct numpy computation on the source
    pixels."""
    import struct
    import zlib

    import numpy as np

    from crocodile_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png_pixels,
        encode_png_pixels,
        media_content_stats,
    )

    rng = np.random.RandomState(21)
    # RGB roundtrip through the encoder (filters 0 and 2)
    px = rng.randint(0, 256, size=(13, 7 * 3), dtype=np.uint8)
    payload = encode_png_pixels(px, color_type=2)
    got = decode_png_pixels(payload)
    assert np.array_equal(got, px)
    means, stds = media_content_stats(payload)
    flat = px.reshape(-1, 3).astype(np.float64)
    assert means == pytest.approx(list(flat.mean(axis=0) / 255.0), abs=1e-12)
    assert stds == pytest.approx(list(flat.std(axis=0) / 255.0), abs=1e-12)

    # hand-built grayscale PNG with one row per filter type 0,1,2,3,4
    w, h = 6, 5
    src = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    raw = bytearray()
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        row = src[y].astype(np.int32)
        prev = src[y - 1].astype(np.int32) if y > 0 else np.zeros(w, np.int32)
        enc = np.zeros(w, np.int32)
        for x in range(w):
            a = row[x - 1] if x >= 1 else 0
            b = prev[x]
            c = prev[x - 1] if x >= 1 else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[x] = (row[x] - pred) & 0xFF
        raw.append(ftype)
        raw.extend(enc.astype(np.uint8).tobytes())
    ihdr = struct.pack(">II", w, h) + bytes([8, 0, 0, 0, 0])
    payload2 = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    got2 = decode_png_pixels(payload2)
    assert np.array_equal(got2, src)

    # junk-IDAT fallback: undecodable -> no stats, placeholder feature
    from crocodile_spark.operators.multimodal import encode_png, media_feature

    junk = encode_png(32, 32, 2, b"\x01\x02\x03not-zlib")
    assert decode_png_pixels(junk) is None
    assert media_content_stats(junk) == (None, None)
    assert all(0.0 <= v <= 1.0 for v in media_feature(junk))


def test_gif_lzw_decode_matches_numpy_reference():
    """late-r4: real GIF decode (pure-Python LZW + palette expansion).
    Roundtrips (a) the clear-heavy fixture encoder and (b) a REAL
    growing-dictionary LZW stream built in-test, against numpy."""
    import struct

    import numpy as np

    from crocodile_spark.operators.multimodal import (
        _gif_lzw_decode,
        decode_gif_pixels,
        encode_gif,
        encode_gif_pixels,
        media_content_stats,
    )

    rng = np.random.RandomState(17)
    h, w = 11, 9
    indices = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    palette = rng.randint(0, 256, size=(256, 3), dtype=np.uint8)
    payload = encode_gif_pixels(indices, palette)
    px = decode_gif_pixels(payload)
    expected = palette[indices.reshape(-1)].reshape(h, w * 3)
    assert np.array_equal(px, expected)
    means, stds = media_content_stats(payload)
    flat = expected.reshape(-1, 3).astype(np.float64)
    assert means == pytest.approx(list(flat.mean(axis=0) / 255.0), abs=1e-12)
    assert stds == pytest.approx(list(flat.std(axis=0) / 255.0), abs=1e-12)

    # a REAL LZW stream with dictionary growth and width increase:
    # repetitive data forces multi-symbol dictionary entries
    def lzw_encode(seq, min_code_size):
        clear, end = 1 << min_code_size, (1 << min_code_size) + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code, nbits = end + 1, min_code_size + 1
        codes, cur = [clear], b""
        for s in bytes(seq):
            nxt = cur + bytes([s])
            if nxt in table:
                cur = nxt
                continue
            codes.append(table[cur])
            if next_code < 4096:
                table[nxt] = next_code
                next_code += 1
                # encoder widens when the NEXT code to assign overflows
                if next_code - 1 == (1 << nbits) - 1 and nbits < 12:
                    pass
            cur = bytes([s])
        codes.append(table[cur])
        codes.append(end)
        # pack with the same width schedule the decoder uses
        big, pos, nbits, next_code = 0, 0, min_code_size + 1, end + 1
        table2 = {i: None for i in range(clear)}
        prev_emitted = 0
        for i, c in enumerate(codes):
            big |= c << pos
            pos += nbits
            if c == clear:
                nbits, next_code = min_code_size + 1, end + 1
            elif c != end and i >= 1 and codes[i - 1] != clear:
                next_code += 1
                if next_code == (1 << nbits) and nbits < 12:
                    nbits += 1
            _ = prev_emitted
        return big.to_bytes((pos + 7) // 8, "little")

    seq = (b"ABABABABAB" * 20 + b"CDCDCDCD" * 10) * 3
    data = lzw_encode(seq, 8)
    out = _gif_lzw_decode(data, 8)
    assert out == bytes(seq)

    # junk body (claims a 256-color GCT it doesn't carry): clean fallback
    assert decode_gif_pixels(encode_gif(64, 64, b"junkjunk")) is None
    assert media_content_stats(encode_gif(64, 64, b"junkjunk")) == (None, None)


def test_media_decoders_total_on_untrusted_bytes():
    """Web payloads are untrusted: random bytes, truncations, and
    bit-flipped valid containers must never raise -- every decoder
    returns None/null-stats instead of failing the Arrow batch."""
    import random

    import numpy as np

    from crocodile_spark.operators.multimodal import (
        decode_gif_pixels,
        decode_png_pixels,
        encode_bmp,
        encode_gif_pixels,
        encode_png_pixels,
        encode_wav,
        media_content_stats,
        media_feature,
        parse_media_header,
    )

    rng = random.Random(99)
    nprng = np.random.RandomState(99)
    valid = [
        encode_png_pixels(nprng.randint(0, 256, size=(9, 7 * 3), dtype=np.uint8)),
        encode_gif_pixels(
            nprng.randint(0, 256, size=(8, 6), dtype=np.uint8),
            nprng.randint(0, 256, size=(256, 3), dtype=np.uint8),
        ),
        encode_bmp(100, 100, 24, bytes(rng.getrandbits(8) for _ in range(200))),
        encode_wav(2, 16000, bytes(rng.getrandbits(8) for _ in range(200))),
    ]
    cases = []
    # pure random bytes, with and without magic prefixes
    for _ in range(40):
        body = bytes(rng.getrandbits(8) for _ in range(rng.randrange(0, 400)))
        cases.append(body)
        cases.append(b"\x89PNG\r\n\x1a\x08"[: rng.randrange(9)] + body)
        cases.append(rng.choice([b"\x89PNG\r\n\x1a\n", b"GIF89a", b"BM", b"RIFF"]) + body)
    # truncations and single-byte corruptions of valid payloads
    for p in valid:
        for cut in (0, 1, 7, 12, 13, 20, len(p) // 2, len(p) - 1):
            cases.append(p[:cut])
        for _ in range(30):
            i = rng.randrange(len(p))
            cases.append(p[:i] + bytes([rng.randrange(256)]) + p[i + 1 :])
    for payload in cases:
        parse_media_header(payload)           # must not raise
        m, s = media_content_stats(payload)   # must not raise
        assert (m is None) == (s is None)
        f = media_feature(payload)            # must not raise, stable shape
        assert len(f) == 8
    # the pure decoders are individually total on the same corpus
    for payload in cases:
        r1 = decode_png_pixels(payload) if payload[:8] == b"\x89PNG\r\n\x1a\n" else None
        r2 = decode_gif_pixels(payload) if payload[:4] == b"GIF8" else None
        assert r1 is None or r1.dtype == np.uint8
        assert r2 is None or r2.dtype == np.uint8


def test_png_sequential_filter_budget_degrades_to_placeholder(monkeypatch):
    """Average/Paeth rows decode in a Python loop; past the sequential
    budget the image must degrade to None (placeholder feature) instead
    of stalling the Arrow batch."""
    import struct
    import zlib

    import numpy as np

    from crocodile_spark.operators import multimodal as mm

    w, h = 8, 4
    src = np.random.RandomState(3).randint(0, 256, size=(h, w), dtype=np.uint8)
    raw = bytearray()
    prev = np.zeros(w, np.int32)
    for y in range(h):  # all rows Paeth-filtered
        row = src[y].astype(np.int32)
        enc = np.zeros(w, np.int32)
        cur = row
        for x in range(w):
            a = cur[x - 1] if x >= 1 else 0
            b = prev[x]
            c = prev[x - 1] if x >= 1 else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[x] = (row[x] - pred) & 0xFF
        raw.append(4)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">II", w, h) + bytes([8, 0, 0, 0, 0])
    payload = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + mm._png_chunk(b"IEND", b"")
    )
    assert np.array_equal(mm.decode_png_pixels(payload), src)  # under budget
    monkeypatch.setattr(mm, "PNG_MAX_SEQUENTIAL_SAMPLES", 2 * w)  # 2 rows' worth
    assert mm.decode_png_pixels(payload) is None
    assert mm.media_content_stats(payload) == (None, None)


def test_encode_wav_canonical_layout_contract():
    """r7: the driver oracle now walks RIFF chunks (recursive CTE), so the
    encoder's contract is layout-parametric: default canonical ('fmt ' at
    12, 'data' at 36, samples from 44), and with ``junk`` a JUNK chunk
    before 'fmt ' shifting every offset -- both layouts must parse to the
    same header fields through the chunk walk."""
    import struct

    from crocodile_spark.operators.multimodal import encode_wav, parse_wav

    for ch, rate, data in [(1, 8000, b"ab" * 4), (2, 16000, b"abcd" * 7)]:
        b = encode_wav(ch, rate, data)
        assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
        assert b[12:16] == b"fmt "
        assert struct.unpack("<I", b[16:20])[0] == 16  # canonical fmt size
        assert struct.unpack("<H", b[20:22])[0] == 1  # wFormatTag = PCM
        assert struct.unpack("<H", b[22:24])[0] == ch
        assert struct.unpack("<H", b[34:36])[0] == 16  # wBitsPerSample
        assert b[36:40] == b"data"
        assert b[44:] == data

        # JUNK layout: fmt shifted by 8 + padded junk; same parsed fields
        for junk in (b"\x07" * 20, b"\x07" * 21):  # even + odd (pad law)
            j = encode_wav(ch, rate, data, junk=junk)
            assert j[12:16] == b"JUNK"
            assert parse_wav(j) == parse_wav(b)[:1] + parse_wav(j)[1:]
            assert parse_wav(j)[0] == ch and parse_wav(j)[3:] == (1, 16)
            doff, dsize = parse_wav(j)[1], parse_wav(j)[2]
            assert j[doff : doff + dsize] == data

"""Semantic properties of the training-pipeline operators that the
hash-vs-oracle comparison can't express: LSH recall vs the exact
formulation, decode determinism, plumbing shapes."""

import pytest
from pyspark.sql import functions as F

from flink_user_behavior_analysis_spark.operators import (
    brute_force_topk,
    decode_media,
    documents_as_media,
    hyperplane_lsh_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from flink_user_behavior_analysis_spark.operators.multimodal import (
    FEATURE_DIM,
    _fake_decode,
)
from flink_user_behavior_analysis_spark.sources import load_table


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """Every planted near-dup (jaccard >= 0.8) must be recalled by the
    banded LSH; at j=0.8, k=12/b=4 the miss probability is ~0.2%."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, 0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, 0.8).collect()
    }
    assert exact, "test data should contain planted near-dups"
    missed = exact - lsh
    assert len(missed) <= max(1, len(exact) // 20), missed
    assert lsh <= exact  # verification step removes false positives


def test_minhash_lsh_fast_hash_same_recall(spark, sf_dir, monkeypatch):
    """SPARK_GRAFT_FAST_HASH=1 swaps md5 for xxhash64 in the signature
    seam; the verified pair set must still be a no-false-positive
    subset of the exact Jaccard pairs with near-total recall (the
    LSH guarantee is hash-agnostic)."""
    monkeypatch.setenv("SPARK_GRAFT_FAST_HASH", "1")
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, 0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, 0.8).collect()
    }
    assert lsh <= exact
    missed = exact - lsh
    assert len(missed) <= max(1, len(exact) // 20), missed


def test_lsh_topk_subset_of_bruteforce_candidates(spark, sf_dir):
    """LSH top-k returns only true neighbors (cosine values must agree
    with the brute-force scoring for the same pairs)."""
    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.where(F.col("vec_id") < 8)
    bf = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in brute_force_topk(queries, embs, 50).collect()
    }
    for r in hyperplane_lsh_topk(queries, embs, 5).collect():
        key = (r.query_id, r.neighbor_id)
        if key in bf:
            assert abs(bf[key] - r.cosine) < 1e-9


def test_fake_decode_deterministic_and_shaped(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = documents_as_media(docs)
    rows = decode_media(media, decoder="fake").collect()
    assert len(rows) == 20
    by_id = {r.media_id: r for r in rows}
    src = {r.media_id: r.payload for r in media.collect()}
    for mid, r in by_id.items():
        assert len(r.feature) == FEATURE_DIM
        expected = _fake_decode(bytes(src[mid]))
        assert all(abs(a - b) < 1e-6 for a, b in zip(r.feature, expected))


def test_frame_sample_byte_windows_non_ascii(spark):
    """Frames are BYTE windows even when a boundary cuts a UTF-8
    codepoint; the hex-based fingerprint must match a host-side
    byte-slice reimplementation exactly (regression: a char-based
    oracle only agreed on ASCII payloads)."""
    import hashlib

    from flink_user_behavior_analysis_spark.operators import frame_sample

    text = "héllo wörld " * 10  # 140 bytes, boundaries cut codepoints
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = frame_sample(
        documents_as_media(docs), every_n_bytes=64, max_frames=8
    ).collect()
    payload = text.encode()
    exp = []
    for i in range(min(len(payload) // 64, 7) + 1):
        sl = payload[i * 64:(i + 1) * 64]
        exp.append((1, i, len(sl),
                    hashlib.sha256(sl.hex().upper().encode()).hexdigest()))
    got = sorted((r.media_id, r.frame_idx, r.frame_len, r.frame_sha256)
                 for r in rows)
    assert got == exp


def test_ppm_decode_matches_reference(spark):
    """PPM path: payloads built JVM-side are valid P6 images, the
    Arrow decode equals the host-side reference parser EXACTLY (every
    feature is float32-exact by construction), and non-ASCII /
    empty / longer-than-window texts all round-trip."""
    from flink_user_behavior_analysis_spark.operators.multimodal import (
        PPM_H,
        PPM_W,
        documents_as_ppm,
        ppm_decode,
    )

    texts = ["héllo wörld " * 30, "", "short", "x" * 96, "\x00\xff mixed"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    media = documents_as_ppm(docs)
    payloads = {r.media_id: bytes(r.payload) for r in media.collect()}
    rows = {r.media_id: r
            for r in decode_media(media, decoder="ppm").collect()}
    assert len(rows) == len(texts)
    for mid, payload in payloads.items():
        assert payload.startswith(f"P6\n{PPM_W} {PPM_H}\n255\n".encode())
        expected = ppm_decode(payload)
        got = [float(x) for x in rows[mid].feature]
        assert got == expected, (mid, got, expected)
        assert got[0] == PPM_W and got[1] == PPM_H
        assert got[7] == PPM_W * PPM_H


def test_ppm_codec_rejects_malformed_payloads():
    from flink_user_behavior_analysis_spark.operators.multimodal import (
        ppm_decode,
    )

    with pytest.raises(ValueError, match="P6"):
        ppm_decode(b"P5\n2 2\n255\n" + b"\x00" * 12)
    with pytest.raises(ValueError, match="truncated"):
        ppm_decode(b"P6\n2 2\n255\n" + b"\x00" * 5)
    with pytest.raises(ValueError, match="maxval"):
        ppm_decode(b"P6\n1 1\n127\n" + b"\x00" * 3)


# Hand-verified spec vectors (VERDICT r8 #8). The PNG pins include
# two externally recognizable constants — the canonical 8-byte
# signature 89504E470D0A1A0A and the universal IEND chunk tail
# AE426082 — so the fixture is checkable against the published spec,
# not just against this repo's own builder.
_PNG_FIXTURE = bytes.fromhex(
    "89504e470d0a1a0a0000000d4948445200000002000000030802000000"
    "368849d60000000049454e44ae426082")          # 2x3, depth 8, RGB
_JPEG_FIXTURE = bytes.fromhex(
    "ffd8fffe00046869ffdb00070000000000"          # SOI, COM('hi'), DQT
    "ffc0000b080003000201011100ffd9")             # SOF0 3x2 1-comp, EOI
_GIF_FIXTURE = bytes.fromhex(
    "474946383961"                                # 'GIF89a'
    "02000300"                                    # w=2, h=3 (LE u16)
    "70" "00" "00" "3b")                          # cres 8, bg, aspect, trailer
_BMP_FIXTURE = bytes.fromhex(
    "424d360000000000000036000000"                # 'BM', size/ofs 54
    "280000000200000003000000"                    # DIB 40, w=2, h=3 LE
    "01001800" + "00" * 24)                       # planes 1, 24 bpp


def test_header_parsers_pinned_to_spec_vectors():
    """png_header / jpeg_header against committed byte vectors with
    KNOWN field values — catches a builder+parser pair that agree on
    the wrong endianness/offset (which the oracle formula alone
    cannot, since it never reads the bytes)."""
    from flink_user_behavior_analysis_spark.operators.multimodal import (
        jpeg_header,
        png_header,
    )

    assert png_header(_PNG_FIXTURE) == (2, 3, 8, 3)
    # (w, h, precision, n_components); the marker walk must skip the
    # COM and DQT segments to reach SOF0
    assert jpeg_header(_JPEG_FIXTURE) == (2, 3, 8, 1)

    with pytest.raises(ValueError, match="signature"):
        png_header(b"\x88PNG\r\n\x1a\n" + _PNG_FIXTURE[8:])
    bad_crc = bytearray(_PNG_FIXTURE)
    bad_crc[30] ^= 0xFF                     # flip a CRC byte
    with pytest.raises(ValueError, match="CRC"):
        png_header(bytes(bad_crc))
    with pytest.raises(ValueError, match="truncated"):
        png_header(_PNG_FIXTURE[:20])       # sig ok, IHDR cut short
    with pytest.raises(ValueError, match="SOI"):
        jpeg_header(b"\xff\xd9" + _JPEG_FIXTURE[2:])
    with pytest.raises(ValueError, match="no SOF"):
        jpeg_header(b"\xff\xd8\xff\xd9")    # SOI then EOI, no frame
    # ADVICE r10: payload cut INSIDE the SOF dims — must be the
    # documented ValueError, not a bare IndexError
    with pytest.raises(ValueError, match="truncated SOF"):
        jpeg_header(_JPEG_FIXTURE[:25])


def test_gif_bmp_header_parsers_pinned_to_spec_vectors():
    """gif_header / bmp_header (VERDICT r10 #5) against committed
    byte vectors with KNOWN field values — same pin discipline as the
    PNG/JPEG fixtures above (little-endian dims this time)."""
    from flink_user_behavior_analysis_spark.operators.multimodal import (
        bmp_header,
        gif_header,
    )

    assert gif_header(_GIF_FIXTURE) == (2, 3, 8, 3)
    assert gif_header(b"GIF87a" + _GIF_FIXTURE[6:]) == (2, 3, 8, 3)
    assert bmp_header(_BMP_FIXTURE) == (2, 3, 8, 3)

    # top-down BMP: negative height i32 — same dims
    neg = bytearray(_BMP_FIXTURE)
    neg[22:26] = (-3).to_bytes(4, "little", signed=True)
    assert bmp_header(bytes(neg)) == (2, 3, 8, 3)
    # 4 bpp palette BMP reports (bit_depth=4, channels=1)
    pal = bytearray(_BMP_FIXTURE)
    pal[28:30] = (4).to_bytes(2, "little")
    assert bmp_header(bytes(pal)) == (2, 3, 4, 1)

    with pytest.raises(ValueError, match="signature"):
        gif_header(b"GIF88a" + _GIF_FIXTURE[6:])
    with pytest.raises(ValueError, match="truncated GIF"):
        gif_header(_GIF_FIXTURE[:12])
    with pytest.raises(ValueError, match="magic"):
        bmp_header(b"MB" + _BMP_FIXTURE[2:])
    with pytest.raises(ValueError, match="truncated BITMAPINFOHEADER"):
        bmp_header(_BMP_FIXTURE[:53])
    v5 = bytearray(_BMP_FIXTURE)
    v5[14:18] = (124).to_bytes(4, "little")    # BITMAPV5HEADER
    with pytest.raises(ValueError, match="DIB header size"):
        bmp_header(bytes(v5))
    twoplane = bytearray(_BMP_FIXTURE)
    twoplane[26:28] = (2).to_bytes(2, "little")
    with pytest.raises(ValueError, match="planes"):
        bmp_header(bytes(twoplane))
    badbc = bytearray(_BMP_FIXTURE)
    badbc[28:30] = (7).to_bytes(2, "little")
    with pytest.raises(ValueError, match="bit count"):
        bmp_header(bytes(badbc))
    zerow = bytearray(_BMP_FIXTURE)
    zerow[18:22] = (0).to_bytes(4, "little")
    with pytest.raises(ValueError, match="dims"):
        bmp_header(bytes(zerow))


def test_media_headers_inline_parser_matches_reference(spark):
    """ADVICE r9: the mapInPandas closure in media_headers inlines
    png_header's logic and had DRIFTED (missing truncation guard +
    color-type validation — struct.error / KeyError instead of the
    documented ValueError). Drive the malformed payloads through the
    ARROW path and require a ValueError carrying the media_id, so the
    two copies cannot diverge silently again."""
    from flink_user_behavior_analysis_spark.operators.multimodal import (
        media_headers,
    )

    def run(payload: bytes):
        media = spark.createDataFrame(
            [(7, "png", bytearray(payload))],
            "media_id long, format string, payload binary")
        media_headers(media).collect()

    # truncated: PNG signature intact, IHDR cut short
    with pytest.raises(Exception) as exc:
        run(_PNG_FIXTURE[:20])
    msg = str(exc.value)
    assert "ValueError" in msg and "media 7" in msg \
        and "truncated" in msg, msg

    # unknown color type (5 is not a legal PNG color type): the
    # inline copy must raise ValueError, not KeyError
    import binascii
    import struct
    bad = bytearray(_PNG_FIXTURE)
    bad[25] = 5                              # color-type byte
    body = bytes(bad[12:29])
    bad[29:33] = struct.pack(
        ">I", binascii.crc32(body) & 0xFFFFFFFF)  # re-sign the CRC
    with pytest.raises(Exception) as exc:
        run(bytes(bad))
    msg = str(exc.value)
    assert "ValueError" in msg and "media 7" in msg \
        and "color type" in msg, msg

    # ADVICE r10: a JPEG cut inside its SOF segment used to escape the
    # inline copy as a bare IndexError without the media_id — must be
    # the documented ValueError contract on the Arrow path too
    media = spark.createDataFrame(
        [(9, "jpeg", bytearray(_JPEG_FIXTURE[:25]))],
        "media_id long, format string, payload binary")
    from flink_user_behavior_analysis_spark.operators.multimodal import (
        media_headers,
    )
    with pytest.raises(Exception) as exc:
        media_headers(media).collect()
    msg = str(exc.value)
    assert "ValueError" in msg and "media 9" in msg \
        and "truncated SOF" in msg, msg


def test_media_headers_roundtrip_and_builder_pin(spark):
    """The JVM-built PNG/JPEG/GIF/BMP payloads must (a) byte-equal a
    host-python reference construction for a known text — pinning
    F.crc32/unhex/lpad (and the little-endian _le_bytes swap) against
    binascii+struct — and (b) round-trip through the Arrow
    media_headers pass to the dims the length formula predicts, for
    texts crossing the modulus boundaries."""
    import binascii
    import struct

    from flink_user_behavior_analysis_spark.operators.multimodal import (
        PNG_SIG,
        documents_as_bmp,
        documents_as_gif,
        documents_as_jpeg,
        documents_as_png,
        media_headers,
    )

    texts = ["spec", "", "é" * 40, "x" * 63, "y" * 64, "z" * 200]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")

    # (a) builder pins on one known text ('spec', 4 bytes -> 5x5)
    n = len("spec".encode())
    w, h = n % 64 + 1, n % 32 + 1
    ihdr_body = (b"IHDR" + struct.pack(">II", w, h)
                 + bytes([8, 2, 0, 0, 0]))
    want_png = (PNG_SIG + struct.pack(">I", 13) + ihdr_body
                + struct.pack(">I", binascii.crc32(ihdr_body) & 0xFFFFFFFF)
                + struct.pack(">I", 0) + b"IEND"
                + struct.pack(">I", binascii.crc32(b"IEND") & 0xFFFFFFFF))
    got_png = bytes(documents_as_png(docs).where("media_id = 0")
                    .collect()[0].payload)
    assert got_png == want_png

    want_gif = (b"GIF89a" + struct.pack("<HH", w, h)
                + bytes([0x70, 0, 0, 0x3B]))
    got_gif = bytes(documents_as_gif(docs).where("media_id = 0")
                    .collect()[0].payload)
    assert got_gif == want_gif

    want_bmp = (b"BM" + struct.pack("<I", 54) + bytes(4)
                + struct.pack("<I", 54) + struct.pack("<Iii", 40, w, h)
                + struct.pack("<HH", 1, 24) + bytes(24))
    got_bmp = bytes(documents_as_bmp(docs).where("media_id = 0")
                    .collect()[0].payload)
    assert got_bmp == want_bmp

    # (b) round-trip: parse ALL built payloads of all four formats
    media = (
        documents_as_png(docs)
        .unionByName(documents_as_jpeg(
            docs.withColumn("doc_id", F.col("doc_id") + 100)))
        .unionByName(documents_as_gif(
            docs.withColumn("doc_id", F.col("doc_id") + 200)))
        .unionByName(documents_as_bmp(
            docs.withColumn("doc_id", F.col("doc_id") + 300)))
    )
    got = {(r.media_id, r.format): (r.width, r.height, r.bit_depth,
                                    r.channels)
           for r in media_headers(media).collect()}
    assert len(got) == 4 * len(texts)
    for i, t in enumerate(texts):
        nb = len(t.encode())
        want = (nb % 64 + 1, nb % 32 + 1, 8, 3)
        assert got[(i, "png")] == want, (i, t)
        assert got[(i + 100, "jpeg")] == want, (i, t)
        assert got[(i + 200, "gif")] == want, (i, t)
        assert got[(i + 300, "bmp")] == want, (i, t)


def test_real_decoder_is_explicitly_stubbed(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(1)
    media = documents_as_media(docs)
    try:
        decode_media(media, decoder="real")
        raise AssertionError("real decoder should be stubbed")
    except NotImplementedError:
        pass


def test_quantization_error_bound(spark, sf_dir):
    """int8 quantization reconstructs every component within scale/2
    (symmetric rounding), and q codes stay in [-127, 127]."""
    from flink_user_behavior_analysis_spark.operators.similarity import (
        quantize_embeddings,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    joined = quantize_embeddings(embs).join(embs, "vec_id").limit(200)
    for r in joined.collect():
        assert -127 <= r.q_min <= r.q_max <= 127
        for x, qi in zip(r.embedding, r.q):
            assert abs(float(x) - qi * r.scale) <= r.scale / 2 + 1e-6


def test_cosine_lsh_invariant_in_n_blocks(spark, sf_dir):
    """The blocked-within-bucket decomposition is pure parallelism:
    the pair set must be byte-identical for any n_blocks."""
    from flink_user_behavior_analysis_spark.operators.similarity import (
        cosine_pairs_lsh,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    one = {(r.id_a, r.id_b, r.cosine)
           for r in cosine_pairs_lsh(embs, 0.4, n_blocks=1).collect()}
    four = {(r.id_a, r.id_b, r.cosine)
            for r in cosine_pairs_lsh(embs, 0.4, n_blocks=4).collect()}
    seven = {(r.id_a, r.id_b, r.cosine)
             for r in cosine_pairs_lsh(embs, 0.4, n_blocks=7).collect()}
    assert one == four == seven
    assert one, "smoke data should contain near-dup embeddings"


def test_cosine_lsh_multitable_recall(spark, sf_dir):
    """OR-construction: tables=2 finds every tables=1 pair plus
    (possibly) cross-bucket pairs table 0 missed; everything it emits
    is a true >= threshold pair with the exact cosine."""
    from flink_user_behavior_analysis_spark.operators.similarity import (
        cosine_pairs_blocked,
        cosine_pairs_lsh,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    single = {(r.id_a, r.id_b): r.cosine
              for r in cosine_pairs_lsh(embs, 0.4, tables=1).collect()}
    multi = {(r.id_a, r.id_b): r.cosine
             for r in cosine_pairs_lsh(embs, 0.4, tables=2).collect()}
    exact = {(r.id_a, r.id_b): r.cosine
             for r in cosine_pairs_blocked(embs, 0.4).collect()}
    assert set(single) <= set(multi) <= set(exact)
    for key, cos in multi.items():
        assert abs(exact[key] - cos) < 1e-9


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF with nprobe=2 should recall a solid share of true top-5
    neighbors and score candidates with the exact cosine."""
    from flink_user_behavior_analysis_spark.operators.similarity import ivf_topk

    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.where(F.col("vec_id") < 8)
    truth = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in brute_force_topk(queries, embs, 5).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in ivf_topk(queries, embs, 5).collect()
    }
    assert ivf, "ivf returned nothing"
    for key, cos in ivf.items():
        if key in truth:
            assert abs(truth[key] - cos) < 1e-9
    recall = len(set(ivf) & set(truth)) / len(truth)
    assert recall >= 0.2, recall


def test_ivf_supports_string_ids(spark, sf_dir):
    """ADVICE r2: cent_id must mirror the corpus id type — a string-id
    corpus should produce identical neighbors to the long-id run
    (modulo the id rename)."""
    from flink_user_behavior_analysis_spark.operators.similarity import ivf_topk

    embs = load_table(spark, sf_dir, "embeddings")
    sembs = embs.select(
        F.format_string("doc-%06d", F.col("vec_id")).alias("vec_id"),
        "embedding",
    )
    queries = embs.where(F.col("vec_id") < 8)
    squeries = sembs.where(F.col("vec_id") < "doc-000008")
    base = {(r.query_id, r.neighbor_id)
            for r in ivf_topk(queries, embs, 5).collect()}
    via_str = {(int(r.query_id[4:]), int(r.neighbor_id[4:]))
               for r in ivf_topk(squeries, sembs, 5).collect()}
    assert via_str == base and via_str


def test_chunking_reconstructs_documents(spark, sf_dir):
    """Chunks are a partition of the token stream: rejoining every
    doc's chunks in chunk_idx order reproduces the normalized text,
    and all chunks except the last are exactly chunk_tokens long."""
    from flink_user_behavior_analysis_spark.operators.chunking import (
        chunk_documents,
    )
    from flink_user_behavior_analysis_spark.operators.dedup import (
        normalized_text,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, 32)
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ).getField("chunk_text"),
            ).alias("rejoined"),
            F.max("chunk_idx").alias("last_idx"),
        )
    )
    want = docs.select("doc_id", normalized_text("text").alias("ntext"))
    diff = rebuilt.join(want, "doc_id").where(
        F.col("rejoined") != F.col("ntext")
    )
    assert diff.count() == 0
    # every chunk before the last is exactly 32 tokens
    nonlast = chunks.join(
        rebuilt.select("doc_id", "last_idx"), "doc_id"
    ).where(F.col("chunk_idx") < F.col("last_idx"))
    assert nonlast.where(F.col("n_chunk_tokens") != 32).count() == 0


def test_stratified_sample_exact_k_and_layout_invariant(spark, sf_dir):
    """Exactly min(k, |stratum|) rows per lang, and the kept set is
    identical under a different physical layout (the determinism
    claim: rank depends only on (seed, id), never on partitioning)."""
    from flink_user_behavior_analysis_spark.operators.sampling import (
        stratified_sample_k,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    k = 7
    got = stratified_sample_k(docs, ["lang"], k, "doc_id")
    sizes = {r.lang: r.n for r in docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    per = {r.lang: r.n for r in got.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert per == {lg: min(k, n) for lg, n in sizes.items()}
    reshuffled = stratified_sample_k(
        docs.repartition(5, "lang"), ["lang"], k, "doc_id")
    a = {(r.lang, r.doc_id) for r in got.collect()}
    b = {(r.lang, r.doc_id) for r in reshuffled.collect()}
    assert a == b


def test_contamination_never_flags_eval_docs(spark, sf_dir):
    """The output contains only training-side docs, each with >=1
    hit; every flagged doc genuinely shares a 5-gram with some eval
    doc (spot-check via the distinct shingle sets)."""
    from flink_user_behavior_analysis_spark.operators.contamination import (
        ngram_contamination,
    )
    from flink_user_behavior_analysis_spark.operators.sampling import (
        hash_uniform,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = ngram_contamination(docs, 0.05, 5)
    eval_ids = {
        r.doc_id
        for r in docs.where(hash_uniform("doc_id", "eval") < 0.05)
        .select("doc_id").collect()
    }
    rows = out.collect()
    assert rows, "synthetic near-dup corpus should show contamination"
    for r in rows:
        assert r.doc_id not in eval_ids
        assert r.n_hits >= 1


def test_repetition_fracs_bounded(spark, sf_dir):
    """0 <= top_bigram_frac, dup_trigram_frac <= 1 and the top bigram
    count never exceeds the bigram total."""
    from flink_user_behavior_analysis_spark.operators.text import (
        repetition_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    bad = repetition_stats(docs).where(
        (F.col("top_bigram_frac") < 0) | (F.col("top_bigram_frac") > 1)
        | (F.col("dup_trigram_frac") < 0) | (F.col("dup_trigram_frac") > 1)
        | (F.col("top_bigram_n") > F.col("n_bigrams"))
        | (F.col("dup_trigram_n") > F.col("n_trigrams"))
    )
    assert bad.count() == 0


def test_tfidf_at_most_k_per_doc(spark, sf_dir):
    """<= k terms per doc, ranks are 1..m contiguous, and a term
    appearing in every document scores n_docs/df = 1 * tf."""
    from flink_user_behavior_analysis_spark.operators.text import (
        tf_idf_top_terms,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = tf_idf_top_terms(docs, k=4)
    per = out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("rnk").alias("mx"))
    bad = per.where((F.col("n") > 4) | (F.col("mx") != F.col("n")))
    assert bad.count() == 0


def test_pack_sequences_exact_length_and_conservation(spark, sf_dir):
    """Every packed sequence has exactly seq_tokens tokens except at
    most one ragged tail per bucket, no token is lost (totals match
    the chunk stream), and seq_text really contains n_seq_tokens
    whitespace tokens."""
    from flink_user_behavior_analysis_spark.operators.chunking import (
        chunk_documents,
        pack_sequences,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, 32)
    packed = pack_sequences(chunks, 64, 8)
    rows = packed.collect()
    total_chunks = chunks.agg(F.sum("n_chunk_tokens")).collect()[0][0]
    assert sum(r.n_seq_tokens for r in rows) == total_chunks
    ragged = {}
    for r in rows:
        assert len(r.seq_text.split(" ")) == r.n_seq_tokens
        if r.n_seq_tokens != 64:
            ragged.setdefault(r.bucket, []).append(r.seq_id)
    for bucket, seqs in ragged.items():
        assert len(seqs) == 1, (bucket, seqs)
    # the ragged one must be the bucket's LAST sequence
    last = {r.bucket: max(x.seq_id for x in rows if x.bucket == r.bucket)
            for r in rows}
    for bucket, seqs in ragged.items():
        assert seqs[0] == last[bucket]


def test_keeper_by_quality_picks_best(spark, sf_dir):
    """Exactly one keeper per cluster, and it attains the cluster's
    max quality score."""
    from flink_user_behavior_analysis_spark.operators.cluster import (
        keeper_by_quality,
    )
    from flink_user_behavior_analysis_spark.operators.text import text_stats

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, 0.5)
    quality = text_stats(docs).select("doc_id", "quality_score")
    out = keeper_by_quality(docs, pairs, quality).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert any(len(v) > 1 for v in by_cluster.values())
    for rs in by_cluster.values():
        keepers = [r for r in rs if r.is_keeper]
        assert len(keepers) == 1
        assert keepers[0].quality_score == max(r.quality_score for r in rs)


def test_approx_quantiles_within_rank_error(spark, sf_dir):
    """Every approx_percentile output is an actual data value whose
    rank is within the 1/accuracy rank-error bound of the requested
    quantile (the GK sketch guarantee the 100 TB path relies on)."""
    from flink_user_behavior_analysis_spark.operators.text import (
        QUANTILE_PROBS,
        corpus_quantiles_approx,
    )

    docs = load_table(spark, sf_dir, "documents")
    acc = 10000
    row = corpus_quantiles_approx(docs, accuracy=acc).collect()[0]
    import re

    texts = [r.text for r in docs.select("text").collect()]
    chars = sorted(float(len(t)) for t in texts)
    toks = sorted(
        float(len(re.sub(" +", " ",
                         re.sub("[^a-z0-9 ]", " ", t.lower())).strip()
                  .split(" ")))
        for t in texts
    )
    n = len(chars)
    eps = 1.0 / acc
    for p in QUANTILE_PROBS:
        tag = str(int(p * 100))
        for vals, col in ((chars, f"chars_p{tag}"), (toks, f"tokens_p{tag}")):
            v = float(getattr(row, col))
            assert v in vals  # GK returns an actual element
            lo = sum(1 for x in vals if x < v)
            hi = sum(1 for x in vals if x <= v)
            want = p * n
            assert lo - eps * n <= want <= hi + eps * n + 1


def test_incremental_dedup_consistent_with_full_pairs(spark, sf_dir):
    """Incremental statuses agree with the single-frame LSH pair
    operator run on the whole corpus: dup_corpus docs pair with some
    corpus doc, dup_delta docs pair with a smaller delta id, kept
    docs pair with neither."""
    from flink_user_behavior_analysis_spark.operators.dedup import (
        dedup_incremental,
    )
    from flink_user_behavior_analysis_spark.operators.sampling import (
        hash_uniform,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_delta = hash_uniform("doc_id", "delta") < 0.3
    corpus, delta = docs.where(~is_delta), docs.where(is_delta)
    out = {r.doc_id: r.status
           for r in dedup_incremental(corpus, delta, 0.5).collect()}
    assert set(out.values()) >= {"kept"}, "statuses missing"
    delta_ids = set(out)
    pairs = minhash_lsh_pairs(docs, 0.5).collect()
    corpus_partner = set()
    delta_partner = set()
    for p in pairs:
        for me, other in ((p.id_a, p.id_b), (p.id_b, p.id_a)):
            if me in delta_ids:
                if other not in delta_ids:
                    corpus_partner.add(me)
                elif other < me:
                    delta_partner.add(me)
    for doc_id, status in out.items():
        if status == "dup_corpus":
            assert doc_id in corpus_partner
        elif status == "dup_delta":
            assert doc_id in delta_partner and doc_id not in corpus_partner
        else:
            assert doc_id not in corpus_partner
            assert doc_id not in delta_partner


def test_group_centroids_match_numpy_mean(spark, sf_dir):
    """Fixed-point centroid equals the float mean within the 1e-6
    quantization step, per label and dimension, and is invariant
    under repartitioning (the order-independence claim)."""
    import numpy as np

    from flink_user_behavior_analysis_spark.operators.similarity import (
        group_centroids,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    labels = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang")
    got = {r.lang: (r.n_vecs, np.array(r.centroid))
           for r in group_centroids(embs, labels).collect()}
    rows = embs.join(labels, "vec_id").collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(np.array(r.embedding, dtype=float))
    for lang, vecs in by_lang.items():
        n, cent = got[lang]
        assert n == len(vecs)
        assert np.max(np.abs(cent - np.mean(vecs, axis=0))) < 1e-6
    reparted = group_centroids(embs.repartition(7), labels.repartition(3))
    got2 = {r.lang: list(r.centroid) for r in reparted.collect()}
    assert got2 == {lg: list(c) for lg, (_, c) in got.items()}


def test_bm25_ranking_properties(spark, sf_dir):
    """Scores are non-increasing within a query, every hit contains at
    least one query term, and a query of one very common term ranks a
    doc with the highest saturated tf/length tradeoff first."""
    from flink_user_behavior_analysis_spark.operators.text import bm25_topk
    from flink_user_behavior_analysis_spark.operators.dedup import (
        normalized_text,
    )

    docs = load_table(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(
        [(1, "spark join"), (2, "window")], "query_id long, query_text string")
    out = bm25_topk(docs, qdf, k=5).collect()
    assert out
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rnk)
        scores = [r.bm25 for r in rows]
        assert scores == sorted(scores, reverse=True)
    # every returned doc contains at least one query term
    hit_ids = [r.doc_id for r in out]
    toks = {
        r.doc_id: set(r.ntext.split(" "))
        for r in docs.where(F.col("doc_id").isin(hit_ids))
        .select("doc_id", normalized_text("text").alias("ntext")).collect()
    }
    terms = {1: {"spark", "join"}, 2: {"window"}}
    for r in out:
        assert toks[r.doc_id] & terms[r.query_id], r


def test_chunk_containment_bounds_and_exact_dup(spark, sf_dir):
    """containment in [0,1]; any pair of exact-duplicate documents
    (same normalized text) must both have containment 1.0."""
    from flink_user_behavior_analysis_spark.operators.chunking import (
        chunk_containment,
    )
    from flink_user_behavior_analysis_spark.operators.dedup import (
        normalized_text,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = chunk_containment(docs, 32)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows and all(0.0 <= r.containment <= 1.0 for r in rows.values())
    # force exact duplicates: re-id copies of three docs and re-run —
    # both halves of each duplicated pair must score containment 1.0
    base = docs.select("doc_id", "text")
    copies = (base.orderBy("doc_id").limit(3)
              .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    out2 = chunk_containment(base.unionByName(copies), 32)
    rows2 = {r.doc_id: r for r in out2.collect()}
    orig_ids = [r.doc_id for r in base.orderBy("doc_id").limit(3).collect()]
    for d in orig_ids:
        assert rows2[d].containment == 1.0, d
        assert rows2[d + 1_000_000].containment == 1.0, d


def test_ivf_trained_deterministic_and_recall(spark, sf_dir):
    """kmeans-trained IVF: refits are bit-identical (fixed-point
    update + content-hash init, no RNG), recall vs brute force stays
    within a 0.05 band of the untrained content-hash quantizer on the
    same parameters, and — the thing training actually PROMISES
    (ADVICE r4) — the trained cells are better balanced: max cell
    size <= the untrained quantizer's (at 100 TB that bounds the
    hottest bucket's candidate-join fan-out)."""
    import numpy as np

    from flink_user_behavior_analysis_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivf_topk_trained,
        kmeans_fit,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.where(F.col("vec_id") < 8)

    c1 = kmeans_fit(embs, 8, iters=2)
    c2 = kmeans_fit(embs.repartition(7), 8, iters=2)
    assert c1 == c2, "k-means refit must be partition-invariant"

    truth = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(queries, embs, 5).collect()}
    trained = {(r.query_id, r.neighbor_id)
               for r in ivf_topk_trained(queries, embs, 5,
                                         train_iters=2).collect()}
    plain = {(r.query_id, r.neighbor_id)
             for r in ivf_topk(queries, embs, 5).collect()}
    assert trained
    r_trained = len(trained & truth) / len(truth)
    r_plain = len(plain & truth) / len(truth)
    assert r_trained >= max(0.2, r_plain - 0.05), (r_trained, r_plain)

    # balance dominance: spherical assignment of the full corpus to
    # trained (iters=2) vs untrained (iters=0 == content-hash init)
    # centroids — training must not worsen the hottest cell
    x = np.array([r.embedding for r in embs.collect()], dtype=float)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)

    def max_cell(cents):
        c = np.array(cents)
        c = c / np.linalg.norm(c, axis=1, keepdims=True)
        return int(np.bincount((x @ c.T).argmax(axis=1),
                               minlength=len(cents)).max())

    trained_max = max_cell(kmeans_fit(embs, 32, iters=2))
    untrained_max = max_cell(kmeans_fit(embs, 32, iters=0))
    assert trained_max <= untrained_max, (trained_max, untrained_max)


def test_bm25_stored_index_probe_equals_inline(spark, sf_dir, tmp_path):
    """VERDICT r4 #5: write the inverted index to bucketed catalog
    tables, read it back, probe — results must equal the inline build
    exactly (the fixed-point fold makes both bit-stable)."""
    from flink_user_behavior_analysis_spark.operators.text import (
        bm25_read_index,
        bm25_store_index,
        bm25_topk,
        bm25_topk_from_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(
        [(1, "spark window join"), (2, "hash table scan")],
        "query_id long, query_text string")
    tables = bm25_store_index(docs, "t_bm25_idx")
    try:
        probe = bm25_topk_from_index(
            bm25_read_index(spark, "t_bm25_idx"), qdf, k=5)
        inline = bm25_topk(docs, qdf, k=5)
        assert (sorted(map(tuple, probe.collect()))
                == sorted(map(tuple, inline.collect())))
        # stored tf/dl are bucketed on the doc id: their equi-join
        # must need no SHUFFLE Exchange on either stored scan (force
        # SMJ — at this size the planner would rightly broadcast,
        # which hides whether bucketing lines up)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            idx = bm25_read_index(spark, "t_bm25_idx")
            plan = (idx["tf"].join(idx["dl"], "doc_id")
                    ._jdf.queryExecution().executedPlan().toString())
            assert "Exchange hashpartitioning" not in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_hybrid_stored_fusion_equals_inline(spark, sf_dir):
    """VERDICT r5 #3: hybrid retrieval fused entirely from the stored
    BM25 index — bm25 leg probes tf/dl, overlap leg reads the SAME
    stored tf table as its posting list — equals the inline build
    (bm25_topk + overlap_topk + rrf_fuse) exactly."""
    from flink_user_behavior_analysis_spark.operators.text import (
        bm25_read_index,
        bm25_store_index,
        bm25_topk,
        bm25_topk_from_index,
        overlap_topk,
        overlap_topk_from_postings,
        rrf_fuse,
    )

    docs = load_table(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(
        [(1, "spark window join"), (2, "hash table scan")],
        "query_id long, query_text string")
    tables = bm25_store_index(docs, "t_hyb_idx")
    try:
        idx = bm25_read_index(spark, "t_hyb_idx")
        stored = rrf_fuse([
            bm25_topk_from_index(idx, qdf, k=10),
            overlap_topk_from_postings(idx["tf"], qdf, k=10),
        ], topk=5)
        inline = rrf_fuse([
            bm25_topk(docs, qdf, k=10),
            overlap_topk(docs, qdf, k=10),
        ], topk=5)
        assert (sorted(map(tuple, stored.collect()))
                == sorted(map(tuple, inline.collect())))
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_lm_stored_model_probe_equals_inline(spark, sf_dir):
    from flink_user_behavior_analysis_spark.operators.text import (
        lm_read_model,
        lm_score,
        lm_score_from_model,
        lm_store_model,
    )

    docs = load_table(spark, sf_dir, "documents")
    tables = lm_store_model(docs, "t_lm_model")
    try:
        probe = lm_score_from_model(lm_read_model(spark, "t_lm_model"), docs)
        inline = lm_score(docs)
        assert (sorted(map(tuple, probe.collect()))
                == sorted(map(tuple, inline.collect())))
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_contamination_stored_probe_equals_inline_and_append(spark, sf_dir):
    """The stored decontamination index (r10): probing the bucketed
    gram_fp inverted index with the eval split must reproduce
    ngram_contamination's (doc_id, n_hits) exactly (fp space — the
    60-bit md5 fp is injective on this corpus), and folding a corpus
    batch in via the ledgered append must equal a full rebuild."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.contamination import (
        contam_append_grams,
        contam_store_grams,
        contamination_from_store,
        ngram_contamination,
    )
    from flink_user_behavior_analysis_spark.operators.sampling import (
        hash_uniform,
    )

    docs = load_table(spark, sf_dir, "documents")
    rate, n = 0.05, 5
    is_eval = hash_uniform("doc_id", "eval") < rate
    train, ev = docs.where(~is_eval), docs.where(is_eval)
    prefixes = ("t_contam_full", "t_contam_inc")
    for p in prefixes:
        for t in spark.catalog.listTables():
            if t.name.startswith(p):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    try:
        contam_store_grams(train, "t_contam_full", n=n)
        probe = contamination_from_store(spark, "t_contam_full", ev, n=n)
        inline = ngram_contamination(docs, rate, n)
        assert (sorted(map(tuple, probe.collect()))
                == sorted(map(tuple, inline.collect())))

        # append ≡ rebuild: build on 80% of train, fold in the rest
        h = F.abs(F.xxhash64("doc_id") % 10)
        contam_store_grams(train.where(h >= 2), "t_contam_inc", n=n)
        assert contam_append_grams(spark, "t_contam_inc",
                                   train.where(h < 2),
                                   batch_id="c1", n=n) > 0
        # committed re-delivery is a no-op
        assert contam_append_grams(spark, "t_contam_inc",
                                   train.where(h < 2),
                                   batch_id="c1", n=n) == 0
        inc = contamination_from_store(spark, "t_contam_inc", ev, n=n)
        assert (sorted(map(tuple, inc.collect()))
                == sorted(map(tuple, probe.collect())))

        # ADVICE r10 defense-in-depth: violating the doc-disjointness
        # precondition (re-appending the same docs under a NEW
        # batch_id) duplicates index rows but must NOT inflate n_hits
        # — the probe counts DISTINCT gram_fp per doc
        assert contam_append_grams(spark, "t_contam_inc",
                                   train.where(h < 2),
                                   batch_id="c2-dup", n=n) > 0
        dup = contamination_from_store(spark, "t_contam_inc", ev, n=n)
        assert (sorted(map(tuple, dup.collect()))
                == sorted(map(tuple, probe.collect())))
    finally:
        for p in prefixes:
            for t in spark.catalog.listTables():
                if t.name.startswith(p):
                    spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_dsir_stored_models_probe_equals_inline(spark, sf_dir):
    """VERDICT r9 #4: the DSIR production shape stores BOTH bigram
    LMs (lm_store_model twice) and scores probe-only; the probe must
    reproduce dsir_weights' (doc_id, n_bigrams, logw) exactly —
    including docs whose bigrams the TARGET model never saw, where
    the smoothed coalesce path carries the whole signal."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.text import (
        dsir_weights,
        dsir_weights_from_models,
        lm_read_model,
        lm_store_model,
    )

    docs = load_table(spark, sf_dir, "documents")
    target = docs.where(F.col("source").isin("src0", "src1"))
    tables = lm_store_model(docs, "t_dsir_raw")
    tables += lm_store_model(target, "t_dsir_tgt")
    try:
        probe = dsir_weights_from_models(
            lm_read_model(spark, "t_dsir_raw"),
            lm_read_model(spark, "t_dsir_tgt"), docs)
        inline = dsir_weights(docs, target)
        assert (sorted(map(tuple, probe.collect()))
                == sorted(map(tuple, inline.collect())))
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dsir_raw_lm_append_equals_rebuild(spark, sf_dir):
    """DSIR inherits the LM family's ingest lifecycle: folding a new
    corpus batch into the STORED raw LM (lm_append_to_model — counts
    additive, vocab recomputed, never re-tokenizes the old corpus)
    must leave dsir_weights_from_models bit-identical to rebuilding
    the raw LM on the union — so a growing corpus updates the
    selection weights without any refit."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.text import (
        dsir_weights_from_models,
        lm_append_to_model,
        lm_read_model,
        lm_store_model,
    )

    docs = load_table(spark, sf_dir, "documents")
    target = docs.where(F.col("source").isin("src0", "src1"))
    h = F.abs(F.xxhash64("doc_id") % 10)
    base, batch = docs.where(h >= 1), docs.where(h < 1)
    pa, pf, pt = "t_dsir_app", "t_dsir_full", "t_dsir_app_tgt"
    tables = lm_store_model(base, pa)
    tables += lm_store_model(docs, pf)
    tables += lm_store_model(target, pt)
    try:
        assert lm_append_to_model(spark, pa, batch, batch_id="b1") > 0
        mt = lm_read_model(spark, pt)
        got = dsir_weights_from_models(lm_read_model(spark, pa),
                                       mt, docs)
        want = dsir_weights_from_models(lm_read_model(spark, pf),
                                        mt, docs)
        assert (sorted(map(tuple, got.collect()))
                == sorted(map(tuple, want.collect())))
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_mixture_sample_monotone_and_rates(spark, sf_dir):
    """Raising a group's rate only ADDS rows (cache-sharing property),
    and achieved per-source rates track the targets."""
    from flink_user_behavior_analysis_spark.operators.sampling import (
        mixture_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    lo = {"src0": 0.2, "src1": 0.5}
    hi = {"src0": 0.6, "src1": 0.5}
    kept_lo = {r.doc_id for r in
               mixture_sample(docs, lo, default_rate=0.3).collect()}
    kept_hi = {r.doc_id for r in
               mixture_sample(docs, hi, default_rate=0.3).collect()}
    assert kept_lo <= kept_hi
    assert kept_lo < kept_hi  # src0 rate tripled: strictly more rows
    # achieved rate per source within a loose binomial band
    totals = {r.source: r.cnt for r in docs.groupBy("source")
              .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    kept_by_src = {}
    for r in docs.where(F.col("doc_id").isin(list(kept_hi))).collect():
        kept_by_src[r.source] = kept_by_src.get(r.source, 0) + 1
    for src, want in [("src0", 0.6), ("src1", 0.5)]:
        got = kept_by_src.get(src, 0) / totals[src]
        assert abs(got - want) < 0.25, (src, got, want)


def test_lm_score_orders_by_conditional_probability(spark, sf_dir):
    """Single-bigram probe docs score in the order of their corpus
    conditional probability (cb+1)/(cw+V) — the max-conditional bigram
    beats the min-conditional one; n_bigrams = n_tokens - 1."""
    from flink_user_behavior_analysis_spark.operators.dedup import (
        normalized_text,
    )
    from flink_user_behavior_analysis_spark.operators.text import lm_score

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")

    toks = base.select(
        "doc_id", F.split(normalized_text("text"), " ").alias("t"))
    bi = toks.select(F.explode(F.expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), "
        "(a, b) -> struct(a AS w1, b AS w2))")).alias("bg")
    ).select("bg.w1", "bg.w2")
    uni = (toks.select(F.explode("t").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("cw")))
    v = uni.count()
    stats = (bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
             .join(uni.withColumnRenamed("w", "w1"), "w1")
             .withColumn("p", (F.col("cb") + 1) / (F.col("cw") + v))
             .orderBy(F.col("p").asc(), "w1", "w2").collect())
    worst, best = stats[0], stats[-1]
    assert best.p > worst.p, "degenerate corpus: all conditionals equal"

    probe = spark.createDataFrame(
        [(9_000_001, f"{best.w1} {best.w2}"),
         (9_000_002, f"{worst.w1} {worst.w2}")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in lm_score(base.unionByName(probe)).collect()}
    assert out[9_000_001].n_bigrams == 1
    assert out[9_000_002].n_bigrams == 1
    assert out[9_000_001].avg_logp > out[9_000_002].avg_logp
    ntok = {r.doc_id: r.n for r in base.select(
        "doc_id", F.size(F.split(normalized_text("text"), " ")).alias("n")
    ).collect()}
    full = lm_score(base).collect()
    for r in full:
        assert r.n_bigrams == ntok[r.doc_id] - 1
        assert r.avg_logp < 0


def test_winnowing_guarantee_and_density(spark, sf_dir):
    """The MOSS guarantee: two docs sharing a token run of length
    >= w + k - 1 share at least one selected fingerprint; selection
    density stays near the theoretical 2/(w+1)."""
    from flink_user_behavior_analysis_spark.operators.text import (
        winnow_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    k, w = 4, 5
    # plant a shared 16-token run (>= w + k - 1 = 8) inside two new docs
    run = "alpha beta gamma delta eps zeta eta theta " \
          "iota kappa lam mu nu xi omi pi"
    probe = spark.createDataFrame(
        [(9_100_001, "prefix one two " + run),
         (9_100_002, run + " suffix three four")],
        "doc_id long, text string")
    out = winnow_fingerprints(docs.unionByName(probe), k=k, w=w)
    fps = {d: set() for d in (9_100_001, 9_100_002)}
    n_sel = 0
    for r in out.collect():
        n_sel += 1
        if r.doc_id in fps:
            fps[r.doc_id].add(r.fp)
    assert fps[9_100_001] & fps[9_100_002], "guarantee violated"
    # density: selected fingerprints per k-gram in [1/(w+1), 4/(w+1)]
    n_grams = docs.select(
        F.greatest(
            F.size(F.split(
                F.expr("trim(regexp_replace(regexp_replace(lower(text),"
                       "'[^a-z0-9 ]', ' '), ' +', ' '))"), " ")) - k + 1,
            F.lit(0)).alias("g")
    ).agg(F.sum("g")).first()[0]
    density = n_sel / n_grams
    assert 1 / (w + 1) < density < 4 / (w + 1), density


def test_fixed_point_ops_are_repartition_invariant(spark, sf_dir):
    """The fixed-point determinism claims, exercised: lm_score and
    source_stats produce IDENTICAL rows under a hostile repartition."""
    from flink_user_behavior_analysis_spark.operators.text import (
        lm_score,
        source_stats,
    )

    from flink_user_behavior_analysis_spark.operators.chunking import (
        chunk_containment,
    )

    docs = load_table(spark, sf_dir, "documents")
    shuffled = docs.repartition(13, "lang")
    for op in (lm_score, source_stats, chunk_containment):
        a = sorted(map(tuple, op(docs).collect()))
        b = sorted(map(tuple, op(shuffled).collect()))
        assert a == b, op.__name__

    # bm25: fixed-point per-term folds -> identical rankings too
    from flink_user_behavior_analysis_spark.operators.text import bm25_topk

    qdf = spark.createDataFrame([(1, "spark join window")],
                                "query_id long, query_text string")
    a = sorted(map(tuple, bm25_topk(docs, qdf, k=5).collect()))
    b = sorted(map(tuple, bm25_topk(shuffled, qdf, k=5).collect()))
    assert a == b


def test_pca_partition_invariant_orthonormal_ordered(spark, sf_dir):
    """pca_fit is bit-identical under repartitioning (fixed-point
    integer reductions), axes are orthonormal, explained variances
    are sorted descending, and the projection centers near zero."""
    import numpy as np

    from flink_user_behavior_analysis_spark.operators.similarity import (
        pca_fit,
        pca_transform,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    m1 = pca_fit(embs, 4)
    m2 = pca_fit(embs.repartition(7), 4)
    assert m1 == m2, "pca refit must be partition-invariant"

    w = np.array(m1["components"])
    assert np.allclose(w @ w.T, np.eye(4), atol=1e-9)
    ev = m1["explained"]
    assert all(a >= b for a, b in zip(ev, ev[1:])) and ev[0] > 0

    proj = np.array([r.pca for r in pca_transform(embs, m1).collect()])
    assert proj.shape[1] == 4
    assert np.abs(proj.mean(axis=0)).max() < 1e-3
    # variance along axis 0 >= axis 3 in the projected data too
    var = proj.var(axis=0)
    assert var[0] >= var[-1]


def test_winnow_overlap_detects_planted_partial_copy(spark, sf_dir):
    """A 16-token run planted in two otherwise-different docs must
    surface as an overlap pair; boilerplate fps (> max_bucket docs)
    must not explode the pair count."""
    from flink_user_behavior_analysis_spark.operators.text import (
        winnow_overlap_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    run = ("alpha beta gamma delta eps zeta eta theta "
           "iota kappa lam mu nu xi omi pi")
    probe = spark.createDataFrame(
        [(9_200_001, "prefix one two " + run),
         (9_200_002, run + " suffix three four")],
        "doc_id long, text string")
    pairs = winnow_overlap_pairs(docs.unionByName(probe), min_shared=1)
    got = {(r.id_a, r.id_b): r.n_shared for r in pairs.collect()}
    assert (9_200_001, 9_200_002) in got


def test_heavy_hitters_cms_certificates(spark, sf_dir):
    """Every CMS estimate satisfies the one-sided bound (est_ok all 1)
    and the ranking is the exact count order; a tiny eps still
    certifies because CMS never underestimates."""
    from flink_user_behavior_analysis_spark.operators.sketches import (
        heavy_hitters_cms,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id")
    out = heavy_hitters_cms(ev, "user_id", k=8).collect()
    assert len(out) == 8
    assert all(r.est_ok == 1 for r in out)
    cnts = [r.cnt for r in out]
    assert cnts == sorted(cnts, reverse=True)


def test_gopher_rules_edge_cases(spark):
    """Hand-computed Gopher rule outcomes: each crafted doc fails
    exactly one rule (or none), pinning thresholds and boundary
    inclusivity at the paper's defaults."""
    from flink_user_behavior_analysis_spark.operators.text import (
        gopher_rules,
    )

    good = ("the quick brown fox jumps with vigor over the lazy dog and "
            "then naps " * 5).strip()          # 65 words, all rules pass
    short = "the dog sat with me"              # fails word count only
    symbols = ("the data #### with #### tags ## and #### more #### "
               "hash #### noise ## here " * 5).strip()  # symbol ratio
    numeric = ("the 123 456 789 000 111 with 222 333 444 555 666 777 "
               "888 999 000 111 222 " * 4).strip()      # alpha frac
    nostop = ("lorem ipsum dolor sit amet consectetur adipiscing elit "
              "sed eiusmod tempor " * 6).strip()        # stop words
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols), (4, numeric), (5, nostop)],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in gopher_rules(df).collect()}
    assert (rows[1].r_word_count, rows[1].keep) == (1, 1)
    assert (rows[2].r_word_count, rows[2].keep) == (0, 0)
    assert rows[2].r_stop_words == 1        # 'the'+'with' = 2 distinct
    assert (rows[3].r_symbol_ratio, rows[3].keep) == (0, 0)
    assert (rows[4].r_alpha_words, rows[4].keep) == (0, 0)
    assert (rows[5].r_stop_words, rows[5].keep) == (0, 0)


def test_pq_deterministic_encode_valid_and_recall(spark, sf_dir):
    """Product quantization: refits are bit-identical under
    repartition (content-hash init + fixed-point Lloyd, no RNG),
    codes are in-range with one per subspace, the ADC estimate of
    squared distance on the unit sphere is within additive
    quantization error of the true 2-2cos (checked against brute
    force on the overlap), and recall vs brute force clears the
    certificate floor the driver query pins."""
    from flink_user_behavior_analysis_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_fit,
        pq_topk,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        PQ_CODES,
        PQ_M,
        PQ_RECALL_FLOOR,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.where(F.col("vec_id") < 8)

    m1 = pq_fit(embs, m=PQ_M, codes=PQ_CODES, iters=2)
    m2 = pq_fit(embs.repartition(7), m=PQ_M, codes=PQ_CODES, iters=2)
    assert m1 == m2, "PQ refit must be partition-invariant"
    assert len(m1["codebooks"]) == PQ_M
    assert all(len(b) == PQ_CODES for b in m1["codebooks"])

    enc = pq_encode(embs, m1)
    stats = enc.select(
        F.min(F.size("codes")).alias("mn_sz"),
        F.max(F.size("codes")).alias("mx_sz"),
        F.min(F.array_min("codes")).alias("mn"),
        F.max(F.array_max("codes")).alias("mx")).first()
    assert (stats.mn_sz, stats.mx_sz) == (PQ_M, PQ_M)
    assert stats.mn >= 0 and stats.mx < PQ_CODES

    truth_rows = brute_force_topk(queries, embs, 5).collect()
    truth = {(r.query_id, r.neighbor_id) for r in truth_rows}
    approx_rows = pq_topk(queries, embs, 5, model=m1).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    assert len(approx & truth) / len(truth) >= PQ_RECALL_FLOOR

    # ADC error bound on the overlap: |approx_d2 - (2 - 2 cos)| is the
    # corpus-side quantization distortion — far below 2.0 for any
    # non-degenerate codebook (exact would be 0)
    cos = {(r.query_id, r.neighbor_id): r.cosine for r in truth_rows}
    for r in approx_rows:
        key = (r.query_id, r.neighbor_id)
        if key in cos:
            assert abs(r.approx_d2 - (2 - 2 * cos[key])) < 2.0, (key,)

def test_rrf_fuse_hand_computed(spark):
    """RRF on two tiny rankings, checked against hand-computed
    fixed-point scores: a doc ranked 2nd in both lists must beat a
    doc ranked 1st in only one (the calibration-free property RRF
    exists for), and the emitted score equals the exact fixed-point
    sum."""
    from flink_user_behavior_analysis_spark.operators.text import (
        rrf_fuse,
    )

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 30, 3)],
        "query_id long, doc_id long, rnk long")
    b = spark.createDataFrame(
        [(1, 40, 1), (1, 20, 2), (1, 10, 3)],
        "query_id long, doc_id long, rnk long")
    out = {r.doc_id: r for r in
           rrf_fuse([a, b], k_rrf=60, topk=4).collect()}

    def f(r):
        return 1_000_000_000 // (60 + r)

    exact = {10: f(1) + f(3), 20: f(2) + f(2), 30: f(3), 40: f(1)}
    want_order = sorted(exact, key=lambda d: (-exact[d], d))
    got_order = [d for d, _ in sorted(
        ((r.doc_id, r.rnk) for r in out.values()), key=lambda t: t[1])]
    assert got_order == want_order == [10, 20, 40, 30]
    assert out[20].n_lists == 2 and out[40].n_lists == 1
    assert out[20].rnk < out[40].rnk      # 2nd+2nd beats a lone 1st
    for d, r in out.items():
        assert r.rrf_score == round(exact[d] / 1e9, 6)


def test_ivfpq_deterministic_recall_and_pruning(spark, sf_dir):
    """Combined IVF+PQ: repartition-invariant output (both quantizers
    are deterministic), recall clears the certificate floor, and —
    what composing IVF actually adds over plain PQ — routing PRUNES:
    some corpus vector outside the probed cells never appears in any
    candidate list, while plain pq_topk (no routing) ranks every
    vector somewhere at full depth."""
    from flink_user_behavior_analysis_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
        pq_topk,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        IVFPQ_CELLS,
        IVFPQ_CODES,
        IVFPQ_M,
        IVFPQ_NPROBE,
        IVFPQ_RECALL_FLOOR,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.where(F.col("vec_id") < 8)
    n_corpus = embs.count()
    hp = dict(n_centroids=IVFPQ_CELLS, nprobe=IVFPQ_NPROBE,
              m=IVFPQ_M, codes=IVFPQ_CODES)

    r1 = ivfpq_topk(queries, embs, 5, **hp).collect()
    r2 = ivfpq_topk(queries, embs.repartition(7), 5, **hp).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))

    truth = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(queries, embs, 5).collect()}
    got = {(r.query_id, r.neighbor_id) for r in r1}
    assert len(got & truth) / len(truth) >= IVFPQ_RECALL_FLOOR

    # pruning: at full depth the routed scan must surface FEWER
    # distinct candidates than an unrouted ADC scan over everything
    routed = ivfpq_topk(queries, embs, n_corpus, **hp)
    unrouted = pq_topk(queries, embs, n_corpus)
    assert routed.count() < unrouted.count()


def test_funnel_hand_computed_semantics(spark):
    """First-touch funnel edges pinned by hand: out-of-order steps
    don't count, the window anchors at the FIRST step-1 event,
    same-instant steps match (inclusive bounds), and a missing middle
    step blocks the tail."""
    from datetime import datetime, timedelta

    from flink_user_behavior_analysis_spark.operators.funnel import (
        funnel,
    )

    t0 = datetime(2024, 1, 1)
    h = timedelta(hours=1)
    rows = [
        (1, "view", t0), (1, "click", t0 + h), (1, "purchase", t0 + 2 * h),
        (2, "click", t0), (2, "view", t0 + h), (2, "purchase", t0 + 2 * h),
        # user 2 HAS a purchase after view but no click after view ->
        # the ordered prefix stops at step 1
        (3, "view", t0), (3, "click", t0 + h),
        (3, "purchase", t0 + timedelta(hours=26)),   # outside 1 day
        (4, "view", t0), (4, "purchase", t0 + h),    # no click at all
        (5, "view", t0), (5, "click", t0), (5, "purchase", t0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp")
    out = {r.step: (r.n_users, r.conversion) for r in funnel(
        ev, ["view", "click", "purchase"], "1 DAY").collect()}
    assert out["view"] == (5, 1.0)
    assert out["click"] == (3, 0.6)        # users 1, 3, 5
    assert out["purchase"] == (2, 0.4)     # users 1, 5


def test_retention_cohorts_hand_computed(spark):
    """Cohort bucketing and offsets by hand: two users starting the
    same epoch week, one active the next week — retention 1.0 then
    0.5; a later-starting user forms their own cohort."""
    from datetime import datetime, timedelta

    from flink_user_behavior_analysis_spark.operators.funnel import (
        retention_cohorts,
    )

    base = datetime(2024, 1, 4)            # mid-week, any weekday works
    d = timedelta(days=1)
    rows = [
        (1, base), (1, base + 7 * d),      # cohort W, active W and W+1
        (2, base + d),                     # cohort W, active W only
        (3, base + 21 * d),                # own cohort W+3
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {(r.cohort_week, r.week_offset):
           (r.n_active, r.cohort_size, r.retention)
           for r in retention_cohorts(ev).collect()}
    weeks = sorted({w for w, _ in out})
    w0 = weeks[0]
    assert out[(w0, 0)] == (2, 2, 1.0)
    assert out[(w0, 1)] == (1, 2, 0.5)
    assert out[(w0 + 3, 0)] == (1, 1, 1.0)
    assert len(out) == 3


def test_pq_stored_probe_equals_inline(spark, sf_dir):
    """pq_store_index / pq_read_index round-trip: the ADC probe over
    the STORED codebook + encoded-corpus tables returns exactly the
    inline-fit pq_topk rows (parquet stores the codebook doubles
    losslessly) — the stored-artifact claim, asserted."""
    from flink_user_behavior_analysis_spark.operators.similarity import (
        pq_fit,
        pq_read_index,
        pq_store_index,
        pq_topk,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.where(F.col("vec_id") < 8)
    try:
        pq_store_index(embs, "t_pq_test", m=8, codes=16, iters=2)
        model, enc = pq_read_index(spark, "t_pq_test")
        inline_model = pq_fit(embs, m=8, codes=16, iters=2)
        assert model == inline_model
        stored = pq_topk(queries, embs, 5, model=model,
                         encoded=enc).collect()
        inline = pq_topk(queries, embs, 5,
                         model=inline_model).collect()
        assert sorted(map(tuple, stored)) == sorted(map(tuple, inline))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pq_test_codebook")
        spark.sql("DROP TABLE IF EXISTS t_pq_test_codes")


def test_ivfpq_stored_probe_equals_inline(spark, sf_dir):
    """ivfpq_store_index / ivfpq_read_index round-trip (VERDICT r5
    #1): the route+ADC probe over the STORED centroids + residual
    codebooks + cell-partitioned inverted file returns exactly the
    inline-fit ivfpq_topk rows (both fits are deterministic; doubles
    round-trip parquet losslessly), and the build-time truth table
    matches a fresh brute-force scan — the full stored-serving
    claim, asserted."""
    from flink_user_behavior_analysis_spark.operators.similarity import (
        brute_force_topk_arrow,
        ivfpq_fit,
        ivfpq_read_index,
        ivfpq_store_index,
        ivfpq_topk,
        ivfpq_topk_from_index,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.where(F.col("vec_id") < 8)
    hp = dict(n_centroids=8, m=8, codes=16)
    try:
        ivfpq_store_index(embs, "t_ivfpq_test", coarse_iters=2,
                          pq_iters=2, truth_queries=queries,
                          truth_k=5, **hp)
        model, _enc = ivfpq_read_index(spark, "t_ivfpq_test")
        inline_model = ivfpq_fit(embs, coarse_iters=2, pq_iters=2,
                                 **hp)
        assert model == inline_model
        stored = ivfpq_topk_from_index(spark, "t_ivfpq_test",
                                       queries, 5, nprobe=3).collect()
        inline = ivfpq_topk(queries, embs, 5, nprobe=3,
                            model=inline_model).collect()
        assert sorted(map(tuple, stored)) == sorted(map(tuple, inline))
        truth_stored = spark.table("t_ivfpq_test_truth").collect()
        truth_fresh = brute_force_topk_arrow(queries, embs, 5).collect()
        assert (sorted(map(tuple, truth_stored))
                == sorted(map(tuple, truth_fresh)))
    finally:
        for s in ("centroids", "codebook", "codes", "truth"):
            spark.sql(f"DROP TABLE IF EXISTS t_ivfpq_test_{s}")


def test_duplicated_spans_incremental_equals_full_restricted(spark, sf_dir):
    """The incremental probe's contract: its output equals the FULL
    corpus+delta computation restricted to delta documents (global
    occurrence totals decompose into corpus + delta counts)."""
    from flink_user_behavior_analysis_spark.operators.chunking import (
        duplicated_spans,
        duplicated_spans_incremental,
    )
    from flink_user_behavior_analysis_spark.operators.sampling import (
        hash_uniform,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_delta = hash_uniform("doc_id", "delta") < 0.3
    corpus, delta = docs.where(~is_delta), docs.where(is_delta)

    inc = duplicated_spans_incremental(corpus, delta, 8).collect()
    delta_ids = {r.doc_id for r in delta.select("doc_id").collect()}
    full = [r for r in duplicated_spans(docs, 8).collect()
            if r.doc_id in delta_ids]
    assert sorted(map(tuple, inc)) == sorted(map(tuple, full))


def test_error_spikes_hand_computed(spark):
    """Modified z-score by hand: four quiet hours (2 errors) and one
    20-error hour — median 2, MAD 0 floored to 1, so the spike scores
    z=18 and the quiet hours 0; non-error events never count."""
    from datetime import datetime, timedelta

    from flink_user_behavior_analysis_spark.operators.funnel import (
        error_spikes,
    )

    t0 = datetime(2024, 1, 1)
    h = timedelta(hours=1)
    rows = []
    for hour in range(4):
        rows += [(1, "error", t0 + hour * h + timedelta(minutes=i))
                 for i in range(2)]
        rows += [(1, "view", t0 + hour * h)]     # noise, ignored
    rows += [(1, "error", t0 + 4 * h + timedelta(minutes=i))
             for i in range(20)]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp")
    out = sorted(error_spikes(ev, "1 hour").collect(),
                 key=lambda r: r.window_end_us)
    assert [r.n_errors for r in out] == [2, 2, 2, 2, 20]
    assert [r.is_spike for r in out] == [0, 0, 0, 0, 1]
    assert out[-1].z_score == 18.0 and out[-1].mad == 0.0
    assert all(r.z_score == 0.0 for r in out[:-1])


def test_dedup_stored_corpus_probe_equals_inline(spark, sf_dir):
    """dedup_store_corpus round-trip: probing the STORED LSH-bucket +
    shingle tables returns exactly dedup_incremental's in-plan
    derivation (md5 signatures are deterministic) — the
    stored-artifact claim for incremental near-dup dedup."""
    from flink_user_behavior_analysis_spark.operators.dedup import (
        dedup_incremental,
        dedup_incremental_from_store,
        dedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.operators.sampling import (
        hash_uniform,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_delta = hash_uniform("doc_id", "delta") < 0.3
    corpus, delta = docs.where(~is_delta), docs.where(is_delta)
    tables = dedup_store_corpus(corpus, "t_dedup_store")
    try:
        stored = dedup_incremental_from_store(
            spark, "t_dedup_store", delta, 0.5).collect()
        inline = dedup_incremental(corpus, delta, 0.5).collect()
        assert sorted(map(tuple, stored)) == sorted(map(tuple, inline))
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_span_stored_counts_probe_equals_inline(spark, sf_dir):
    """span_store_counts round-trip: probing the stored (fp,
    n_corpus) table equals duplicated_spans_incremental deriving the
    counts in-plan."""
    from flink_user_behavior_analysis_spark.operators.chunking import (
        duplicated_spans_incremental,
        duplicated_spans_incremental_from_store,
        span_store_counts,
    )
    from flink_user_behavior_analysis_spark.operators.sampling import (
        hash_uniform,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_delta = hash_uniform("doc_id", "delta") < 0.3
    corpus, delta = docs.where(~is_delta), docs.where(is_delta)
    tables = span_store_counts(corpus, "t_span_store", 8)
    try:
        stored = duplicated_spans_incremental_from_store(
            spark, "t_span_store", delta, 8).collect()
        inline = duplicated_spans_incremental(corpus, delta, 8).collect()
        assert sorted(map(tuple, stored)) == sorted(map(tuple, inline))
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_semantic_dedup_max_cell_guard(spark):
    """The stale-model guard: a centroid set that funnels every
    vector into one cell must raise (with the refit instruction)
    when max_cell is set, and still run fine without it."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        semantic_dedup,
    )

    vecs = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * 0 + 1.0).cast("double")
                  for _ in range(4)]).alias("embedding"))
    # two identical centroids -> tie rule sends ALL 50 to cell 0
    cents = [[1.0, 1.0, 1.0, 1.0], [1.0, 1.0, 1.0, 1.0]]
    with _pytest.raises(ValueError, match="refit"):
        semantic_dedup(vecs, cents, 0.9, max_cell=10)
    out = semantic_dedup(vecs, cents, 0.9)
    rows = out.collect()
    assert len(rows) == 50
    assert {r.cell for r in rows} == {0}
    # identical vectors: priority keeps exactly one (lowest id)
    kept = [r.vec_id for r in rows if r.status == "kept"]
    assert kept == [0]


def test_semdedup_stored_probe_matches_python_reference(spark, sf_dir):
    """Incremental SemDeDup: store the 70% corpus cells, probe the
    30% batch, and check every status/count against an independent
    pure-Python recomputation of the contract (argmax assignment at
    6dp, pair cosines at 4dp, corpus-outranks-batch, then the
    (cent_sim asc, id asc) priority among the batch)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        semdedup_probe,
        semdedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        SEMDEDUP_EPS,
        _embs,
        _semdedup_centroid_path,
        _semdedup_read_centroids,
    )
    from flink_user_behavior_analysis_spark.sources.readers import index_ready

    def r(x, dp):
        return float(Decimal(repr(x)).quantize(
            Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP))

    embs = _embs(spark, sf_dir)
    cents = _semdedup_read_centroids(_semdedup_centroid_path())
    split = embs.withColumn("_d", F.xxhash64("vec_id") % 10)
    corpus = split.where(F.abs(F.col("_d")) >= 3).drop("_d")
    delta = split.where(F.abs(F.col("_d")) < 3).drop("_d")

    prefix = "t_semdd_inc"
    semdedup_store_corpus(corpus, cents, prefix)
    assert index_ready(spark, prefix)
    probe_df = semdedup_probe(spark, prefix, delta, cents, SEMDEDUP_EPS)
    # the probe must touch only the cells the batch lands in: the
    # probe collects the batch's distinct cells (bounded by k) and
    # pushes a STATIC IN filter into the corpus scan's
    # PartitionFilters — stronger than the dynamic-pruning subquery
    # it replaces (the batch-side checkpoint hid the join from the
    # DPP rule)
    plan = probe_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    import re as _re
    m = _re.search(r"PartitionFilters: \[[^\]]*cell", plan)
    assert m, "corpus scan is not partition-pruned on cell"
    got = {row.vec_id: (row.status, row.n_corpus_matches)
           for row in probe_df.collect()}

    # ---- pure-python reference
    cnorm = [math.sqrt(sum(x * x for x in c)) for c in cents]

    def load(df):
        return {row.vec_id: [float(x) for x in row.embedding]
                for row in df.collect()}

    def assign(v):
        nv = math.sqrt(sum(x * x for x in v))
        best, bc = None, None
        for ci, c in enumerate(cents):
            cs = 0.0 if nv == 0 or cnorm[ci] == 0 else \
                sum(a * b for a, b in zip(v, c)) / (nv * cnorm[ci])
            cs = r(cs, 6)
            if best is None or cs > best:
                best, bc = cs, ci
        return bc, best

    def cos4(u, v):
        nu = math.sqrt(sum(x * x for x in u))
        nv = math.sqrt(sum(x * x for x in v))
        return r(0.0 if nu == 0 or nv == 0 else
                 sum(a * b for a, b in zip(u, v)) / (nu * nv), 4)

    corp, delt = load(corpus), load(delta)
    corp_cell = {i: assign(v)[0] for i, v in corp.items()}
    delt_info = {i: assign(v) for i, v in delt.items()}
    expected = {}
    for i, (cell, cs) in sorted(delt_info.items()):
        ncm = sum(1 for j, cj in corp_cell.items()
                  if cj == cell and cos4(delt[i], corp[j]) >= SEMDEDUP_EPS)
        if ncm:
            expected[i] = ("dup_corpus", ncm)
            continue
        dup = any(
            (delt_info[j][1], j) < (cs, i)
            and delt_info[j][0] == cell
            and cos4(delt[i], delt[j]) >= SEMDEDUP_EPS
            for j in delt
        )
        expected[i] = ("dup_delta" if dup else "kept", 0)
    assert got == expected
    assert any(s == "dup_corpus" for s, _ in got.values()) or \
        any(s == "dup_delta" for s, _ in got.values()) or \
        len(got) > 0
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE {t.name}")


def test_dedup_semantic_stored_matches_oracle(spark, oracle_sf_dir):
    """The STAGED r8 stored-probe query (see q_dedup_semantic_stored
    docstring for why it is not yet registered) already passes the
    exact driver-style comparison against its full-recompute DuckDB
    oracle at the driver's sf0.01."""
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        _dedup_semantic_stored_sql,
        q_dedup_semantic_stored,
    )

    from .oracle_util import compare

    df = q_dedup_semantic_stored(spark, oracle_sf_dir)
    compare(df, _dedup_semantic_stored_sql(), oracle_sf_dir)


def test_semdedup_drift_matches_oracle(spark, oracle_sf_dir):
    """The STAGED r8 drift monitor (queries_pipeline.q_semdedup_drift)
    passes the exact driver-style comparison against its
    full-recompute DuckDB oracle at the driver's sf0.01 — means are
    integer micro-unit sums, so engine/partition order cannot move
    them."""
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        _semdedup_drift_sql,
        q_semdedup_drift,
    )

    from .oracle_util import compare

    df = q_semdedup_drift(spark, oracle_sf_dir)
    compare(df, _semdedup_drift_sql(), oracle_sf_dir)
    rows = {r.cell: r for r in df.collect()}
    assert rows, "drift monitor returned no cells"
    # sanity on the semantics: corpus+batch masses each cover the
    # split, and any cell with both sides has a finite drift
    assert sum(r.n_corpus for r in rows.values()) > 0
    assert sum(r.n_batch for r in rows.values()) > 0
    for r in rows.values():
        if r.n_corpus > 0 and r.n_batch > 0:
            assert r.sim_drift is not None


def test_ivfpq_filtered_search_from_stored_index(spark, sf_dir):
    """Filtered vector search: the metadata predicate rides the
    stored inverted-file scan (pushed parquet filter + probed-cell
    partition pruning), every neighbor satisfies it, and the result
    equals an unfiltered ADC probe over a manually pre-filtered
    encoded corpus — same model, no metadata join."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        ivfpq_read_index,
        ivfpq_store_index,
        ivfpq_topk,
        ivfpq_topk_filtered_from_index,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _embs
    from flink_user_behavior_analysis_spark.sources.readers import index_ready

    prefix = "t_ivfpq_filt"
    embs = _embs(spark, sf_dir)  # already carries the label column
    queries = embs.where(F.col("vec_id") < 8)
    ivfpq_store_index(embs, prefix, n_centroids=8, m=8, codes=16,
                      meta_cols=["label"])
    assert index_ready(spark, prefix)

    got = ivfpq_topk_filtered_from_index(
        spark, prefix, queries, 5, F.col("label") == 3, nprobe=4)
    qe = got._jdf.queryExecution()
    plan = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    import re as _re

    assert "PushedFilters: [IsNotNull(label), EqualTo(label,3)" in plan
    # probed-cell partition pruning survives alongside the meta filter
    # (prints as IN (...) for small probe sets, INSET above 10 cells)
    assert _re.search(r"PartitionFilters: \[cell#\d+ IN", plan)

    rows = got.collect()
    assert rows, "filtered probe returned nothing"
    labels = {r.label for r in
              embs.join(got.select(F.col("neighbor_id").alias("vec_id")),
                        "vec_id").collect()}
    assert labels == {3}

    # equivalence: pre-filtered encoded corpus through the same model
    model, enc = ivfpq_read_index(spark, prefix)
    ref = ivfpq_topk(
        queries, None, 5, nprobe=4, model=model,
        encoded=enc.where(F.col("label") == 3)
        .select("vec_id", "cell", "codes"))
    assert sorted(map(tuple, rows)) == sorted(map(tuple, ref.collect()))

    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE {t.name}")


def test_ann_topk_filtered_stored_matches_oracle(spark, oracle_sf_dir):
    """The STAGED r8 filtered-search query passes the driver-style
    oracle comparison at sf0.01 (certificate shape)."""
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        ANN_TOPK_FILTERED_STORED_SQL,
        q_ann_topk_filtered_stored,
    )

    from .oracle_util import compare

    df = q_ann_topk_filtered_stored(spark, oracle_sf_dir)
    compare(df, ANN_TOPK_FILTERED_STORED_SQL, oracle_sf_dir)


def test_ivfpq_append_to_index_probe_equals_full_encode(spark, sf_dir):
    """Index ingestion: build the index on a 70% corpus, APPEND the
    remaining 30% (encoded with the frozen stored model, no refit),
    and assert the probe over the appended table equals an ADC probe
    over the same model encoding the full corpus in one shot."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        ivfpq_append_to_index,
        ivfpq_encode,
        ivfpq_read_index,
        ivfpq_store_index,
        ivfpq_topk,
        ivfpq_topk_from_index,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _embs

    prefix = "t_ivfpq_app"
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    base = embs.where(F.abs(F.xxhash64("vec_id") % 10) >= 3)
    extra = embs.where(F.abs(F.xxhash64("vec_id") % 10) < 3)
    queries = embs.where(F.col("vec_id") < 8)
    ivfpq_store_index(base, prefix, n_centroids=8, m=8, codes=16)

    n = ivfpq_append_to_index(spark, prefix, extra)
    assert n == extra.count() and n > 0
    got = ivfpq_topk_from_index(spark, prefix, queries, 5, nprobe=4)

    model, _ = ivfpq_read_index(spark, prefix)
    ref = ivfpq_topk(queries, None, 5, nprobe=4, model=model,
                     encoded=ivfpq_encode(embs, model))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, ref.collect()))

    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE {t.name}")


def test_semdedup_append_corpus_equals_bigger_store(spark, sf_dir):
    """Probe -> keep -> append lifecycle: storing corpus A then
    appending batch B's keepers must give future probes the same
    corpus view as storing A+keepers in one shot."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        semdedup_append_corpus,
        semdedup_probe,
        semdedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        SEMDEDUP_EPS,
        _embs,
        _semdedup_read_centroids_or_fit,
    )

    cents = _semdedup_read_centroids_or_fit(spark)
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    h = F.abs(F.xxhash64("vec_id") % 10)
    part_a = embs.where(h >= 5)          # initial corpus
    part_b = embs.where((h >= 2) & (h < 5))  # accepted batch
    probe_c = embs.where(h < 2)          # next arriving batch

    semdedup_store_corpus(part_a, cents, "t_semdd_a")
    marked = semdedup_probe(spark, "t_semdd_a", part_b, cents,
                            SEMDEDUP_EPS)
    # materialize the keeper set BEFORE the append: the marked frame
    # is lazy over the corpus table, and re-evaluating it after the
    # append would see the keepers already in the corpus (self-dup)
    kept_ids = [r.vec_id for r in
                marked.where(F.col("status") == "kept")
                .select("vec_id").collect()]
    keepers = part_b.where(F.col("vec_id").isin(kept_ids))
    n = semdedup_append_corpus(spark, "t_semdd_a", keepers, cents)
    assert n == len(kept_ids) and n > 0

    semdedup_store_corpus(part_a.unionByName(keepers), cents,
                          "t_semdd_ab")
    got = semdedup_probe(spark, "t_semdd_a", probe_c, cents,
                         SEMDEDUP_EPS)
    ref = semdedup_probe(spark, "t_semdd_ab", probe_c, cents,
                         SEMDEDUP_EPS)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, ref.collect()))

    for t in spark.catalog.listTables():
        if t.name.startswith("t_semdd_a"):
            spark.sql(f"DROP TABLE {t.name}")


def test_semdedup_missing_artifact_and_train_dir_fails_fast(
        spark, monkeypatch, tmp_path):
    """ADVICE r7: on a checkout missing BOTH the committed centroid
    artifact and the training corpus, the fit path must fail with an
    actionable message naming the remedy, not an opaque parquet read
    error from inside kmeans."""
    import pytest as _pytest

    from flink_user_behavior_analysis_spark import queries_pipeline as qp

    monkeypatch.setattr(qp, "_semdedup_centroid_path",
                        lambda: str(tmp_path / "nope" / "c.parquet"))
    monkeypatch.setattr(qp, "SEMDEDUP_TRAIN_DIR",
                        str(tmp_path / "no_such_sf_dir"))
    with _pytest.raises(FileNotFoundError,
                        match="SPARK_GRAFT_SEMDEDUP_TRAIN_DIR"):
        qp._semdedup_read_centroids_or_fit(spark)


def test_overlapped_action_failure_does_not_mask_main_error(spark):
    """When the main path AND the overlapped action both fail, the
    main-path error propagates: awaiting the overlapped future in a
    ``finally`` used to replace it with the future's own error."""
    from concurrent.futures import Future

    from flink_user_behavior_analysis_spark.operators.dedup import (
        release_signature_cache,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        _ann_certificate,
    )

    @F.udf("long")
    def boom(x):
        raise ValueError("main path failed")

    fut = Future()
    fut.set_exception(RuntimeError("overlapped action failed"))
    approx = spark.range(3).where(boom("id") > 0)
    try:
        with pytest.raises(Exception, match="main path failed"):
            _ann_certificate(spark, spark.range(1), approx,
                             spark.range(1), 0.5, truth_fut=fut)
    finally:
        release_signature_cache(spark)


def test_pii_scrub_counts_and_placeholders(spark, sf_dir):
    """pii_scrub: known synthetic rows scrub to exact placeholder
    text with exact per-class counts; and the registered query's
    injection makes the certificate non-vacuous (every doc finds
    and redacts at least one of each class)."""
    from flink_user_behavior_analysis_spark.operators.text import (
        pii_scrub,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        q_pii_scrub,
    )

    rows = [
        (1, "mail a.b%c@x-y.co and 12-345-678-9012 at 192.168.0.1 ok"),
        (2, "no pii here at all"),
        (3, "two mails p@q.io r@s.de one ip 8.8.8.8"),
        (4, "version 1.2.3 is not an ip, 1.2.3.4 is; 123-456-789-0123"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert (got[1].n_email, got[1].n_phone, got[1].n_ip) == (1, 1, 1)
    assert got[1].scrubbed == "mail <EMAIL> and <PHONE> at <IP> ok"
    assert (got[2].n_email, got[2].n_phone, got[2].n_ip) == (0, 0, 0)
    assert got[2].scrubbed == "no pii here at all"
    assert (got[3].n_email, got[3].n_ip) == (2, 1)
    assert got[3].scrubbed == "two mails <EMAIL> <EMAIL> one ip <IP>"
    # 1.2.3 is not an IPv4; 123-456-789-0123 is not the \b2-3-3-4\b
    # phone shape (3-digit prefix) — the word boundaries must hold
    assert (got[4].n_phone, got[4].n_ip) == (0, 1)
    assert "1.2.3 is not an ip" in got[4].scrubbed
    assert "<IP> is" in got[4].scrubbed

    cert = q_pii_scrub(spark, sf_dir)
    mins = cert.agg(F.min("n_email"), F.min("n_phone"),
                    F.min("n_ip")).first()
    assert tuple(mins) == (1, 1, 1), "injection left a doc vacuous"


def test_smoothed_scorer_matches_inner_join_scorer_in_corpus(
        spark, sf_dir):
    """lm_score_smoothed == lm_score_from_model on the model's own
    training corpus (no bigram is unseen there, so the left joins
    reduce to the inner joins) — and on OUT-of-model docs the
    smoothed scorer still scores every bigram while the inner-join
    form drops the unseen ones (n_bigrams differs), which is exactly
    the property dsir_weights needs."""
    from flink_user_behavior_analysis_spark.operators.text import (
        lm_model,
        lm_score_from_model,
        lm_score_smoothed,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import _docs

    docs = _docs(spark, sf_dir)
    half = docs.where("doc_id % 2 = 0")
    other = docs.where("doc_id % 2 = 1")
    m = lm_model(half)
    got = sorted(map(tuple, lm_score_smoothed(m, half).collect()))
    want = sorted(map(tuple, lm_score_from_model(m, half).collect()))
    assert got == want and got

    sm = {r.doc_id: r for r in lm_score_smoothed(m, other).collect()}
    ij = {r.doc_id: r for r in lm_score_from_model(m, other).collect()}
    assert sm, "out-of-model docs must still score"
    # smoothed covers every bigram; inner-join covers a subset
    assert all(sm[d].n_bigrams >= ij[d].n_bigrams for d in ij)
    assert any(sm[d].n_bigrams > ij.get(d, type("x", (), {"n_bigrams": 0})).n_bigrams
               for d in sm)


def test_ahash_pinned_vector_and_media_ahash_roundtrip(spark):
    """ahash against a hand-computed 2x2 PPM vector, then the Arrow
    media_ahash pass against the pure-python reference over built
    payloads (r11 image perceptual-hash family)."""
    from flink_user_behavior_analysis_spark.operators.multimodal import (
        ahash,
        documents_as_ppm,
        media_ahash,
    )

    # 2x2 P6: pixel sums s = [30, 3, 300, 3], total 336, n=4 ->
    # bit_j = 1 iff s_j * 4 > 336 i.e. s_j > 84 -> bits 0010 -> 2
    payload = (b"P6\n2 2\n255\n"
               + bytes([10, 10, 10, 1, 1, 1, 100, 100, 100, 1, 1, 1]))
    assert ahash(payload) == (0b0010, 2, 2)

    with pytest.raises(ValueError, match="P6"):
        ahash(b"P5\n2 2\n255\n" + bytes(12))
    with pytest.raises(ValueError, match="truncated"):
        ahash(b"P6\n2 2\n255\n" + bytes(11))

    texts = ["spec", "", "é" * 40, "x" * 63, "abcd" * 50]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    media = documents_as_ppm(docs)
    got = {r.media_id: (r.phash, r.w, r.h)
           for r in media_ahash(media).collect()}
    want = {r.media_id: ahash(bytes(r.payload))
            for r in media.collect()}
    assert got == want and len(got) == len(texts)

    # Arrow-path error contract carries the media_id
    bad = spark.createDataFrame(
        [(5, bytearray(b"P6\n2 2\n255\n" + bytes(5)))],
        "media_id long, payload binary")
    with pytest.raises(Exception) as exc:
        media_ahash(bad).collect()
    assert "media 5" in str(exc.value) and "truncated" in str(exc.value)


def test_phash_neardup_banding_equals_brute_force(spark):
    """The pigeonhole-banded near-dup join must reproduce the brute
    force hamming-<=k pair set exactly (recall is guaranteed at
    d < bands), and the max_bucket cap must drop exactly the pairs
    whose every shared chunk sits in an over-cap bucket."""
    import itertools
    import random

    from flink_user_behavior_analysis_spark.operators.multimodal import (
        phash_neardup_pairs,
    )

    rng = random.Random(11)
    base = rng.getrandbits(32)
    hashes = [(0, base)]
    for i in range(1, 40):
        h = base
        for b in rng.sample(range(32), rng.randint(0, 6)):
            h ^= 1 << b
        hashes.append((i, h))
    df = spark.createDataFrame(hashes, "media_id long, phash long")

    got = sorted((r.id_a, r.id_b, r.hamming)
                 for r in phash_neardup_pairs(df, max_hamming=3).collect())
    want = sorted(
        (a, b, bin(ha ^ hb).count("1"))
        for (a, ha), (b, hb) in itertools.combinations(hashes, 2)
        if bin(ha ^ hb).count("1") <= 3)
    assert got == want and got, "banded join diverged from brute force"

    # cap smoke: max_bucket=1 keeps only pairs matching in a chunk
    # bucket of size <= 1 — i.e. none (every match needs 2 members)
    capped = phash_neardup_pairs(df, max_hamming=3, max_bucket=1)
    assert capped.count() == 0


def test_phash_wide_pinned_vector_matches_arrow_pass(spark):
    """phash_wide against a hand-computed 2x2 vector, and the Arrow
    pass's phash_wide column against the pure-python reference (r11
    wide-hash fix for the banding saturation found at sf1)."""
    from flink_user_behavior_analysis_spark.operators.multimodal import (
        documents_as_ppm,
        media_ahash,
        phash_wide,
    )

    # 2x2: sums s = [30, 3, 300, 3]; ahash bits 0010 (see ahash pin);
    # dHash (w-1)*h = 2 bits, row-major: row0 3>30? no; row1 3>300? no
    # -> dhash 00 -> wide = 0b0010 << 2 | 0b00 = 8
    payload = (b"P6\n2 2\n255\n"
               + bytes([10, 10, 10, 1, 1, 1, 100, 100, 100, 1, 1, 1]))
    assert phash_wide(payload) == (0b001000, 2, 2)
    # ascending row flips the dHash bits: s = [3, 30, 3, 300];
    # mean*4 = 336 -> ahash bits 0001; dhash 11 -> 0b000111 = 7
    asc = (b"P6\n2 2\n255\n"
           + bytes([1, 1, 1, 10, 10, 10, 1, 1, 1, 100, 100, 100]))
    assert phash_wide(asc) == (0b000111, 2, 2)

    texts = ["wide", "", "é" * 40, "x" * 63, "abcd" * 50]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    media = documents_as_ppm(docs)
    got = {r.media_id: r.phash_wide for r in media_ahash(media).collect()}
    want = {r.media_id: phash_wide(bytes(r.payload))[0]
            for r in media.collect()}
    assert got == want and len(got) == len(texts)


def test_phash_wide_rejects_hashes_wider_than_longtype(spark):
    """ADVICE r11: h*(2w-1) > 63 bits (e.g. 8x8 -> 120) silently
    wrapped in the LongType column — both the pure-python operator and
    the Arrow pass must reject such payloads explicitly instead."""
    from flink_user_behavior_analysis_spark.operators.multimodal import (
        media_ahash,
        phash_wide,
    )

    payload = (b"P6\n8 8\n255\n"
               + bytes([(i * 7) % 256 for i in range(8 * 8 * 3)]))
    with pytest.raises(ValueError, match="63"):
        phash_wide(payload)
    media = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary")
    with pytest.raises(Exception, match="63"):
        media_ahash(media).collect()
    # the standard 8x4 stays exactly at the 60-bit design point
    ok = b"P6\n8 4\n255\n" + bytes([(i * 7) % 256 for i in range(8 * 4 * 3)])
    wide, w, h = phash_wide(ok)
    assert (w, h) == (8, 4) and 0 <= wide < (1 << 60)


def test_recall_certificate_flags_derive_from_real_distribution(
        spark, sf_dir):
    """VERDICT r11 #4: the stored-family recall certificates must be
    falsifiable — flags computed from the actual per-query recall
    distribution, not constants. A perfect approx leg (truth vs
    truth) earns every flag; an approx leg that misses everything
    (impossible neighbor ids) fails the mean and quantile floors
    while keeping the structural columns intact."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        brute_force_topk_arrow,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        ANN_K,
        ANN_QUERY_MAX_ID,
        _embs,
        _recall_certificate,
    )

    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    truth = brute_force_topk_arrow(queries, embs, ANN_K)
    n_q = queries.count()

    perfect = _recall_certificate(
        spark, queries, truth, truth, 0.99, 0.25, 0.99).collect()[0]
    assert perfect["n_queries"] == perfect["n_scored"] == n_q
    assert perfect["k"] == ANN_K
    assert (perfect["mean_recall_ok"], perfect["dist_recall_ok"],
            perfect["recall_in_unit"]) == (1, 1, 1)

    wrong = truth.withColumn(
        "neighbor_id", -F.col("neighbor_id") - 1)
    failed = _recall_certificate(
        spark, queries, wrong, truth, 0.1, 0.75, 0.1).collect()[0]
    assert failed["n_scored"] == n_q
    assert (failed["mean_recall_ok"], failed["dist_recall_ok"]) == (0, 0)
    assert failed["recall_in_unit"] == 1


def test_recall_certificate_after_index_append(spark, sf_dir):
    """Closes the ivfpq_append_to_index docstring caveat ('recall
    certification after appends needs a fresh truth pass'): build on
    a 70% corpus, append the rest with the frozen model, then run the
    recall evaluation the production loop would — fresh brute-force
    truth over the MERGED corpus vs the appended index's probe. The
    appended vectors must be servable (they appear among probe
    results) and every query earns a recall row; recall stays
    deterministic and positive even though the appended rows carry
    frozen-model quantization error."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        brute_force_topk_arrow,
        ivfpq_append_to_index,
        ivfpq_store_index,
        ivfpq_topk_from_index,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        _embs,
        _recall_frame,
    )

    prefix = "t_ivfpq_recall_app"
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    base = embs.where(F.abs(F.xxhash64("vec_id") % 10) >= 3)
    extra = embs.where(F.abs(F.xxhash64("vec_id") % 10) < 3)
    queries = embs.where(F.col("vec_id") < 8)
    ivfpq_store_index(base, prefix, n_centroids=8, m=8, codes=16)
    assert ivfpq_append_to_index(spark, prefix, extra) > 0

    k = 5
    approx = ivfpq_topk_from_index(spark, prefix, queries, k, nprobe=4)
    truth = brute_force_topk_arrow(queries, embs, k)
    rec = _recall_frame(queries, approx, truth)
    rows = {r["query_id"]: r["recall"] for r in rec.collect()}
    assert len(rows) == queries.count()
    assert all(0.0 <= v <= 1.0 for v in rows.values())
    assert sum(rows.values()) > 0  # the merged index retrieves truth
    # appended vectors are servable: at least one probe result comes
    # from the appended slice
    extra_ids = {r["vec_id"] for r in extra.collect()}
    served = {r["neighbor_id"] for r in approx.collect()}
    assert served & extra_ids
    # deterministic: the eval re-run reads identically
    rows2 = {r["query_id"]: r["recall"] for r in
             _recall_frame(queries, ivfpq_topk_from_index(
                 spark, prefix, queries, k, nprobe=4), truth).collect()}
    assert rows2 == rows

    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE {t.name}")


def test_semantic_dedup_gemm_kernel_equals_sql_kernel(spark, sf_dir):
    """r12: the per-cell GEMM pair kernel must reproduce the SQL
    directed-join decisions BIT-EXACTLY — same keep-priority order,
    same 4 dp rounding contract, same zero-norm guard — since the
    registered query now serves the GEMM path against the unchanged
    DuckDB oracle. Includes a zero-vector and an exact-duplicate
    group, the two edge classes the kernels could diverge on."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        semantic_dedup,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        SEMDEDUP_EPS,
        _embs,
        _semdedup_read_centroids_or_fit,
    )

    cents = _semdedup_read_centroids_or_fit(spark)
    embs = _embs(spark, sf_dir)
    # append edge rows: a zero vector and an exact duplicate of vec 0
    dims = len(embs.select("embedding").first()[0])
    extra = spark.createDataFrame(
        [(900001, [0.0] * dims)],
        "vec_id long, embedding array<double>",
    ).select("vec_id", F.col("embedding").cast(
        embs.schema["embedding"].dataType).alias("embedding"))
    dup = embs.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 900002).alias("vec_id"), "embedding")
    vecs = embs.select("vec_id", "embedding") \
        .unionByName(extra).unionByName(dup)

    def rows(kernel):
        return sorted(map(tuple, semantic_dedup(
            vecs, cents, SEMDEDUP_EPS, pair_kernel=kernel).collect()))

    sql_rows, gemm_rows = rows("sql"), rows("gemm")
    assert sql_rows == gemm_rows
    assert len(sql_rows) == vecs.count()
    # the duplicate pair resolved: exactly one of (0, 900002) dropped
    by_id = {r[0]: r[3] for r in gemm_rows}
    assert {by_id[0], by_id[900002]} == {"kept", "dropped"}
    import pytest

    with pytest.raises(ValueError, match="pair_kernel"):
        semantic_dedup(vecs, cents, SEMDEDUP_EPS, pair_kernel="nope")


def test_semdedup_probe_gemm_kernel_equals_sql_kernel(spark, sf_dir):
    """VERDICT r12 #1: the probe's vs-corpus leg (and its within-delta
    leg) on the GEMM kernels must reproduce the SQL joins' verdicts
    AND match counts bit-exactly — the registered
    dedup_semantic_stored now serves the GEMM path against the
    unchanged DuckDB oracle. Edge rows: a zero-vector batch member
    (cosine 0.0 vs everything) and an exact duplicate of a corpus
    vector planted in the batch (guaranteed dup_corpus)."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        semdedup_probe,
        semdedup_store_corpus,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        SEMDEDUP_EPS,
        _embs,
        _semdedup_read_centroids_or_fit,
    )

    embs = _embs(spark, sf_dir)
    cents = _semdedup_read_centroids_or_fit(spark)
    split = embs.withColumn("_d", F.abs(F.xxhash64("vec_id")) % 10)
    corpus = split.where(F.col("_d") >= 3).drop("_d")
    delta = split.where(F.col("_d") < 3).drop("_d")
    dims = len(embs.select("embedding").first()[0])
    zero = spark.createDataFrame(
        [(910001, [0.0] * dims)],
        "vec_id long, embedding array<double>",
    ).select("vec_id", F.col("embedding").cast(
        embs.schema["embedding"].dataType).alias("embedding"))
    dup = corpus.limit(1).select(
        F.lit(910002).cast("long").alias("vec_id"), "embedding")
    delta = delta.select("vec_id", "embedding") \
        .unionByName(zero).unionByName(dup)

    prefix = "t_semdd_gemmeq"
    semdedup_store_corpus(corpus, cents, prefix)

    def rows(kernel):
        return sorted(map(tuple, semdedup_probe(
            spark, prefix, delta, cents, SEMDEDUP_EPS,
            pair_kernel=kernel).collect()))

    sql_rows, gemm_rows = rows("sql"), rows("gemm")
    assert sql_rows == gemm_rows
    assert len(gemm_rows) == delta.count()
    by_id = {r[0]: r[1] for r in gemm_rows}
    assert by_id[910002] == "dup_corpus"
    statuses = {r[1] for r in gemm_rows}
    # dup_delta is geometry-dependent at this SF (corpus outranks);
    # the guaranteed dup_delta pair lives in the string-id test below
    assert {"dup_corpus", "kept"} <= statuses
    import pytest

    with pytest.raises(ValueError, match="pair_kernel"):
        semdedup_probe(spark, prefix, delta, cents, SEMDEDUP_EPS,
                       pair_kernel="nope")
    for t in ("cells", "modelfp", "manifest"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_semdedup_probe_gemm_equals_sql_under_one_cell_model(spark):
    """Degenerate-model probe: a 1-centroid model routes EVERY corpus
    and batch vector into cell 0, so the whole probe is one cogroup
    task — the stale-model worst case. The GEMM kernel must still
    equal the SQL kernel exactly (both legs), and every batch row
    must get a verdict."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators.similarity import (
        semdedup_probe,
        semdedup_store_corpus,
    )

    import math

    cents = [[1.0, 0.0]]
    rows = [(i, [math.cos(i * 0.37), math.sin(i * 0.37)])
            for i in range(120)]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    corpus = vecs.where(F.col("vec_id") % 3 != 0)
    batch = vecs.where(F.col("vec_id") % 3 == 0)
    prefix = "t_semdd_onecell"
    for t in ("cells", "modelfp", "manifest"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    semdedup_store_corpus(corpus, cents, prefix)
    assert [r.cell for r in spark.table(f"{prefix}_cells")
            .select("cell").distinct().collect()] == [0]

    def probe(kernel):
        return sorted(map(tuple, semdedup_probe(
            spark, prefix, batch, cents, 0.995,
            pair_kernel=kernel).collect()))

    got = probe("gemm")
    assert got == probe("sql")
    assert len(got) == batch.count()
    assert {r[1] for r in got} >= {"dup_corpus"}
    for t in ("cells", "modelfp", "manifest"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_semdedup_gemm_kernels_accept_string_ids(spark, monkeypatch):
    """ADVICE r12: the r12 within-cell kernel hardcoded ``_did long``
    and astype(int64), crashing/corrupting on the public API's
    arbitrary id types. Both GEMM kernels must now derive the id
    schema from the input: string-id semantic_dedup and
    semdedup_probe must equal their SQL-kernel twins exactly
    (priority tie-break on string ids is lexicographic in BOTH
    engines — pandas mergesort and the SQL '<'). r14: grains shrunk
    so the BLOCK-PAIR paths run on string ids too — cross-block
    numpy object-array ids concatenate and hash-split correctly,
    not just the diagonal single-block path the default grain takes
    at this size."""
    from pyspark.sql import functions as F

    from flink_user_behavior_analysis_spark.operators import similarity
    from flink_user_behavior_analysis_spark.operators.similarity import (
        semantic_dedup,
        semdedup_probe,
        semdedup_store_corpus,
    )

    monkeypatch.setattr(similarity, "_CELL_BLOCK_ROWS", 4)
    monkeypatch.setattr(similarity, "_CORPUS_BLOCK_ROWS", 3)

    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [(f"doc-{i:03d}",
             [1.0, 0.02 * (i % 5)] if i % 2 else [0.03 * (i % 4), 1.0])
            for i in range(40)]
    vecs = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>")

    def dd(kernel):
        return sorted(map(tuple, semantic_dedup(
            vecs, cents, 0.999, id_col="vec_id",
            pair_kernel=kernel).collect()))

    assert dd("gemm") == dd("sql")
    assert len(dd("gemm")) == 40

    prefix = "t_semdd_strid"
    corpus = vecs.where(F.substring("vec_id", 5, 3) < "020")
    # a guaranteed dup_delta pair: [1,1] is ~0.72 cosine to every
    # corpus/batch pattern (< eps) but 1.0 to its own twin, so the
    # lexicographically-later twin must come back dup_delta
    delta = vecs.subtract(corpus).unionByName(spark.createDataFrame(
        [("doc-900", [1.0, 1.0]), ("doc-901", [1.0, 1.0])],
        "vec_id string, embedding array<double>"))
    semdedup_store_corpus(corpus, cents, prefix, id_col="vec_id")

    def probe(kernel):
        return sorted(map(tuple, semdedup_probe(
            spark, prefix, delta, cents, 0.999, id_col="vec_id",
            pair_kernel=kernel).collect()))

    got = probe("gemm")
    assert got == probe("sql")
    assert len(got) == delta.count()
    st = {r[0]: r[1] for r in got}
    assert (st["doc-900"], st["doc-901"]) == ("kept", "dup_delta")
    for t in ("cells", "modelfp", "manifest"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_semdedup_gemm_block_decomposition_equals_sql(
        spark, monkeypatch):
    """VERDICT r13 #1: a hot cell now decomposes into block-pair
    tasks (within-cell leg) / corpus-block tasks (vs-corpus leg)
    instead of serializing in ONE Arrow task. Shrink both grains so
    a 120-vector one-cell corpus spans many blocks, and assert the
    decomposed GEMM kernels still equal the SQL joins BIT-EXACTLY —
    including the cross-block drop pairs the hash split scatters
    (exact-duplicate twins land in different blocks with high
    probability at these grains) and a zero-norm member."""
    import math

    from flink_user_behavior_analysis_spark.operators import similarity
    from flink_user_behavior_analysis_spark.operators.similarity import (
        semantic_dedup,
        semdedup_probe,
        semdedup_store_corpus,
    )

    monkeypatch.setattr(similarity, "_CELL_BLOCK_ROWS", 7)
    monkeypatch.setattr(similarity, "_CORPUS_BLOCK_ROWS", 5)

    cents = [[1.0, 0.0]]  # one cell: every vector collides
    rows = [(i, [math.cos(i * 0.11), math.sin(i * 0.11)])
            for i in range(118)]
    rows += [(900, [0.0, 0.0]),            # zero-norm member
             (901, rows[5][1]), (902, rows[5][1])]  # exact twins
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")

    def dd(kernel):
        return sorted(map(tuple, semantic_dedup(
            vecs, cents, 0.995, pair_kernel=kernel).collect()))

    sql_rows, gemm_rows = dd("sql"), dd("gemm")
    assert sql_rows == gemm_rows
    assert len(gemm_rows) == len(rows)
    # the decomposition engaged: 121 members / grain 7 -> 18 blocks
    st = {r[0]: r[3] for r in gemm_rows}
    assert "dropped" in st.values()  # twins + the dense angle sweep

    prefix = "t_semdd_blockdec"
    for t in ("cells", "modelfp", "manifest"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    corpus = vecs.where(F.col("vec_id") % 3 != 0)
    batch = vecs.where(F.col("vec_id") % 3 == 0)
    semdedup_store_corpus(corpus, cents, prefix)

    def probe(kernel):
        return sorted(map(tuple, semdedup_probe(
            spark, prefix, batch, cents, 0.995,
            pair_kernel=kernel).collect()))

    got = probe("gemm")
    assert got == probe("sql")
    assert len(got) == batch.count()
    # corpus-block partial counts summed correctly: the SQL leg's
    # n_corpus_matches is a single-join count, so bit-equality above
    # already proves additivity; spot-check a multi-match row exists
    assert max(r[2] for r in got) >= 2
    for t in ("cells", "modelfp", "manifest"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_semdedup_cosine_rounding_boundary_pinned_adversarially(
        spark):
    """VERDICT r13 #4 + ADVICE r13 (low): the 4 dp cosine contract is
    now pinned AT the rounding boundary by construction, not just on
    sampled data. Dyadic-rational vectors make pair cosines that are
    EXACT ties at the 4th decimal: cos = 1/32 = 0.03125 (scaled
    312.5) rounds to 0.0312 under numpy's half-even but 0.0313 under
    Spark F.round and DuckDB round (both HALF_UP / away-from-zero) —
    the exact divergence class ADVICE r13 named. The GEMM kernels'
    half-up rounding must agree with BOTH SQL engines on the
    divergent tie, the convergent tie (23/32 = 0.71875 -> 0.7188
    under either rule), and the boundary-inclusive >= eps verdict."""
    import duckdb
    import numpy as np

    from flink_user_behavior_analysis_spark.operators.similarity import (
        _np_round_half_up4,
        semantic_dedup,
        semdedup_probe,
        semdedup_store_corpus,
    )

    # engine ground truth on the divergent tie
    assert duckdb.sql(
        "SELECT round(CAST(1.0/32 AS DOUBLE), 4)").fetchone()[0] == 0.0313
    assert spark.sql(
        "SELECT round(CAST(1.0/32 AS DOUBLE), 4)").collect()[0][0] == 0.0313
    assert _np_round_half_up4(np, np.array([1 / 32]))[0] == 0.0313
    assert float(np.round(1 / 32, 4)) == 0.0312  # the bug this closes
    # convergent tie: both rules give 0.7188
    for eng in (duckdb.sql("SELECT round(CAST(23.0/32 AS DOUBLE), 4)")
                .fetchone()[0],
                spark.sql("SELECT round(CAST(23.0/32 AS DOUBLE), 4)")
                .collect()[0][0],
                _np_round_half_up4(np, np.array([23 / 32]))[0]):
        assert eng == 0.7188

    # constructed vectors (all components and norms exact doubles):
    # a = 4 ones           -> |a| = 2
    # b = [1,0,0,0,15,5,2,1] -> |b| = 16, cos(a,b) = 1/32  (div. tie)
    # d = [5,7,8,3,10,3,0,0] -> |d| = 16, cos(a,d) = 23/32 (conv. tie)
    va = [1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0]
    vb = [1.0, 0.0, 0.0, 0.0, 15.0, 5.0, 2.0, 1.0]
    vd = [5.0, 7.0, 8.0, 3.0, 10.0, 3.0, 0.0, 0.0]
    cents = [[1.0] + [0.0] * 7]

    def statuses(vecs_rows, eps, kernel):
        vecs = spark.createDataFrame(
            vecs_rows, "vec_id long, embedding array<double>")
        return {r.vec_id: r.status for r in semantic_dedup(
            vecs, cents, eps, pair_kernel=kernel).collect()}

    # divergent tie at eps == the HALF_UP-rounded value: the pair IS
    # a duplicate under the contract (0.0313 >= 0.0313) — half-even
    # would read 0.0312 and spuriously keep both
    for kernel in ("sql", "gemm"):
        st = statuses([(1, va), (2, vb)], 0.0313, kernel)
        assert sorted(st.values()) == ["dropped", "kept"], kernel
    # one ulp past the boundary: eps just above the rounded value
    # must NOT drop (boundary is inclusive, not fuzzy)
    for kernel in ("sql", "gemm"):
        st = statuses([(1, va), (2, vb)], 0.03135, kernel)
        assert sorted(st.values()) == ["kept", "kept"], kernel
    # convergent tie: dropped at eps = 0.7188 under both kernels
    for kernel in ("sql", "gemm"):
        st = statuses([(1, va), (2, vd)], 0.7188, kernel)
        assert sorted(st.values()) == ["dropped", "kept"], kernel

    # the probe's vs-corpus leg shares the contract: corpus = {a},
    # batch = {b} at eps 0.0313 -> dup_corpus with exactly 1 match
    prefix = "t_semdd_tie"
    for t in ("cells", "modelfp", "manifest"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    corpus = spark.createDataFrame(
        [(1, va)], "vec_id long, embedding array<double>")
    batch = spark.createDataFrame(
        [(2, vb)], "vec_id long, embedding array<double>")
    semdedup_store_corpus(corpus, cents, prefix)
    for kernel in ("sql", "gemm"):
        got = semdedup_probe(spark, prefix, batch, cents, 0.0313,
                             pair_kernel=kernel).collect()
        assert [(r.vec_id, r.status, r.n_corpus_matches)
                for r in got] == [(2, "dup_corpus", 1)], kernel
    # and the DuckDB oracle's verdict on the same pair agrees
    assert duckdb.sql(
        "SELECT round(CAST(1.0/32 AS DOUBLE), 4) >= 0.0313"
    ).fetchone()[0] is True
    for t in ("cells", "modelfp", "manifest"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")

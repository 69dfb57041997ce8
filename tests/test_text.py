"""Winnowing fingerprint properties (ext_text_winnowing).

The oracle-parity test (test_oracle_parity) checks exact value equality with
DuckDB at sf0.01; these tests check the *semantic guarantees* on crafted
inputs: the winnowing containment property, edge-length behavior, and
agreement with the python reference model.
"""

from __future__ import annotations

from boletia_kubernetes_kafka_mongodb_spark.operators.text import (
    WINNOW_K,
    WINNOW_W,
    winnow_fingerprints,
    winnow_fingerprints_py,
)

GUARANTEE_LEN = WINNOW_K + WINNOW_W - 1  # shared substring ⇒ shared fingerprint


def _run(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    out = winnow_fingerprints(df).collect()
    return {r.doc_id: (r.n_grams, list(r.fingerprints)) for r in out}


def test_matches_python_reference(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "short",
        "",
        "aaaaaaaaaaaaaaaaaaaa",
        "Punctuation, CASE and   spaces are normalized AWAY!",
        "exactly8",  # len == K after normalization → one gram
        "exactly8ch",  # K ≤ grams < W
    ]
    got = _run(spark, texts)
    for i, t in enumerate(texts):
        assert got[i] == winnow_fingerprints_py(t), f"doc {i}: {t!r}"


def test_shared_substring_shares_fingerprint(spark):
    # winnowing guarantee: a shared normalized substring of length
    # ≥ K+W−1 yields at least one common selected fingerprint
    shared = "abcdefghijk"[:GUARANTEE_LEN]
    assert len(shared) == GUARANTEE_LEN
    a = f"totally unrelated prefix {shared} and some suffix here"
    b = f"{shared} opens this other document with different content"
    got = _run(spark, [a, b])
    fps_a, fps_b = set(got[0][1]), set(got[1][1])
    assert fps_a & fps_b, "winnowing guarantee violated"


def test_edge_lengths(spark):
    got = _run(spark, ["", "ab", "x" * (WINNOW_K - 1), "y" * WINNOW_K])
    assert got[0] == (0, [])
    assert got[1] == (0, [])
    assert got[2] == (0, [])
    n_grams, fps = got[3]
    assert n_grams == 1 and len(fps) == 1


def test_identical_docs_identical_fingerprints(spark):
    t = "some reasonably long document text that will produce fingerprints"
    got = _run(spark, [t, t])
    assert got[0] == got[1]
    assert got[0][1], "expected non-empty fingerprint set"


def test_repetition_fractions_crafted(spark):
    from boletia_kubernetes_kafka_mongodb_spark.operators.text import (
        ext_text_repetition,
        tokens_col,
    )
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # 4 tokens, 1 distinct; 2 grams, 1 distinct
            (2, "all words here are unique"),    # no repetition
            (3, "ab"),                           # < 3 tokens → no grams
            (4, ""),                             # empty → zero everywhere
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            F.size(tokens_col("text")).alias("n"),
        ).join(
            ext_text_repetition.__wrapped__(docs)
            if hasattr(ext_text_repetition, "__wrapped__")
            else _repetition_on(docs),
            "doc_id",
        ).collect()
    }
    assert rows[1].dup_token_frac == 0.75
    assert rows[1].dup_3gram_frac == 0.5
    assert rows[2].dup_token_frac == 0.0 and rows[2].dup_3gram_frac == 0.0
    assert rows[3].dup_3gram_frac == 0.0
    assert rows[4].n_tokens == 0 and rows[4].dup_token_frac == 0.0


def _repetition_on(docs):
    """Run the repetition projection on an arbitrary documents frame (the
    operator signature reads from sf_dir; tests reuse its column logic)."""
    from unittest import mock

    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    with mock.patch.object(T.tables, "load", return_value=docs):
        return T.ext_text_repetition(None, "ignored")


def test_pii_mask_behaviour(spark):
    from boletia_kubernetes_kafka_mongodb_spark.operators.text import mask_pii
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [
            ("reach me at a.b-c_d@mail.example.org please",),
            ("call +1-555-123-4567 now",),
            ("both x@y.io and +44-201-555-0199 here",),
            ("no pii: at sign alone @ and 555-1234 stay",),
        ],
        "t string",
    )
    out = [r.m for r in df.select(mask_pii(F.col("t")).alias("m")).collect()]
    assert out[0] == "reach me at <EMAIL> please"
    assert out[1] == "call <PHONE> now"
    assert out[2] == "both <EMAIL> and <PHONE> here"
    # partial patterns must NOT be scrubbed (precision matters: over-masking
    # destroys training text)
    assert out[3] == "no pii: at sign alone @ and 555-1234 stay"


def test_multimodal_payload_dedup_groups(spark):
    """Every emitted group has >1 copies, canonical = min id of the group,
    and reclaimed bytes = (copies-1) x payload size."""
    from boletia_kubernetes_kafka_mongodb_spark import tables
    from tests.conftest import SF_CORRECT as SF
    from boletia_kubernetes_kafka_mongodb_spark.operators.multimodal import (
        ext_multimodal_dedup,
    )

    docs = tables.load(spark, SF, "documents").select("doc_id", "text").collect()
    groups = {}
    for r in docs:
        groups.setdefault(r.text, []).append(r.doc_id)
    dup_groups = {t: ids for t, ids in groups.items() if len(ids) > 1}

    rows = ext_multimodal_dedup(spark, SF).collect()
    assert len(rows) == len(dup_groups)
    by_canon = {r.canonical_doc_id: r for r in rows}
    for ids in dup_groups.values():
        r = by_canon[min(ids)]
        assert r.n_copies == len(ids)
        assert r.reclaimed_bytes == (r.n_copies - 1) * r.payload_bytes


def test_quality_buckets_partition_corpus_monotonically(spark):
    """Buckets cover every doc exactly once, ids stay in [1, 10], and the
    score ranges are non-overlapping and increasing with the bucket id."""
    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.operators.text import (
        QUALITY_N_BUCKETS,
        ext_quality_buckets,
    )
    from tests.conftest import SF_CORRECT as SF

    rows = sorted(ext_quality_buckets(spark, SF).collect(), key=lambda r: r.bucket)
    assert all(1 <= r.bucket <= QUALITY_N_BUCKETS for r in rows)
    n_docs = tables.load(spark, SF, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for lo, hi in zip(rows, rows[1:]):
        assert lo.max_logprob <= hi.min_logprob
        assert lo.min_logprob <= lo.max_logprob


def test_entropy_extremes_and_coverage_bounds(spark, tmp_path):
    """All-same tokens → H=0; all-distinct → H=log2(n), TTR=1. Coverage is
    in [0,1] and hits 1.0 for a doc made entirely of top-vocab tokens."""
    import math

    from boletia_kubernetes_kafka_mongodb_spark.operators.text import (
        ext_text_entropy,
        ext_vocab_coverage,
    )

    n = 16
    distinct = " ".join(f"w{i}" for i in range(n))
    rows = [
        (1, "same " * n, "en", "src", 5 * n),
        (2, distinct, "en", "src", len(distinct)),
        # doc 3 reuses doc 1's token → 'same' dominates the vocab; 'rare'
        # appears once so doc 3 is NOT fully covered if K were tiny, but
        # K=100 covers everything in this 3-doc corpus
        (3, "same rare", "en", "src", 9),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    ent = {r.doc_id: r for r in ext_text_entropy(spark, str(tmp_path)).collect()}
    assert ent[1].token_entropy_bits == 0.0
    assert abs(ent[2].token_entropy_bits - round(math.log2(n), 6)) < 1e-9
    assert ent[2].type_token_ratio == 1.0
    assert ent[1].n_distinct == 1 and ent[1].n_tokens == n

    cov = {r.doc_id: r for r in ext_vocab_coverage(spark, str(tmp_path)).collect()}
    assert all(0.0 <= r.coverage <= 1.0 for r in cov.values())
    assert cov[1].coverage == 1.0 and cov[3].coverage == 1.0


def test_heavy_hitters_equals_exact_heavy_set(spark):
    """The MG candidate pass must lose NO true heavy hitter: the operator's
    output equals the exact GROUP BY/HAVING heavy set, counts included —
    on the real corpus AND with results sane (shares sum < 1, all above
    the threshold)."""
    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.operators.text import (
        HH_K,
        ext_heavy_hitters,
        tokens_col,
    )
    from pyspark.sql import functions as F
    from tests.conftest import SF_CORRECT as SF

    got = {r.token: r.n for r in ext_heavy_hitters(spark, SF).collect()}
    toks = (
        tables.load(spark, SF, "documents")
        .select(F.explode(tokens_col("text")).alias("token"))
    )
    n_total = toks.count()
    exact = {
        r.token: r.n
        for r in toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
        if r.n * (HH_K + 1) > n_total
    }
    assert got == exact and got
    assert all(n * (HH_K + 1) > n_total for n in got.values())
    assert sum(got.values()) <= n_total


def test_bigram_logprob_frequent_beats_rare(spark, tmp_path):
    """Docs made of corpus-frequent bigrams outscore docs of one-off
    bigrams; sub-bigram docs carry NULL with 0 bigrams."""
    from boletia_kubernetes_kafka_mongodb_spark.operators.text import (
        ext_text_bigram_logprob,
    )

    rows = [
        (0, "the cat sat", "en", "src", 1),
        (1, "the cat sat", "en", "src", 1),
        (2, "the cat sat", "en", "src", 1),
        (3, "zyx wvu tsr", "en", "src", 1),  # bigrams seen once in corpus
        (4, "solo", "en", "src", 1),
        (5, "", "en", "src", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {r.doc_id: r for r in ext_text_bigram_logprob(spark, str(tmp_path)).collect()}
    assert out[0].mean_logprob == out[1].mean_logprob == out[2].mean_logprob
    assert out[0].mean_logprob > out[3].mean_logprob
    assert out[4].n_bigrams == 0 and out[4].mean_logprob is None
    assert out[5].n_bigrams == 0 and out[5].mean_logprob is None
    assert out[0].n_bigrams == 2


def test_bpe_merges_match_python_reference(spark):
    """Distributed BPE merge learning equals the classic in-memory
    algorithm (Sennrich-style) run over the same word-freq table."""
    from collections import Counter

    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.operators.text import (
        BPE_N_MERGES,
        ext_bpe_merges,
        tokens_col,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    wf = Counter()
    for r in (
        tables.load(spark, sf, "documents")
        .select(F.explode(tokens_col("text")).alias("w"))
        .collect()
    ):
        wf[r.w] += 1

    words = {w: list(w) for w in wf}
    want = []
    for rank in range(1, BPE_N_MERGES + 1):
        pc = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wf[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), c = best
        want.append((rank, a, b, c))
        for w, syms in words.items():
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            words[w] = res

    got = [
        (r.merge_rank, r.left, r.right, r.pair_count)
        for r in ext_bpe_merges(spark, sf).orderBy("merge_rank").collect()
    ]
    assert got == want
    assert len(got) == BPE_N_MERGES


def test_tokenizer_apply_matches_python_encode(spark):
    """Serving the learned merges: distributed per-doc BPE token counts ==
    pure-python encode over the same merge table."""
    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.operators.text import (
        _bpe_learn,
        ext_tokenizer_apply,
        tokens_col,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    merges = [(m[1], m[2]) for m in _bpe_learn(spark, sf)]

    def encode_len(word):
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    docs = (
        tables.load(spark, sf, "documents")
        .select("doc_id", tokens_col("text").alias("toks"))
        .collect()
    )
    want = {r.doc_id: sum(encode_len(w) for w in r.toks) for r in docs}

    out = {r.doc_id: r for r in ext_tokenizer_apply(spark, sf).collect()}
    assert {k: r.n_tokens_bpe for k, r in out.items()} == want
    # merges strictly compress: bpe count ≤ char count, ≥ word count
    for r in out.values():
        assert r.n_tokens_bpe >= r.n_tokens_ws or r.n_tokens_ws == 0


def test_wav_decode_roundtrip_and_malformed():
    """decode_wav parses a canonical PCM container back to its exact
    sample bytes and fails loudly on malformed input; decode_media routes
    'wav' to the real parser and still raises NotImplementedError for the
    codec-stubbed image formats."""
    import pytest

    from boletia_kubernetes_kafka_mongodb_spark.operators import multimodal as M

    pcm = bytes(range(200)) * 3
    container = (
        b"RIFF" + (36 + len(pcm)).to_bytes(4, "little") + b"WAVEfmt "
        + M._WAV_STATIC_FMT + b"data" + len(pcm).to_bytes(4, "little") + pcm
    )
    assert M.decode_wav(container) == pcm
    assert M.decode_media(container, "wav") == pcm
    with pytest.raises(ValueError):
        M.decode_wav(b"JUNK" + container[4:])          # bad magic
    with pytest.raises(ValueError):
        M.decode_wav(container[:30])                   # truncated, no data chunk
    with pytest.raises(ValueError):                    # data size overruns buffer
        M.decode_wav(container[:-10])
    with pytest.raises(NotImplementedError):
        M.decode_media(b"\xff\xd8\xff", "jpeg")


def test_wav_features_run_real_decode_branch(spark):
    """ext_multimodal_features: every doc_id % 4 == 0 row must have gone
    through the REAL RIFF parse (decoder='wav', n_bytes = pcm + 44-byte
    container) and its features must equal the identity-decoded stats of
    the same document — i.e. the parser recovered the exact PCM. The
    Spark-built container must also parse as a genuine WAV via the stdlib
    ``wave`` module (an independent second parser)."""
    import io
    import wave

    from tests.conftest import SF_SMOKE as SF

    from boletia_kubernetes_kafka_mongodb_spark.operators import multimodal as M

    rows = {r.doc_id: r for r in M.ext_multimodal_features(spark, SF).collect()}
    assert any(r.decoder == "wav" for r in rows.values())
    assert any(r.decoder == "png" for r in rows.values())
    plain = {
        r.doc_id: r
        for r in M.extract_features(spark, M.media_table(spark, SF)).collect()
    }
    byte_sums = {
        r.doc_id: sum(bytes(r.payload))
        for r in M.media_table(spark, SF).select("doc_id", "payload").collect()
    }
    for doc_id, r in rows.items():
        p = plain[doc_id]
        if doc_id % 4 == 0:
            assert r.decoder == "wav" and r.media_format == "wav"
            assert r.n_bytes == p.n_bytes + 44
        elif doc_id % 4 == 2:
            # real PNG: closed-form container size (encode_png's law) and
            # pixel stats over the zero-PADDED 16-wide grid
            assert r.decoder == "png" and r.media_format == "png"
            n = p.n_bytes
            gh = max((n + 15) // 16, 1)
            slen = 17 * gh
            assert r.n_bytes == 63 + 5 * ((slen + 65534) // 65535) + slen
            assert r.feat_head_sum == p.feat_head_sum  # pad is tail-only
            assert r.feat_mean_byte == byte_sums[doc_id] // (16 * gh)
            continue
        else:
            assert r.decoder == "identity"
            assert (r.media_format, r.n_bytes) == (p.media_format, p.n_bytes)
        # decoded PCM stats == raw text-byte stats (wav/identity branches)
        assert (r.feat_mean_byte, r.feat_head_sum) == (
            p.feat_mean_byte, p.feat_head_sum
        )
    sample = (
        M.media_table_mixed(spark, SF)
        .where("media_format = 'wav'")
        .select("payload", "n_bytes")
        .first()
    )
    w = wave.open(io.BytesIO(bytes(sample.payload)))
    assert (w.getnchannels(), w.getframerate(), w.getsampwidth()) == (1, 8000, 1)
    assert w.getnframes() == sample.n_bytes - 44


def test_wav_executor_parser_padded_chunk_and_malformed(spark):
    """The executor path reaches ``decode_wav`` through the
    ``extract_features`` closure, shipped by value with the package, so
    this drives that path on crafted frames, not only the module
    function: a container with an extra odd-sized chunk before ``data``
    (exercises the word-alignment walk, which ``media_table_mixed`` never
    produces) must featurize the exact PCM, and a malformed container must
    fail the job loudly."""
    import pytest

    from boletia_kubernetes_kafka_mongodb_spark.operators import multimodal as M

    pcm = b"\x00\x01\x02abcdef"
    # an extra odd-sized chunk before data exercises word-alignment
    extra = b"LIST" + (3).to_bytes(4, "little") + b"abc\x00"
    good = (
        b"RIFF" + (40 + len(extra) + len(pcm)).to_bytes(4, "little")
        + b"WAVEfmt " + M._WAV_STATIC_FMT + extra
        + b"data" + len(pcm).to_bytes(4, "little") + pcm
    )
    assert M.decode_wav(good) == pcm  # the module function, on the driver

    def media_frame(payload):
        return spark.createDataFrame(
            [(1, bytearray(payload), "wav", len(payload))],
            "doc_id long, payload binary, media_format string, n_bytes long",
        )

    rows = M.extract_features(spark, media_frame(good)).collect()
    assert len(rows) == 1 and rows[0].decoder == "wav"
    import numpy as np

    raw = np.frombuffer(pcm, dtype=np.uint8)
    assert rows[0].feat_mean_byte == int(raw.mean())
    assert rows[0].feat_head_sum == int(raw[:16].sum())

    with pytest.raises(Exception, match="RIFF|data chunk"):
        M.extract_features(spark, media_frame(b"JUNK" + good[4:])).collect()
    with pytest.raises(Exception, match="overruns|data chunk"):
        M.extract_features(spark, media_frame(good[:-4])).collect()


def _png_reference_decode(payload: bytes) -> bytes:
    """INDEPENDENT PNG reader (round-5 cross-parse requirement): written
    against the spec with a deliberately different structure from
    ``multimodal.decode_png`` — struct.unpack field reads, a chunk list
    built before interpretation, streaming ``zlib.decompressobj``, and
    numpy-cumsum Sub unfiltering — so a shared bug in the production
    parser cannot hide."""
    import struct
    import zlib

    import numpy as np

    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    chunks = []
    off = 8
    while off < len(payload):
        (ln,) = struct.unpack(">I", payload[off : off + 4])
        ctype = payload[off + 4 : off + 8]
        body = payload[off + 8 : off + 8 + ln]
        (crc,) = struct.unpack(">I", payload[off + 8 + ln : off + 12 + ln])
        assert zlib.crc32(ctype + body) == crc, f"crc {ctype!r}"
        chunks.append((ctype, body))
        off += 12 + ln
        if ctype == b"IEND":
            break
    assert chunks[0][0] == b"IHDR" and chunks[-1][0] == b"IEND"
    w, h, depth, ctype_ = struct.unpack(">IIBB", chunks[0][1][:10])
    assert (depth, ctype_) == (8, 0)
    d = zlib.decompressobj()
    raw = b"".join(d.decompress(body) for t, body in chunks if t == b"IDAT")
    raw += d.flush()
    assert len(raw) == h * (w + 1)
    mat = np.frombuffer(raw, dtype=np.uint8).reshape(h, w + 1)
    out = np.empty((h, w), dtype=np.int64)
    for r in range(h):
        f, row = int(mat[r, 0]), mat[r, 1:].astype(np.int64)
        if f == 0:
            out[r] = row
        elif f == 1:
            out[r] = np.cumsum(row) % 256
        else:
            raise AssertionError(f"filter {f}")
    return out.astype(np.uint8).tobytes()


def test_png_encode_decode_roundtrip_and_size_law():
    """decode_png(encode_png(x)) recovers x + tail pad at every geometry
    class (empty, sub-row, exact rows, >64K scanline stream → multi-block
    zlib), and the container size follows the closed-form law the SQL
    oracle states."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import multimodal as M

    for n in (0, 1, 15, 16, 17, 31, 32, 255, 553, 70_000):
        data = bytes((i * 37 + 11) % 256 for i in range(n))
        png = M.encode_png(data)
        gh = max((n + 15) // 16, 1)
        slen = 17 * gh
        assert len(png) == 63 + 5 * ((slen + 65534) // 65535) + slen, n
        decoded = M.decode_png(png)
        assert len(decoded) == 16 * gh
        assert decoded[:n] == data
        assert set(decoded[n:]) <= {0}
        # independent reference reader agrees byte-for-byte
        assert _png_reference_decode(png) == decoded


def test_png_spark_payloads_cross_parse_with_independent_reader(spark):
    """Every Spark-built PNG payload (media_table_mixed's Arrow synth
    stage) parses identically under the production decoder and the
    independent reference reader, and its pixels equal the document's
    utf-8 bytes + pad."""
    from tests.conftest import SF_SMOKE as SF

    from boletia_kubernetes_kafka_mongodb_spark.operators import multimodal as M

    rows = (
        M.media_table_mixed(spark, SF)
        .where("doc_id % 4 = 2")
        .select("doc_id", "payload", "n_bytes")
        .collect()
    )
    texts = {
        r.doc_id: bytes(r.payload)
        for r in M.media_table(spark, SF).where("doc_id % 4 = 2").collect()
    }
    assert rows
    for r in rows:
        png = bytes(r.payload)
        assert r.n_bytes == len(png)  # metadata measures the REAL container
        a = M.decode_png(png)
        assert _png_reference_decode(png) == a
        t = texts[r.doc_id]
        assert a[: len(t)] == t and set(a[len(t) :]) <= {0}


def test_png_malformed_inputs():
    import zlib

    import pytest

    from boletia_kubernetes_kafka_mongodb_spark.operators import multimodal as M

    png = bytearray(M.encode_png(b"hello png world, enough bytes"))
    assert M.decode_media(bytes(png), "png") == M.decode_png(bytes(png))
    with pytest.raises(ValueError, match="signature"):
        M.decode_png(b"JUNK" + bytes(png[4:]))
    with pytest.raises(ValueError, match="missing|overruns|CRC"):
        M.decode_png(bytes(png[:-15]))  # IEND gone (cut lands in IDAT CRC)
    with pytest.raises(ValueError, match="missing"):
        M.decode_png(bytes(png[:-12]))  # IEND cleanly removed
    bad = png.copy()
    bad[40] ^= 0xFF  # inside IDAT body → CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        M.decode_png(bytes(bad))
    # unsupported filter type: rebuild IDAT with filter 2 (Up) scanlines
    sl = b"\x02" + bytes(16)
    idat = M._zlib_store(sl)
    evil = (
        M.PNG_SIG
        + M._png_chunk(b"IHDR", (16).to_bytes(4, "big") + (1).to_bytes(4, "big") + bytes([8, 0, 0, 0, 0]))
        + M._png_chunk(b"IDAT", idat)
        + M._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="filter"):
        M.decode_png(evil)
    # non-grayscale rejected loudly
    rgb = (
        M.PNG_SIG
        + M._png_chunk(b"IHDR", (1).to_bytes(4, "big") + (1).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0]))
        + M._png_chunk(b"IDAT", M._zlib_store(b"\x00\x01\x02\x03"))
        + M._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="grayscale"):
        M.decode_png(rgb)
    # identity formats still stubbed
    with pytest.raises(NotImplementedError):
        M.decode_media(b"\xff\xd8\xff", "jpeg")


def test_png_executor_decoder_twin_and_malformed(spark):
    """Drive ``decode_png`` through the ``extract_features`` executor
    closure on crafted frames: a filter-0 PNG (a branch media_table_mixed
    never produces) must featurize its exact pixels, and a CRC-corrupted
    container must fail the job loudly."""
    import zlib

    import numpy as np
    import pytest

    from boletia_kubernetes_kafka_mongodb_spark.operators import multimodal as M

    pixels = bytes((7 * i + 3) % 256 for i in range(32))
    sl = b"".join(b"\x00" + pixels[r * 16 : (r + 1) * 16] for r in range(2))
    png = (
        M.PNG_SIG
        + M._png_chunk(b"IHDR", (16).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([8, 0, 0, 0, 0]))
        + M._png_chunk(b"IDAT", M._zlib_store(sl))
        + M._png_chunk(b"IEND", b"")
    )
    assert M.decode_png(png) == pixels  # the module function, on the driver

    def media_frame(payload):
        return spark.createDataFrame(
            [(2, bytearray(payload), "png", len(payload))],
            "doc_id long, payload binary, media_format string, n_bytes long",
        )

    rows = M.extract_features(spark, media_frame(png)).collect()
    raw = np.frombuffer(pixels, dtype=np.uint8)
    assert rows[0].decoder == "png"
    assert rows[0].feat_mean_byte == int(raw.mean())
    assert rows[0].feat_head_sum == int(raw[:16].sum())

    bad = bytearray(png)
    bad[40] ^= 0xFF
    with pytest.raises(Exception, match="CRC"):
        M.extract_features(spark, media_frame(bytes(bad))).collect()
    # a 'png'-labeled payload WITHOUT the signature takes the identity
    # branch (the fixture's fake-image rows) — never a silent misparse
    rows = M.extract_features(spark, media_frame(b"not a png at all")).collect()
    assert rows[0].decoder == "identity"


def test_resize_parses_real_ihdr_dims(spark):
    """ext_multimodal_resize: png rows take (width, height) from their
    CRC-validated IHDR — 16 × ceil(n/16) by the encoder's law — and are
    marked dims_source='png-ihdr'; all other rows keep catalog metadata.
    A corrupt IHDR fails the stage loudly."""
    import pytest

    from tests.conftest import SF_SMOKE as SF

    from boletia_kubernetes_kafka_mongodb_spark.operators import multimodal as M

    n_chars = {
        r.doc_id: r.n_bytes
        for r in M.media_table(spark, SF).select("doc_id", "n_bytes").collect()
    }
    rows = M.ext_multimodal_resize(spark, SF).collect()
    assert any(r.dims_source == "png-ihdr" for r in rows)
    for r in rows:
        if r.doc_id % 4 == 2:
            gh = max((n_chars[r.doc_id] + 15) // 16, 1)
            assert (r.dims_source, r.width, r.height) == ("png-ihdr", 16, gh)
        else:
            assert r.dims_source == "meta"
            assert (r.width, r.height) == (
                r.doc_id % 640 + 16, r.doc_id * 7 % 480 + 16
            )

    png = bytearray(M.encode_png(b"x" * 40))
    png[20] ^= 0xFF  # IHDR body byte → CRC mismatch
    frame = spark.createDataFrame(
        [(2, bytearray(png), "png", len(png), 99, 99)],
        "doc_id long, payload binary, media_format string, n_bytes long,"
        " width long, height long",
    )
    with pytest.raises(Exception, match="IHDR"):
        M.resize_media(frame).collect()


def test_resize_format_gate_ignores_lookalike_payloads(spark):
    """A payload that merely STARTS with the PNG signature but whose row
    is not declared ``media_format='png'`` must keep its metadata dims —
    the header parse is gated on BOTH the declared format and the
    signature (round-5 ADVICE: arbitrary binary payloads can collide with
    the 8-byte signature; dims must not be hijacked, and a signature
    collision on garbage bytes must not raise a corrupt-IHDR error)."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import multimodal as M

    lookalike = M.PNG_SIG + b"\x00" * 40  # sig prefix, garbage after
    real = M.encode_png(b"y" * 40)
    frame = spark.createDataFrame(
        [
            (1, bytearray(lookalike), "webp", len(lookalike), 77, 55),
            (2, bytearray(real), "png", len(real), 99, 99),
        ],
        "doc_id long, payload binary, media_format string, n_bytes long,"
        " width long, height long",
    )
    rows = {r.doc_id: r for r in M.resize_media(frame).collect()}
    assert (rows[1].dims_source, rows[1].width, rows[1].height) == (
        "meta", 77, 55
    )
    assert (rows[2].dims_source, rows[2].width, rows[2].height) == (
        "png-ihdr", 16, 3  # 40 bytes → ceil(40/16) = 3 grid rows
    )


def test_readability_known_values(spark):
    """Hand-computed Flesch/FK on a crafted doc + NULL guard on empty."""
    from pyspark.sql import Row

    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T
    import boletia_kubernetes_kafka_mongodb_spark.tables as tables

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="The cat sat on the mat. It was happy!"),
            Row(doc_id=2, text="!!! ... ???"),  # zero words, three sentences
        ]
    )
    orig = tables.load
    try:
        tables.load = lambda s, d, n: docs
        out = {r.doc_id: r for r in T.ext_text_readability(spark, "ignored").collect()}
    finally:
        tables.load = orig
    r = out[1]
    # tokens: the cat sat on the mat it was happy = 9 words, 2 sentences
    # vowel groups: e,a,a,o,e,a,i,a,a,y -> the|cat|sat|on|the|mat -> count:
    # "the cat sat on the mat. it was happy!" lower vowel-group runs:
    # e,a,a,o,e,a,i,a,a,y = 10
    assert (r.n_words, r.n_sentences, r.n_syllables) == (9, 2, 10)
    w_s, y_w = 9 / 2, 10 / 9
    assert abs(r.flesch_ease - round(206.835 - 1.015 * w_s - 84.6 * y_w, 6)) < 1e-9
    assert abs(r.fk_grade - round(0.39 * w_s + 11.8 * y_w - 15.59, 6)) < 1e-9
    r2 = out[2]
    assert r2.n_words == 0 and r2.flesch_ease is None and r2.fk_grade is None
    assert r2.n_sentences == 3  # three punctuation runs


def test_readability_oracle_parity(spark, duck):
    import __spark_entry__ as entrymod
    from tests.conftest import compare_with_oracle

    compare_with_oracle(
        spark,
        duck,
        entrymod.queries()["ext_text_readability"],
        entrymod.oracle_sql()["ext_text_readability"],
    )


def test_quality_classifier_learns_separable_corpus(spark):
    """Learnability gate: on a corpus where the label IS expressed in the
    text (en docs carry en stopwords, others carry none), 8 GD steps must
    reach ≥ 0.9 accuracy — the fixture's lang column is text-independent
    (see the operator docstring), so this is where learning is proven."""
    from pyspark.sql import Row

    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    rows = []
    filler = "zork blarg quux fnord glorp wibble"
    for i in range(120):
        if i % 2 == 0:
            rows.append(Row(doc_id=i, lang="en",
                            text=f"the cat of the house and {filler} is in for a to"))
        else:
            rows.append(Row(doc_id=i, lang="de",
                            text=f"{filler} {filler} kratzen haus besen"))
    docs = spark.createDataFrame(rows)
    out = T.quality_classifier_fit_apply(spark, docs).collect()
    acc = sum(1 for r in out if r.pred == (r.label == 1)) / len(out)
    assert acc >= 0.9, acc
    # scores must actually separate, not just threshold-luck
    mean_pos = sum(r.score for r in out if r.label == 1) / 60
    mean_neg = sum(r.score for r in out if r.label == 0) / 60
    assert mean_pos - mean_neg > 0.1, (mean_pos, mean_neg)


def test_quality_classifier_deterministic_and_parity(spark, duck):
    """Two fits are bit-identical (no RNG, no float accumulation), and the
    DuckDB recursive-CTE replay of the full 8-step fit hash-matches."""
    import __spark_entry__ as entrymod
    from tests.conftest import compare_with_oracle

    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    a = sorted(tuple(r) for r in T.ext_quality_classifier(spark, "/root/testdata/sf0.01").collect())
    b = sorted(tuple(r) for r in T.ext_quality_classifier(spark, "/root/testdata/sf0.01").collect())
    assert a == b
    compare_with_oracle(
        spark,
        duck,
        entrymod.queries()["ext_quality_classifier"],
        entrymod.oracle_sql()["ext_quality_classifier"],
    )


def test_quality_calibration_invariants_and_parity(spark, duck):
    """Bin means live inside their bin's bounds, counts sum to the corpus,
    frac_positive ∈ [0,1], gap algebra holds; plus the composed-oracle
    driver comparison (fit CTEs shared with the classifier oracle)."""
    import __spark_entry__ as entrymod
    from tests.conftest import compare_with_oracle

    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    rows = T.ext_quality_calibration(spark, "/root/testdata/sf0.01").collect()
    assert sum(r.n for r in rows) == 500
    for r in rows:
        lo, hi = r.bin / T.QC_CAL_BINS, (r.bin + 1) / T.QC_CAL_BINS
        # rounded means can graze the bin edge by <= 5e-7
        assert lo - 1e-6 <= r.mean_score <= hi + 1e-6, (r.bin, r.mean_score)
        assert 0.0 <= r.frac_positive <= 1.0
        assert abs(r.cal_gap - round(r.mean_score - r.frac_positive, 6)) < 1e-9
    compare_with_oracle(
        spark, duck,
        entrymod.queries()["ext_quality_calibration"],
        entrymod.oracle_sql()["ext_quality_calibration"],
    )


def test_quality_threshold_crafted_curve(spark):
    """Operating-point selection on a hand-computed curve: for each
    target the chosen threshold is the MOST PERMISSIVE whose cumulative
    precision meets it, realized numbers match, and an unattainable
    target surfaces as a NULL row (never disappears)."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    # cumulative from the top: 0.9→(2,2,prec 1.0) 0.8→(4,3,0.75)
    # 0.6→(5,3,0.6) 0.2→(9,4,0.444…)
    rows = (
        [(i, 1, 0.9) for i in range(2)]
        + [(2, 1, 0.8), (3, 0, 0.8)]
        + [(4, 0, 0.6)]
        + [(5, 1, 0.2), (6, 0, 0.2), (7, 0, 0.2), (8, 0, 0.2)]
    )
    scored = spark.createDataFrame(rows, "doc_id long, label long, score double")
    out = {r.target: r for r in T.quality_threshold_select(spark, scored).collect()}
    assert set(out) == {0.5, 0.7, 0.9}
    assert out[0.5].threshold == 0.6 and out[0.5].kept_n == 5
    assert out[0.5].realized_precision == 0.6
    assert out[0.5].kept_fraction == round(5 / 9, 6)
    assert out[0.7].threshold == 0.8 and out[0.7].kept_n == 4
    assert out[0.7].realized_precision == 0.75
    assert out[0.9].threshold == 0.9 and out[0.9].kept_n == 2
    assert out[0.9].realized_precision == 1.0

    # all-negative corpus: no threshold attains any target — three NULL rows
    neg = spark.createDataFrame(
        [(i, 0, 0.5) for i in range(4)], "doc_id long, label long, score double"
    )
    nrows = T.quality_threshold_select(spark, neg).collect()
    assert len(nrows) == 3
    assert all(r.threshold is None and r.kept_n is None for r in nrows)


# ---------------------------------------------------------------------------
# round 8: PSI drift monitor
# ---------------------------------------------------------------------------


def test_psi_ln_series_accuracy_and_cross_engine(spark, duck):
    """The deterministic ln (16th-root reduction + 16-term artanh Horner)
    is within 2e-5 of math.log over the whole smoothed-ratio envelope
    [1e-12, 1e12], and BIT-IDENTICAL between Spark and DuckDB on every
    grid point (the property that lets PSI carry a value-hash oracle)."""
    import math

    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    from pyspark.sql import functions as F

    lnr, z = T._ln_det_expr("r_")
    rs = [10.0 ** e for e in range(-12, 13)] + [0.3, 0.5, 0.9, 1.1, 2.0, 7.0]
    sdf = (
        spark.createDataFrame([(r,) for r in rs], "r_ double")
        .withColumn("z_", F.expr(z))
        .withColumn("z2_", F.col("z_") * F.col("z_"))
        .withColumn("lnr", F.expr(lnr))
    )
    sp = {r.r_: r.lnr for r in sdf.collect()}
    assert max(abs(v - math.log(k)) for k, v in sp.items()) < 2e-5
    dd = duck.execute(
        f"SELECT r_, {z} AS z_, z_ * z_ AS z2_, {lnr} AS lnr "
        f"FROM (SELECT UNNEST({rs}) AS r_)"
    ).fetchall()
    assert all(sp[row[0]] == row[3] for row in dd)


def test_psi_core_discriminates_and_matches_python(spark):
    """quality_psi_from_binned on crafted bins: a group drawn FROM the
    baseline distribution reads ≈ 0 (undrifted), a group concentrated in
    a rare bin alerts; and every psi equals a python replay of the
    smoothed formula (series tolerance 1e-4)."""
    import math

    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    B = T.QC_CAL_BINS
    # baseline: 1000 fit rows, 60% in bin 0, 30% in bin 1, 10% in bin 9
    fit_counts = {0: 600, 1: 300, 9: 100}
    fit_bin = spark.createDataFrame(
        [(b, n) for b, n in fit_counts.items()], "bin int, a long"
    )
    rows = []
    for b, n in fit_counts.items():  # 'same': scaled copy of the baseline
        rows += [("same", b)] * (n // 2)
    rows += [("shifted", 5)] * 400 + [("shifted", 0)] * 100
    binned = spark.createDataFrame(rows, "grp string, bin int")
    got = {
        r.grp: r
        for r in T.quality_psi_from_binned(binned, fit_bin, 1000).collect()
    }
    assert not got["same"].drifted and got["same"].psi < 0.05
    assert got["shifted"].drifted and got["shifted"].psi > 1.0

    def psi_ref(counts, nb):
        s = 0.0
        for b in range(B):
            p = (counts.get(b, 0) + 1) / (nb + B)
            q = (fit_counts.get(b, 0) + 1) / (1000 + B)
            s += (p - q) * math.log(p / q)
        return s

    assert abs(got["same"].psi - psi_ref({b: n // 2 for b, n in fit_counts.items()}, 500)) < 1e-4
    assert abs(got["shifted"].psi - psi_ref({5: 400, 0: 100}, 500)) < 1e-4


def test_psi_low_sample_gate(spark):
    """Round-8 verdict #4: the small-batch smoothing bias is a COLUMN now,
    not a docstring caveat. A 25-row slice drawn EXACTLY from the baseline
    distribution still reads a large PSI (the documented empty-bin
    smoothing effect) — but it carries low_sample=true, while a 500-row
    slice of the same shape reads near-zero and gates clean. Alerting
    composes `drifted AND NOT low_sample`."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    fit_counts = {0: 600, 1: 300, 9: 100}
    fit_bin = spark.createDataFrame(
        [(b, n) for b, n in fit_counts.items()], "bin int, a long"
    )
    rows = []
    for b, n in fit_counts.items():
        rows += [("big", b)] * (n // 2)        # 500 rows, baseline shape
    rows += [("tiny", 0)] * 15 + [("tiny", 1)] * 7 + [("tiny", 9)] * 3  # 25 rows, same shape
    binned = spark.createDataFrame(rows, "grp string, bin int")
    got = {
        r.grp: r
        for r in T.quality_psi_from_binned(binned, fit_bin, 1000).collect()
    }
    assert got["tiny"].n == 25 and got["tiny"].low_sample
    assert got["big"].n == 500 and not got["big"].low_sample
    # identical distribution, yet the tiny slice reads way above the big
    # one purely from smoothing — exactly why the gate must be a column
    assert got["tiny"].psi > 10 * max(got["big"].psi, 1e-6)
    assert got["big"].psi < 0.05


def test_quality_psi_operator_and_parity(spark, duck):
    """ext_quality_psi: one row per source, n sums to the corpus, psi ≥ 0
    … wait — PSI of a subset CAN be 0 only if identical; assert psi is
    non-negative-ish (> -1e-6, quantization can dip a hair) and finite;
    plus the composed-oracle driver comparison."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMOKE, compare_with_oracle

    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T
    from boletia_kubernetes_kafka_mongodb_spark import tables

    rows = T.ext_quality_psi(spark, SF_SMOKE).collect()
    n_docs = tables.load(spark, SF_SMOKE, "documents").count()
    assert sum(r.n for r in rows) == n_docs and len(rows) > 1
    for r in rows:
        assert r.psi is not None and r.psi > -1e-6
        assert r.drifted == (r.psi > T.QC_PSI_ALERT)
        assert r.low_sample == (r.n < T.QC_PSI_MIN_N)
    compare_with_oracle(
        spark, duck,
        entrymod.queries()["ext_quality_psi"],
        entrymod.oracle_sql()["ext_quality_psi"],
    )


# ---------------------------------------------------------------------------
# staged for r09 registration: ext_freq_countmin / ext_tokenizer_fertility
# (window rule: the r08 driver window is fully allocated to the rotation
# queue — these two ship with full oracles + tests now and take their
# queries()/oracle_sql() slots in the r09 rotation commit)
# ---------------------------------------------------------------------------


def test_freq_countmin_forced_collisions_python_reference(spark):
    """Tiny width forces collisions; the Spark sketch must equal a pure
    python replay of the identical construction (same md5 bucket hashes),
    and every estimate must overestimate (est ≥ true — the deterministic
    CMS property)."""
    import hashlib

    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    toks = []
    for i in range(40):
        toks += ["alpha", "alpha", f"tail{i % 7}"]
    toks += ["beta"] * 9
    tdf = spark.createDataFrame([(t,) for t in toks], "token string").repartition(5)
    d, w = 2, 4
    got = {r.token: (r.n_exact, r.n_est, r.overshoot)
           for r in T.cms_report(tdf, d, w, 100).collect()}

    exact: dict = {}
    for t in toks:
        exact[t] = exact.get(t, 0) + 1
    cells: dict = {}
    for t, c in exact.items():
        for j in range(d):
            b = int(hashlib.md5(f"{j}:{t}".encode()).hexdigest()[:8], 16) % w
            cells[(j, b)] = cells.get((j, b), 0) + c
    want = {}
    for t, c in exact.items():
        est = min(
            cells[(j, int(hashlib.md5(f"{j}:{t}".encode()).hexdigest()[:8], 16) % w)]
            for j in range(d)
        )
        want[t] = (c, est, est - c)
    assert got == want
    assert all(est >= true for true, est, _ in got.values())
    # the tiny width actually collided (otherwise the test is vacuous)
    assert any(o > 0 for _, _, o in got.values())


def test_freq_countmin_probe_set_bounded_and_deterministic(spark):
    """topn caps the audited rows with a total (count desc, token asc)
    order — two runs return the identical probe set."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    a = sorted(tuple(r) for r in T.ext_freq_countmin(spark, "/root/testdata/sf0.001").collect())
    b = sorted(tuple(r) for r in T.ext_freq_countmin(spark, "/root/testdata/sf0.001").collect())
    assert a == b
    assert 0 < len(a) <= T.CMS_TOPN
    assert all(r[3] >= 0 for r in a)  # overshoot ≥ 0 on every audited key


def test_freq_countmin_oracle_parity(spark, duck):
    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T
    from tests.conftest import compare_with_oracle

    compare_with_oracle(
        spark, duck, T.ext_freq_countmin, T.ext_freq_countmin_oracle()
    )


def test_tokenizer_fertility_invariants_and_apply_consistency(spark):
    """fertility ∈ [1, chars/word]; chars_per_token ≥ 1; per-lang sums agree
    exactly with the serve operator's per-doc counts (same merges, same
    kernel)."""
    from pyspark.sql import functions as F

    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    sf = "/root/testdata/sf0.001"
    out = {r.lang: r for r in T.ext_tokenizer_fertility(spark, sf).collect()}
    assert out
    for r in out.values():
        assert r.n_words > 0 and r.n_tokens_bpe >= r.n_words
        assert r.n_chars >= r.n_tokens_bpe
        assert 1.0 <= r.fertility <= r.n_chars / r.n_words
        assert r.chars_per_token >= 1.0

    docs = tables.load(spark, sf, "documents")
    per_doc = T.ext_tokenizer_apply(spark, sf).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    want = {
        r.lang: (r.nw, r.nb)
        for r in per_doc.groupBy("lang")
        .agg(
            F.sum("n_tokens_ws").cast("long").alias("nw"),
            F.sum("n_tokens_bpe").cast("long").alias("nb"),
        )
        .collect()
        if r.nw > 0
    }
    got = {lang: (r.n_words, r.n_tokens_bpe) for lang, r in out.items()}
    assert got == want


def test_tokenizer_fertility_oracle_parity(spark, duck):
    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T
    from tests.conftest import compare_with_oracle

    compare_with_oracle(
        spark, duck, T.ext_tokenizer_fertility, T.ext_tokenizer_fertility_oracle()
    )


# ---------------------------------------------------------------------------
# staged for r10 registration: ext_tokenizer_oov (round-8 verdict #5 — the
# held-out OOV/coverage audit; the r09 driver window is fully allocated to
# the rotation + the two ids changed this round, so registration defers to
# the r10 rotation commit per the standing staged-operator discipline)
# ---------------------------------------------------------------------------


def test_tokenizer_oov_crafted_corpus(spark, tmp_path):
    """Non-degenerate OOV on a crafted corpus (the sf fixtures share one
    vocabulary across splits, so their rates read 0): the held-out slice
    contains a known word, a NEW word over the training alphabet, and a
    word with characters outside the training alphabet. Every emitted
    number equals an independent pure-python replay (tokenize → md5 split
    → Sennrich BPE fit on train → encode held words)."""
    import hashlib
    import re
    from collections import Counter

    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100

    train_ids = [i for i in range(200) if bucket(i) < 90][:6]
    held_ids = [i for i in range(200) if bucket(i) >= 90][:2]
    # training alphabet: {a..f}; held text adds types 'fade' (new word,
    # known chars) and 'zap' (chars z/p outside the training alphabet)
    train_text = "fab cafe bed dad fab feed"
    held_text = "fab bed fade zap"
    rows = [(i, train_text, "en", "crafted", len(train_text)) for i in train_ids]
    rows += [(i, held_text, "en", "crafted", len(held_text)) for i in held_ids]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path / "oovsf")
    docs.coalesce(1).write.parquet(sf_dir + "/documents.parquet")

    got = {r.lang: r for r in T.ext_tokenizer_oov(spark, sf_dir).collect()}
    assert set(got) == {"en"}

    # --- python replay ---
    tok = lambda s: re.findall("[a-z0-9]+", s.lower())
    train_words_occ = []
    for i in train_ids:
        train_words_occ += tok(train_text)
    wf = Counter(train_words_occ)
    words = {w: list(w) for w in wf}
    merges = []
    for _ in range(T.BPE_N_MERGES):
        pc = Counter()
        for w, syms in words.items():
            for j in range(len(syms) - 1):
                pc[(syms[j], syms[j + 1])] += wf[w]
        if not pc:
            break
        (a, b), _c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b))
        for w, syms in words.items():
            res, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                    res.append(a + b)
                    j += 2
                else:
                    res.append(syms[j])
                    j += 1
            words[w] = res

    def encode_len(word):
        syms = list(word)
        for a, b in merges:
            res, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                    res.append(a + b)
                    j += 2
                else:
                    res.append(syms[j])
                    j += 1
            syms = res
        return len(syms)

    tr_types = set(wf)
    tr_alpha = {c for w in tr_types for c in w}
    held_occ = []
    for i in held_ids:
        held_occ += tok(held_text)
    n_words = len(held_occ)
    n_new = sum(1 for w in held_occ if w not in tr_types)
    n_chars = sum(len(w) for w in held_occ)
    n_oov = sum(sum(1 for c in w if c not in tr_alpha) for w in held_occ)
    n_bpe = sum(encode_len(w) for w in held_occ)

    r = got["en"]
    assert (r.n_words, r.n_new_words, r.n_chars, r.n_oov_chars, r.n_tokens_bpe) == (
        n_words, n_new, n_chars, n_oov, n_bpe
    )
    assert r.new_word_rate == round(n_new / n_words, 6) and r.new_word_rate > 0
    assert r.oov_char_rate == round(n_oov / n_chars, 6) and r.oov_char_rate > 0
    assert r.fertility_heldout == round(n_bpe / n_words, 6)


def test_tokenizer_oov_invariants(spark):
    """sf0.001: rates ∈ [0,1], counts nest (new ≤ words, oov ≤ chars),
    every word encodes to ≥ 1 subword, and the audited slice is exactly
    the 'test' hash split's token mass."""
    from pyspark.sql import functions as F

    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T
    from boletia_kubernetes_kafka_mongodb_spark.operators.sampling import (
        split_assignment,
    )

    sf = "/root/testdata/sf0.001"
    rows = T.ext_tokenizer_oov(spark, sf).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_new_words <= r.n_words
        assert 0 <= r.n_oov_chars <= r.n_chars
        assert r.n_tokens_bpe >= r.n_words
        assert 0.0 <= r.new_word_rate <= 1.0
        assert 0.0 <= r.oov_char_rate <= 1.0
        assert r.fertility_heldout >= 1.0

    docs = tables.load(spark, sf, "documents")
    want = {
        r.lang: r.nw
        for r in docs.where(split_assignment("doc_id") == "test")
        .select("lang", F.explode(T.tokens_col("text")).alias("w"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("nw"))
        .collect()
    }
    assert {r.lang: r.n_words for r in rows} == want


def test_tokenizer_oov_oracle_parity(spark, duck):
    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T
    from tests.conftest import compare_with_oracle

    compare_with_oracle(
        spark, duck, T.ext_tokenizer_oov, T.ext_tokenizer_oov_oracle()
    )


def test_bpe_vocab_sweep_monotone_and_consistent(spark):
    """The ablation curve: one row per merge-count point; subword totals are
    non-increasing in k (every extra merge can only compress), the full-k
    point equals the serve operator's corpus total, and fertility ≥ 1."""
    from pyspark.sql import functions as F

    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        T.ext_bpe_vocab_sweep(spark, sf).collect(), key=lambda r: r.n_merges
    )
    assert [r.n_merges for r in rows] == [
        k for k in T.BPE_SWEEP_KS if k <= T.BPE_N_MERGES
    ]
    for a, b in zip(rows, rows[1:]):
        assert a.n_tokens_bpe >= b.n_tokens_bpe
        assert a.n_words == b.n_words
    for r in rows:
        assert r.fertility >= 1.0 and r.chars_per_token >= 1.0

    full = rows[-1]
    serve_total = (
        T.ext_tokenizer_apply(spark, sf)
        .agg(F.sum("n_tokens_bpe").cast("long").alias("nb"))
        .collect()[0]
        .nb
    )
    assert full.n_merges == T.BPE_N_MERGES
    assert full.n_tokens_bpe == serve_total


def test_bpe_vocab_sweep_oracle_parity(spark, duck):
    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T
    from tests.conftest import compare_with_oracle

    compare_with_oracle(
        spark, duck, T.ext_bpe_vocab_sweep, T.ext_bpe_vocab_sweep_oracle()
    )


def test_bpe_vocab_sweep_zero_merge_corpus_empty_on_both_engines(
    spark, tmp_path
):
    """Round-9 ADVICE: a corpus where no symbol pair repeats (every token
    one char) learns ZERO merges — the sweep must return an empty frame
    with the output schema, matching the oracle's empty result, instead
    of raising on rows[0]."""
    import duckdb

    from boletia_kubernetes_kafka_mongodb_spark.operators import text as T

    docs = spark.createDataFrame(
        [(i, "a b c d e", "en", "crafted", 9) for i in range(4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = str(tmp_path / "degensf")
    docs.coalesce(1).write.parquet(sf_dir + "/documents.parquet")

    out = T.ext_bpe_vocab_sweep(spark, sf_dir)
    assert out.count() == 0
    assert out.columns == [
        "n_merges",
        "n_words",
        "n_tokens_bpe",
        "fertility",
        "chars_per_token",
    ]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet/*.parquet'"
    )
    assert con.execute(T.ext_bpe_vocab_sweep_oracle()).fetchall() == []
    con.close()


def test_mg_summaries_contract_and_fold_equivalence(spark):
    """The vectorized pass-1 summary (optimization round 13) keeps the
    Misra-Gries summary contract on a crafted partition: candidates
    include every token with frequency > n_p/(k+1), every estimate is an
    underestimate within n_p/(k+1), the total row is exact — and the
    summary equals the mg_merge fold of the per-batch exact counts."""
    from boletia_kubernetes_kafka_mongodb_spark.operators.text import (
        _mg_summaries,
        mg_merge,
    )
    from collections import Counter

    k = 4
    toks = (["hot"] * 50 + ["warm"] * 20 + [f"t{i}" for i in range(30)]) * 2
    df = spark.createDataFrame([(t,) for t in toks], "token string").coalesce(1)
    rows = _mg_summaries(df, k).collect()
    total = [r.cnt for r in rows if r.is_total]
    assert total == [len(toks)]
    est = {r.token: r.cnt for r in rows if not r.is_total}
    true = Counter(toks)
    bound = len(toks) / (k + 1)
    for t, c in true.items():
        if c > bound:
            assert t in est, t
    for t, c in est.items():
        assert c <= true[t]
        assert true[t] - c <= bound
    # single arrow batch here, so the summary is exactly one
    # mg_merge({}, exact_counts, k)
    assert est == {t: c for t, c in mg_merge({}, dict(true), k).items()}

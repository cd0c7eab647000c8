"""Tests for the training-data pipeline extras (dedup, similarity,
text stats, multimodal plumbing)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from indexer_spark.extras import dedup, multimodal, simsearch, textstats


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),       # exact dup of 0
        (2, "the quick brown fox jumped over the lazy dog"),      # near dup
        (3, "completely different content about spark engines"),
        (4, "spark engines process completely different content"),  # same tokens as 3
        (5, "unrelated short text"),
        (6, ""),
        (7, "zebra xylophone quantum jazz"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs_df):
    out = dedup.exact_duplicates(docs_df).collect()
    assert len(out) == 1
    assert out[0]["n_dups"] == 2 and out[0]["keeper"] == 0


def test_minhash_near_duplicates(docs_df):
    out = dedup.minhash_near_duplicates(
        docs_df, num_hashes=32, bands=16, threshold=0.7
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert (0, 1) in pairs            # identical
    assert (3, 4) in pairs            # same token set, order differs
    assert (5, 7) not in pairs
    for a, b in pairs:
        assert a < b


def test_verify_jaccard_threshold(docs_df, spark):
    pairs = spark.createDataFrame([(0, 2), (0, 5)], "doc_a long, doc_b long")
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in dedup.verify_jaccard(docs_df, pairs, threshold=0.0).collect()}
    assert out[(0, 2)] > 0.7  # one word changed
    assert out[(0, 5)] == 0.0


def test_simhash_portable(docs_df):
    # the oracle-checkable md5/60-bit variant behaves like simhash64:
    # identical text -> identical hash, and values are non-negative longs
    sh = {r["doc_id"]: r["simhash"]
          for r in dedup.simhash_portable(docs_df).collect()}
    assert sh[0] == sh[1]
    assert all(v >= 0 for v in sh.values())
    assert sh[0] != sh[3]


def test_language_id_expr_matches_udf(spark):
    rows = [
        (0, "the cat sat on the mat and it is happy"),
        (1, "le chat est sur la table et il est très content"),
        (2, "der hund ist nicht glücklich und die katze auch nicht"),
        (3, "el perro y la gata es una historia que pasa por madrid"),
        (4, "这是一个中文句子"),
        (5, ""),
        (6, "de que la"),          # fr/es tie -> first profile (fr) wins
        (7, "9182 7364 !!"),       # nothing scores -> und
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr = {r["doc_id"]: r["lang_pred"]
            for r in textstats.language_id(df).collect()}
    udf = {r["doc_id"]: r["lang_pred"]
           for r in textstats.language_id_udf(df).collect()}
    assert expr == udf


def test_simhash_near_duplicates(docs_df):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs_df).collect()}
    assert sh[0] == sh[1]  # identical text -> identical simhash
    out = dedup.simhash_near_duplicates(docs_df, max_hamming=10)
    pairs = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert (0, 1) in pairs


def test_simhash_block_cap(spark):
    """Chunk-key blocks above max_block_size are dropped before the
    self-join (the Zipf-at-scale quadratic guard); a cap above the block
    size leaves results untouched."""
    rows = [(i, "same words every time") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.simhash_near_duplicates(df, max_block_size=10)
    assert capped.count() == 0  # every block is 30 docs > cap
    full = dedup.simhash_near_duplicates(df, max_block_size=1000)
    assert full.count() == 30 * 29 // 2  # all identical -> all pairs


def test_char_shingles(spark):
    df = spark.createDataFrame([(0, "abcdef")], "doc_id long, text string")
    out = [r["term"] for r in dedup.char_shingles(df, n=3).collect()]
    assert out == ["abc", "bcd", "cde", "def"]


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 8)).astype(np.float32)
    base[1] = base[0] + 0.001 * rng.standard_normal(8).astype(np.float32)  # near-dup
    pdf = pd.DataFrame(
        {"vec_id": range(40), "embedding": [v.tolist() for v in base]}
    )
    return spark.createDataFrame(pdf)


def test_embedding_near_duplicates(emb_df):
    out = dedup.embedding_near_duplicates(emb_df, n_planes=8, threshold=0.99)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1) in pairs


def test_embedding_lsh_recall_and_bucket_cap(spark):
    """Multi-table + multiprobe LSH must recover >=0.9 of the true
    cos>=0.95 pairs (vs brute force), and max_bucket_size must drop
    degenerate buckets (a clone cluster that would go quadratic) without
    hurting recall on the healthy pairs."""
    rng = np.random.default_rng(11)
    dim, n_base, n_dup = 16, 60, 30
    base = rng.standard_normal((n_base, dim))
    vecs = [base[i] for i in range(n_base)]
    for i in range(n_dup):  # planted near-dups around cos ~0.95
        vecs.append(base[i] + 0.30 * rng.standard_normal(dim))
    clone = np.ones(dim)
    n_clones = 30
    vecs.extend(clone.copy() for _ in range(n_clones))  # degenerate cluster
    mat = np.stack(vecs)
    n = len(vecs)
    clone_ids = set(range(n - n_clones, n))

    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = norm @ norm.T
    truth = {
        (i, j)
        for i in range(n) for j in range(i + 1, n)
        if cos[i, j] >= 0.95 and not (i in clone_ids and j in clone_ids)
    }
    assert len(truth) >= 15  # the fixture really plants pairs

    pdf = pd.DataFrame(
        {"vec_id": range(n), "embedding": [v.tolist() for v in mat]}
    )
    df = spark.createDataFrame(pdf)
    out = dedup.embedding_near_duplicates(
        df, n_planes=12, n_tables=3, multiprobe=True,
        threshold=0.95, max_bucket_size=10, seed=7,
    )
    found = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # exactness: every reported pair is a true cos>=0.95 pair
    for i, j in found:
        assert cos[i, j] >= 0.95 - 1e-9
    # the clone cluster (bucket size 30 > cap 10) was dropped, not joined
    assert not any(i in clone_ids and j in clone_ids for i, j in found)
    recall = len(found & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall:.2f} over {len(truth)} true pairs"


def test_vector_matrix_helpers_match_rowwise():
    """The vectorized (rows, dim) conversions behind the IVF fit must
    reproduce the row-wise np.stack path exactly, and the Arrow helper
    must refuse (None -> caller falls back) on nulls or ragged rows."""
    import pyarrow as pa
    import pandas as pd

    from indexer_spark.extras.simsearch import (
        _list_col_matrix, _rows_matrix,
    )

    rng = np.random.default_rng(7)
    rows = [rng.standard_normal(16) for _ in range(100)]
    want = np.stack([np.asarray(r, dtype=np.float64) for r in rows])

    col = pa.array([r.tolist() for r in rows], type=pa.list_(pa.float64()))
    got = _list_col_matrix(col, len(rows), 16)
    assert got is not None and np.array_equal(got, want)
    # sliced column (non-zero offset): flatten must respect the slice
    got_tail = _list_col_matrix(col.slice(40), 60, 16)
    assert got_tail is not None and np.array_equal(got_tail, want[40:])

    assert np.array_equal(_rows_matrix(pd.Series(rows), 16), want)
    # float32 rows widen losslessly to float64
    got32 = _rows_matrix(pd.Series([r.astype(np.float32) for r in rows]), 16)
    assert np.array_equal(
        got32, np.stack([r.astype(np.float32) for r in rows]).astype(np.float64)
    )

    null_col = pa.array([[1.0, 2.0], None], type=pa.list_(pa.float64()))
    assert _list_col_matrix(null_col, 2, 2) is None
    ragged = pa.array([[1.0, 2.0], [3.0]], type=pa.list_(pa.float64()))
    assert _list_col_matrix(ragged, 2, 2) is None
    # ragged rows whose lengths still sum to n_rows * dim: the total
    # length check alone would reshape them into a wrong 2x4 matrix
    ragged_sum = pa.array([[1, 2, 3], [4, 5, 6, 7, 8]],
                          type=pa.list_(pa.float64()))
    assert _list_col_matrix(ragged_sum, 2, 4) is None
    # ragged pandas rows raise — even when lengths sum to n*dim, which a
    # bare concatenate+reshape would silently mis-shape
    import pytest

    with pytest.raises(ValueError, match="ragged"):
        _rows_matrix(pd.Series([np.ones(3), np.zeros(5)]), 4)


def test_brute_force_topk_matches_numpy(emb_df):
    pdf = emb_df.toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray).to_numpy()).astype(np.float64)
    q = mat[0]
    cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((pdf["vec_id"].to_numpy(), -cos))[:5]
    want = [int(pdf["vec_id"].iloc[i]) for i in order]
    got = [r["vec_id"] for r in
           simsearch.brute_force_topk(emb_df, q.tolist(), k=5).collect()]
    assert got == want


def test_ivf_recall_and_pruning(spark, emb_df, tmp_path):
    pdf = emb_df.toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray).to_numpy()).astype(np.float64)
    q = mat[3]
    idx = simsearch.IvfIndex.build(
        spark, emb_df, str(tmp_path / "ivf"), n_centroids=4
    )
    exact = [r["vec_id"] for r in
             simsearch.brute_force_topk(emb_df, q.tolist(), k=5).collect()]
    # full probe == exact
    full = [r["vec_id"] for r in idx.search(q.tolist(), k=5, nprobe=4).collect()]
    assert full == exact
    # pruned probe returns a subset ranked consistently and hits the top-1
    pruned = [r["vec_id"] for r in idx.search(q.tolist(), k=5, nprobe=1).collect()]
    assert pruned[0] == exact[0] == 3


def test_ivf_distributed_fit_256_centroids(spark, tmp_path):
    """The distributed Lloyd fit must handle production-shaped centroid
    counts (>=256, far beyond a driver-sample fit), with recall vs brute
    force growing in nprobe, exact retrieval at full probe, and a
    reopenable on-disk index."""
    rng = np.random.default_rng(13)
    n, dim, k = 3000, 16, 256
    mat = rng.standard_normal((n, dim))
    pdf = pd.DataFrame(
        {"vec_id": range(n), "embedding": [v.tolist() for v in mat]}
    )
    df = spark.createDataFrame(pdf).repartition(8)
    path = str(tmp_path / "ivf256")
    idx = simsearch.IvfIndex.build(spark, df, path, n_centroids=k, iters=4)
    assert idx.centroids.shape == (k, dim)
    # every centroid is finite and they are not all identical (real fit)
    assert np.isfinite(idx.centroids).all()
    assert np.std(idx.centroids, axis=0).max() > 0.1

    q = (mat[7] + 0.01 * rng.standard_normal(dim)).tolist()
    exact = [r["vec_id"] for r in
             simsearch.brute_force_topk(df, q, k=10).collect()]
    full = [r["vec_id"] for r in idx.search(q, 10, nprobe=k).collect()]
    assert full == exact  # full probe == brute force
    # near-centroid query: tiny probe count already finds the top-1
    near1 = [r["vec_id"] for r in idx.search(q, 10, nprobe=4).collect()]
    assert near1[0] == exact[0] == 7
    # recall grows with nprobe
    def recall(nprobe):
        got = {r["vec_id"] for r in idx.search(q, 10, nprobe=nprobe).collect()}
        return len(got & set(exact)) / len(exact)
    r16, r96 = recall(16), recall(96)
    assert r96 >= r16
    assert r96 >= 0.5
    # reopen from disk without refitting
    idx2 = simsearch.IvfIndex.open(spark, path)
    assert np.allclose(idx2.centroids, idx.centroids)
    assert [r["vec_id"] for r in idx2.search(q, 10, nprobe=k).collect()] == exact


def test_language_id(spark):
    rows = [
        (0, "the cat sat on the mat and it is happy"),
        (1, "le chat est sur la table et il est très content"),
        (2, "der hund ist nicht glücklich und die katze auch nicht"),
        (3, "el perro y la gata es una historia que pasa por madrid"),
        (4, "这是一个中文句子"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["lang_pred"]
           for r in textstats.language_id(df).collect()}
    assert out == {0: "en", 1: "fr", 2: "de", 3: "es", 4: "zh", 5: "und"}


def test_quality_scores(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and keeps running"),
        (1, "a a a a a a a a a a"),
        (2, "!!! ??? ;;; ###"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.quality_scores(df).collect()}
    assert out[0]["quality"] > out[1]["quality"]  # repetition penalized
    assert out[0]["quality"] > out[2]["quality"]  # punctuation penalized
    assert out[1]["rep_ratio"] == pytest.approx(0.1)


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "Hello world 3.14 don't"), (1, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in textstats.token_counts(df).collect()}
    assert out[0]["n_ws_tokens"] == 4
    # hello, world, 3, ., 14, don, ', t  -> 8 lexer-class pieces
    assert out[0]["n_lex_tokens"] == 8
    assert out[1]["n_ws_tokens"] == 0


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(0, "same   text here"), (1, "same text  here"), (2, "other text")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["fingerprint"]
           for r in textstats.fingerprints(df).collect()}
    assert out[0] == out[1]  # whitespace-normalized equality
    assert out[0] != out[2]


def test_image_codec_roundtrip():
    rng = np.random.default_rng(3)
    for h, w in [(1, 1), (5, 3), (7, 8), (16, 2)]:  # odd widths hit BMP padding
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(
            multimodal.decode_ppm(multimodal.encode_ppm(arr)), arr)
        assert np.array_equal(
            multimodal.decode_ppm(
                multimodal.encode_ppm(arr, ascii_mode=True)), arr)
        assert np.array_equal(
            multimodal.decode_bmp(multimodal.encode_bmp(arr)), arr)
    # netpbm comment + whitespace tolerance
    p = b"P6\n# a comment\n3 2\n255\n" + bytes(range(18))
    assert multimodal.decode_ppm(p).shape == (2, 3, 3)
    with pytest.raises(ValueError):
        multimodal.decode_image_bytes(b"\x89PNG....")  # truncated signature


def test_png_codec_roundtrip_all_filters():
    """Compressed PNG via stdlib zlib: every scanline filter type (0-4)
    and every 8-bit color type round-trips bit-exactly."""
    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (5, 3), (7, 8), (2, 16)]:
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for ft in range(5):
            enc = multimodal.encode_png(arr, filter_type=ft)
            assert enc[:8] == multimodal._PNG_SIG
            assert np.array_equal(multimodal.decode_png(enc), arr)
    # PNG actually compresses: a flat image deflates far below raw size
    flat = np.full((32, 32, 3), 7, dtype=np.uint8)
    assert len(multimodal.encode_png(flat)) < 32 * 32 * 3 // 4
    # greyscale (ct 0) -> replicated channels; RGBA (ct 6) -> alpha dropped;
    # grey+alpha (ct 4) -> grey replicated
    g = rng.integers(0, 256, (4, 5), dtype=np.uint8)
    assert np.array_equal(
        multimodal.decode_png(multimodal.encode_png(g)),
        np.repeat(g[:, :, None], 3, axis=2))
    rgba = rng.integers(0, 256, (3, 4, 4), dtype=np.uint8)
    assert np.array_equal(
        multimodal.decode_png(multimodal.encode_png(rgba, filter_type=4)),
        rgba[:, :, :3])
    ga = rng.integers(0, 256, (3, 4, 2), dtype=np.uint8)
    assert np.array_equal(
        multimodal.decode_png(multimodal.encode_png(ga, filter_type=3)),
        np.repeat(ga[:, :, :1], 3, axis=2))


def test_png_codec_rejects_corruption():
    arr = np.zeros((2, 2, 3), dtype=np.uint8)
    enc = bytearray(multimodal.encode_png(arr))
    enc[40] ^= 0xFF  # flip a byte inside a chunk body
    with pytest.raises(ValueError, match="CRC"):
        multimodal.decode_png(bytes(enc))
    with pytest.raises(ValueError, match="not a PNG"):
        multimodal.decode_png(b"BM" + bytes(30))
    # dispatch: decode_image_bytes routes real PNG bytes to decode_png
    good = multimodal.encode_png(np.full((2, 3, 3), 9, np.uint8))
    assert multimodal.decode_image_bytes(good).shape == (2, 3, 3)


def test_image_decoder_real_features(spark):
    """The REAL decode path: PPM/BMP/PNG bytes -> pixels -> features
    inside the Spark pipeline, identical to a driver-side recompute."""
    pdf = multimodal.synth_image_assets(24, seed=9)
    df = spark.createDataFrame(pdf, schema=multimodal.ASSET_SCHEMA)
    feats = multimodal.extract_features(
        df, decoder=multimodal.image_decoder).collect()
    assert len(feats) == 24
    by_id = {r["asset_id"]: np.array(r["feature"]) for r in feats}
    for i in (0, 1, 2, 3):  # one of each encoding (P6, P3, BMP, PNG)
        arr = multimodal.decode_image_bytes(bytes(pdf["payload"].iloc[i]))
        assert arr.shape == (pdf["height"].iloc[i], pdf["width"].iloc[i], 3)
        assert np.allclose(by_id[i], multimodal.image_features(arr))
        assert np.isfinite(by_id[i]).all()


def test_wav_codec_roundtrip():
    rng = np.random.default_rng(7)
    for n, ch, rate in [(1, 1, 8000), (333, 1, 16000), (1024, 2, 44100)]:
        pcm = rng.integers(-32768, 32768, (n, ch)).astype(np.int16)
        dec, got_rate = multimodal.decode_wav(
            multimodal.encode_wav(pcm, rate, bits=16)
        )
        assert got_rate == rate and dec.shape == (n, ch)
        assert np.array_equal((dec * 32768.0).astype(np.int16), pcm)
    # 8-bit path round-trips through the unsigned representation
    pcm8 = rng.integers(-128, 128, (100, 1)).astype(np.int16)
    dec8, _ = multimodal.decode_wav(multimodal.encode_wav(pcm8, 8000, bits=8))
    assert np.array_equal((dec8 * 128.0).round().astype(np.int64),
                          pcm8.astype(np.int64))
    # chunk walker skips unknown chunks before data
    wav = multimodal.encode_wav(pcm8, 8000, bits=16)
    chunks = wav[12:]  # fmt + data chunks after the RIFF/WAVE preamble
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    patched = (b"RIFF"
               + (4 + len(extra) + len(chunks)).to_bytes(4, "little")
               + b"WAVE" + extra + chunks)
    dec2, _ = multimodal.decode_wav(patched)
    assert dec2.shape == (100, 1)
    with pytest.raises(ValueError):
        multimodal.decode_wav(b"OggS....")


def test_g711_codec_identity_and_snr():
    """ITU-T G.711 companding: exact identity on the 256-code decode
    lattice (A-law everywhere; mu-law everywhere but 0x7F, the spec's
    negative-zero code that collapses onto positive zero), and textbook
    ~38 dB SNR on a full-scale sine."""
    codes = np.arange(256, dtype=np.uint8)
    a_rt = multimodal.encode_alaw(multimodal.decode_alaw(codes))
    assert np.array_equal(a_rt, codes)
    u_rt = multimodal.encode_ulaw(multimodal.decode_ulaw(codes))
    keep = codes != 0x7F
    assert np.array_equal(u_rt[keep], codes[keep])
    assert multimodal.decode_ulaw(np.array([0x7F]))[0] == 0
    t = np.arange(8000) / 8000.0
    x = (0.8 * 32767 * np.sin(2 * np.pi * 440 * t)).astype(np.int16)
    for enc, dec in [(multimodal.encode_ulaw, multimodal.decode_ulaw),
                     (multimodal.encode_alaw, multimodal.decode_alaw)]:
        y = dec(enc(x)).astype(np.float64)
        snr = 10 * np.log10((x.astype(np.float64) ** 2).mean()
                            / ((y - x) ** 2).mean())
        assert snr > 35.0, snr


def test_ima_adpcm_roundtrip():
    """IMA/DVI ADPCM: 4:1 compression, first sample of every block held
    verbatim, fact-count trims final-block padding, SNR > 20 dB."""
    rng = np.random.default_rng(13)
    t = np.arange(3000) / 8000.0
    x = (20000 * np.sin(2 * np.pi * 300 * t)
         + 2000 * rng.standard_normal(3000)).astype(np.int16)
    data = multimodal.encode_ima_adpcm(x, block_size=256)
    spb = (256 - 4) * 2 + 1  # 505 samples/block
    assert len(data) == 256 * ((len(x) + spb - 1) // spb)
    y = multimodal.decode_ima_adpcm(data, 256, n_samples=len(x))
    assert y.shape == (len(x),) and y.dtype == np.int16
    assert y[0] == x[0] and y[spb] == x[spb]  # block headers verbatim
    snr = 10 * np.log10((x.astype(np.float64) ** 2).mean()
                        / ((y.astype(np.float64) - x) ** 2).mean())
    assert snr > 20.0, snr
    with pytest.raises(ValueError):
        multimodal.encode_ima_adpcm(x, block_size=6)


def test_wav_compressed_container():
    """WAV format tags 6/7/0x11 decode through decode_wav with the right
    shapes/rates; unknown tags still raise (soundfile fall-through)."""
    t = np.arange(2000) / 16000.0
    x = (15000 * np.sin(2 * np.pi * 500 * t)).astype(np.int16)
    for codec, max_rms in [("ulaw", 0.01), ("alaw", 0.01), ("adpcm", 0.03)]:
        dec, rate = multimodal.decode_wav(
            multimodal.encode_wav(x, 16000, codec=codec))
        assert rate == 16000 and dec.shape == (len(x), 1), codec
        rms = np.sqrt(((dec[:, 0] - x / 32768.0) ** 2).mean())
        assert rms < max_rms, (codec, rms)
    stereo = np.stack([x, x // 3], axis=1)
    dec, _ = multimodal.decode_wav(
        multimodal.encode_wav(stereo, 8000, codec="alaw"))
    assert dec.shape == (len(x), 2)
    assert np.abs(dec[:, 1] * 3 - dec[:, 0]).mean() < 0.02
    with pytest.raises(ValueError, match="mono"):
        multimodal.encode_wav(stereo, 8000, codec="adpcm")
    # unknown compressed tag (e.g. MPEG layer 3 = 0x55) raises
    bad_fmt = ((0x55).to_bytes(2, "little") + (1).to_bytes(2, "little")
               + (8000).to_bytes(4, "little") + (1000).to_bytes(4, "little")
               + (1).to_bytes(2, "little") + (0).to_bytes(2, "little"))
    payload = multimodal._wav_container(bad_fmt, b"\x00" * 64, 64)
    with pytest.raises(ValueError, match="unsupported WAV"):
        multimodal.decode_wav(payload)


def test_audio_decoder_real_features(spark):
    """The REAL audio path: WAV bytes (PCM + G.711 + ADPCM round-robin)
    -> samples -> features inside the Spark pipeline, identical to a
    driver-side recompute."""
    pdf = multimodal.synth_audio_assets(15, seed=4)
    df = spark.createDataFrame(pdf, schema=multimodal.ASSET_SCHEMA)
    feats = multimodal.extract_features(
        df, decoder=multimodal.media_decoder).collect()
    assert len(feats) == 15
    by_id = {r["asset_id"]: np.array(r["feature"]) for r in feats}
    for i in (0, 1, 2, 3, 4, 5):  # pcm mono/stereo, ulaw, alaw, adpcm
        samples, rate = multimodal.decode_wav(bytes(pdf["payload"].iloc[i]))
        assert rate == pdf["sample_rate"].iloc[i]
        assert np.allclose(by_id[i], multimodal.audio_features(samples, rate))
        assert len(by_id[i]) == multimodal.FEATURE_DIM
        assert np.isfinite(by_id[i]).all()


def test_media_decoder_mixed_kinds(spark):
    """image + audio assets through ONE extract_features pass — the
    per-kind dispatch a mixed 100-TB asset table would run; video alone
    still raises (the remaining stub boundary)."""
    imgs = multimodal.synth_image_assets(6, seed=2)
    auds = multimodal.synth_audio_assets(6, seed=2)
    auds["asset_id"] = auds["asset_id"] + 100
    import pandas as pd

    both = pd.concat([imgs, auds], ignore_index=True)
    df = spark.createDataFrame(both, schema=multimodal.ASSET_SCHEMA)
    feats = multimodal.extract_features(
        df, decoder=multimodal.media_decoder).collect()
    assert len(feats) == 12
    assert all(len(r["feature"]) == multimodal.FEATURE_DIM for r in feats)


def test_rvid_codec_roundtrip_and_seek():
    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)
              for _ in range(9)]
    payload = multimodal.encode_rvid(frames, fps=24)
    n, fps, spans = multimodal.rvid_info(payload)
    assert (n, fps) == (9, 24) and len(spans) == 9
    for i in (0, 4, 8):  # frame-accurate seek decodes just that frame
        assert np.array_equal(multimodal.rvid_frame(payload, i), frames[i])
    feats = multimodal.video_features(payload)
    assert feats.shape == (multimodal.FEATURE_DIM,)
    assert np.isfinite(feats).all()
    # features = mean of the sampled frames' image features
    picks = sorted({int(i) for i in np.linspace(0, 8, 4)})
    want = np.mean([multimodal.image_features(frames[i]) for i in picks],
                   axis=0)
    assert np.allclose(feats, want)
    with pytest.raises(ValueError):
        multimodal.rvid_info(b"AVI ....")


def test_video_decoder_real_features(spark):
    """All THREE modalities through one extract_features pass with
    media_decoder — video decode is real (RVID container)."""
    import pandas as pd

    vids = multimodal.synth_video_assets(6, seed=5)
    imgs = multimodal.synth_image_assets(4, seed=5)
    auds = multimodal.synth_audio_assets(4, seed=5)
    imgs["asset_id"] += 100
    auds["asset_id"] += 200
    all_ = pd.concat([vids, imgs, auds], ignore_index=True)
    df = spark.createDataFrame(all_, schema=multimodal.ASSET_SCHEMA)
    feats = multimodal.extract_features(
        df, decoder=multimodal.media_decoder).collect()
    assert len(feats) == 14
    by_id = {r["asset_id"]: np.array(r["feature"]) for r in feats}
    for i in (0, 1):
        want = multimodal.video_features(bytes(vids["payload"].iloc[i]))
        assert np.allclose(by_id[i], want)


def test_frame_sample_features_lazy_decode(spark):
    vids = multimodal.synth_video_assets(5, seed=8)
    df = spark.createDataFrame(vids, schema=multimodal.ASSET_SCHEMA)
    rows = multimodal.frame_sample_features(df, every_n=7).collect()
    # one row per sampled frame, with that exact frame's features
    for r in rows[:8]:
        payload = bytes(vids.loc[vids["asset_id"] == r["asset_id"],
                                 "payload"].iloc[0])
        frame = multimodal.rvid_frame(payload, r["frame_idx"])
        assert np.allclose(np.array(r["feature"]),
                           multimodal.image_features(frame))
    want_rows = sum(
        len(range(0, int(nf), 7)) for nf in vids["n_frames"]
    )
    assert len(rows) == want_rows


def test_multimodal_features(spark):
    pdf = multimodal.synth_assets(30, seed=9)
    df = spark.createDataFrame(pdf, schema=multimodal.ASSET_SCHEMA)
    feats = multimodal.extract_features(df).collect()
    assert len(feats) == 30
    by_id = {r["asset_id"]: r for r in feats}
    for r in feats:
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert r["n_bytes"] > 0
    # deterministic: same payload -> same feature
    again = {r["asset_id"]: r["feature"]
             for r in multimodal.extract_features(df).collect()}
    assert all(again[i] == by_id[i]["feature"] for i in by_id)


def test_multimodal_strict_decoder_raises(spark):
    pdf = multimodal.synth_assets(3, seed=9)
    df = spark.createDataFrame(pdf, schema=multimodal.ASSET_SCHEMA)
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises((PythonException, Py4JJavaError)):
        multimodal.extract_features(df, decoder=multimodal.strict_decoder).collect()


def test_frame_sample(spark):
    pdf = multimodal.synth_assets(40, seed=9)
    df = spark.createDataFrame(pdf, schema=multimodal.ASSET_SCHEMA)
    out = multimodal.frame_sample(df, every_n=30).toPandas()
    vids = pdf[pdf["kind"] == "video"]
    expect = sum((int(nf) + 29) // 30 for nf in vids["n_frames"])
    assert len(out) == expect
    assert (out["frame_idx"] % 30 == 0).all()


def _has(mod):
    try:
        __import__(mod)
        return True
    except ImportError:
        return False


def test_optional_decoder_guards_absent():
    """Without the optional codec libraries installed, the optional
    decode helpers return None (clean fall-through to strict_decoder,
    never a crash) and media_decoder raises the documented error for
    compressed payloads. In an environment WITH the libraries, the
    skip-marked parity tests below take over."""
    png_magic = b"\x89PNG\r\n\x1a\n" + b"\x00" * 64
    if not _has("PIL"):
        assert multimodal._optional_image_decode(png_magic) is None
        with pytest.raises(NotImplementedError):
            multimodal.media_decoder(png_magic, "image")
    if not _has("soundfile"):
        assert multimodal._optional_audio_decode(b"fLaC" + b"\x00" * 64) is None
        with pytest.raises(NotImplementedError):
            multimodal.media_decoder(b"fLaC" + b"\x00" * 64, "audio")
    if not _has("av"):
        assert multimodal._optional_video_features(b"\x00\x00\x00\x18ftypmp4" + b"\x00" * 64) is None
        with pytest.raises(NotImplementedError):
            multimodal.media_decoder(b"\x00\x00\x00\x18ftypmp4", "video")


@pytest.mark.skipif(not _has("PIL"), reason="Pillow not installed")
def test_optional_image_codec_parity():
    """PNG (lossless) re-encode of the same pixels must produce
    BIT-IDENTICAL features to the pure-numpy PPM path — the optional
    codec is a decode plug, not a different feature pipeline."""
    import io

    from PIL import Image

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    buf = io.BytesIO()
    Image.fromarray(arr).save(buf, format="PNG")
    want = multimodal.image_features(arr)
    got = multimodal.media_decoder(buf.getvalue(), "image")
    np.testing.assert_array_equal(got, want)
    # strict_decoder unreachable for decodable payloads when PIL exists
    jpg = io.BytesIO()
    Image.fromarray(arr).save(jpg, format="JPEG")
    assert multimodal.media_decoder(jpg.getvalue(), "image").shape == (
        multimodal.FEATURE_DIM,
    )


@pytest.mark.skipif(not _has("soundfile"), reason="soundfile not installed")
def test_optional_audio_codec_parity():
    """FLAC (lossless) re-encode of the same 16-bit samples must produce
    near-identical features to the pure-numpy WAV path (same [-1, 1]
    scale; FLAC round-trips int16 exactly)."""
    import io

    import soundfile as sf

    rng = np.random.default_rng(4)
    x16 = (rng.uniform(-0.5, 0.5, 4096) * 32767).astype(np.int16)
    wav = multimodal.encode_wav(x16, 16000, bits=16)
    want = multimodal.media_decoder(wav, "audio")
    buf = io.BytesIO()
    sf.write(buf, x16, 16000, format="FLAC", subtype="PCM_16")
    got = multimodal.media_decoder(buf.getvalue(), "audio")
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)


@pytest.mark.skipif(not _has("av"), reason="PyAV not installed")
def test_optional_video_codec():
    """Lossless-ish H.264 encode of RVID frames decodes through PyAV and
    yields features of the right shape (lossy codecs can't be
    bit-compared; shape + determinism is the contract here)."""
    import io

    import av

    rng = np.random.default_rng(5)
    frames = rng.integers(0, 256, (6, 16, 16, 3), dtype=np.uint8)
    buf = io.BytesIO()
    with av.open(buf, "w", format="mp4") as container:
        stream = container.add_stream("h264", rate=4)
        stream.width, stream.height = 16, 16
        stream.pix_fmt = "yuv420p"
        for f in frames:
            for packet in stream.encode(av.VideoFrame.from_ndarray(f, format="rgb24")):
                container.mux(packet)
        for packet in stream.encode():
            container.mux(packet)
    feats = multimodal.media_decoder(buf.getvalue(), "video")
    assert feats.shape == (multimodal.FEATURE_DIM,)
    feats2 = multimodal.media_decoder(buf.getvalue(), "video")
    np.testing.assert_array_equal(feats, feats2)

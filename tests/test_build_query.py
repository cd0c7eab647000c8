"""End-to-end build + query parity: Spark engine vs oracle.

This is the correctness gate from SURVEY.md §5: postings parity, df/N
parity, BM25 and TF-IDF rank identity on the reference query set, and
pruned == exhaustive (the safe-pruning invariant)."""

import math

import pytest
from pyspark.sql import functions as F

from indexer_spark.build import docstore, read_manifest, read_stats
from indexer_spark.query import IndexReader
from indexer_spark.synth import gen_queries

REL_TOL = 1e-9


def test_stats_match_oracle(built_index, oracle_index):
    _, stats = built_index
    assert stats["n_docs"] == oracle_index.n_docs
    assert math.isclose(stats["avgdl"], oracle_index.avgdl, rel_tol=1e-12)


def test_docstore_complete_and_dense(spark, built_index, corpus_pdf):
    index_dir, stats = built_index
    ds = docstore(spark, index_dir)
    n = ds.count()
    assert n == len(corpus_pdf) == stats["n_docs"]
    row = ds.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
        F.countDistinct("doc_id").alias("u"),
    ).collect()[0]
    assert row["lo"] == 0 and row["hi"] == n - 1 and row["u"] == n


def test_doc_ids_follow_conv_turn_order(spark, built_index):
    index_dir, _ = built_index
    ds = docstore(spark, index_dir).orderBy("doc_id").collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in ds]
    assert keys == sorted(keys)


def test_doc_len_parity(spark, built_index, oracle_index):
    index_dir, _ = built_index
    ds = docstore(spark, index_dir).select("doc_id", "doc_len").collect()
    got = {r["doc_id"]: r["doc_len"] for r in ds}
    assert got == oracle_index.doc_len


def test_postings_parity(spark, built_index, oracle_index):
    """(term -> sorted [(doc_id, tf)]) from Spark equals oracle exactly."""
    from indexer_spark.build import _postings_path
    from indexer_spark.compress import decode_postings

    index_dir, _ = built_index
    from indexer_spark.build import META_TERM

    rows = [
        r for r in spark.read.parquet(_postings_path(index_dir)).collect()
        if r["term"] != META_TERM  # bookkeeping sentinel, not a posting
    ]
    got: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        ids, tfs, _dls = decode_postings(
            bytes(r["docs"]), bytes(r["tfs"]), bytes(r["dls"]), r["df"]
        )
        got.setdefault(r["term"], []).extend(zip(ids.tolist(), tfs.tolist()))
    for t in got:
        got[t].sort()
    assert set(got) == set(oracle_index.postings)
    for t, plist in oracle_index.postings.items():
        assert got[t] == plist, f"postings mismatch for {t!r}"


def test_global_df_parity(spark, built_index, oracle_index):
    from indexer_spark.build import _term_stats_path

    index_dir, _ = built_index
    rows = spark.read.parquet(_term_stats_path(index_dir)).collect()
    got = {r["term"]: r["df"] for r in rows}
    want = {t: len(p) for t, p in oracle_index.postings.items()}
    assert got == want


def test_dl_stream_matches_docstore(spark, built_index, oracle_index):
    from indexer_spark.build import _postings_path
    from indexer_spark.compress import decode_postings

    index_dir, _ = built_index
    from indexer_spark.build import META_TERM

    rows = (
        spark.read.parquet(_postings_path(index_dir))
        .filter(F.col("term") != META_TERM)
        .limit(50)
        .collect()
    )
    for r in rows:
        ids, _tfs, dls = decode_postings(
            bytes(r["docs"]), bytes(r["tfs"]), bytes(r["dls"]), r["df"]
        )
        for d, dl in zip(ids.tolist(), dls.tolist()):
            assert dl == oracle_index.doc_len[d]


@pytest.mark.parametrize("mode", ["exhaustive", "pruned"])
def test_bm25_rank_identity(spark, built_index, oracle_index, mode):
    index_dir, _ = built_index
    # fast_path_bytes=0: this test must exercise the DISTRIBUTED scorers
    reader = IndexReader(spark, index_dir, fast_path_bytes=0)
    for qid, q, k in gen_queries():
        want = oracle_index.search_bm25(q, k)
        got = reader.search(q, k, mode=mode)
        assert [d for d, _ in got] == [d for d, _ in want], (
            f"q{qid} {q!r} ({mode}): doc ranks differ\n got {got}\nwant {want}"
        )
        for (gd, gs), (wd, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=REL_TOL), (qid, q, gd, gs, ws)


def test_bm25_and_rank_identity(spark, built_index, oracle_index):
    """Conjunctive (AND) mode vs the oracle, on both the distributed and
    the driver-fast paths, plus the repeat (decoded-cache) pass."""
    index_dir, _ = built_index
    dist = IndexReader(spark, index_dir, fast_path_bytes=0)
    fast = IndexReader(spark, index_dir)
    queries = [q for _, q, _ in gen_queries() if q.strip()]
    queries += ["run dog", "the", "zzznotaword run", "fox lazy dog"]
    try:
        for q in queries:
            want = oracle_index.search_bm25_and(q, 10)
            for reader in (dist, fast):
                for _rep in range(2):  # second pass hits decoded caches
                    got = reader.search(q, 10, mode="and")
                    assert [d for d, _ in got] == [d for d, _ in want], (
                        f"{q!r}: AND ranks differ\n got {got}\nwant {want}"
                    )
                    for (gd, gs), (wd, ws) in zip(got, want):
                        assert math.isclose(gs, ws, rel_tol=REL_TOL), (q, gd, gs, ws)
            # AND results are a subset of OR results' doc universe with
            # every query term present
            assert all(
                h in dict(oracle_index.search_bm25(q, None)) for h, _ in want
            )
    finally:
        dist.close()
        fast.close()


def test_and_candidate_scorer_identity(spark, built_index, oracle_index,
                                       monkeypatch):
    """With the small-shard fallback disabled, every shard runs the
    candidate-driven AND scorer (rarest term seeds candidates, wider
    terms decode only covering blocks) — results must stay rank- and
    score-identical to the oracle conjunction."""
    import indexer_spark.query as qmod

    monkeypatch.setattr(qmod, "SMALL_SHARD_THRESHOLD", 0)
    index_dir, _ = built_index
    dist = IndexReader(spark, index_dir, fast_path_bytes=0)
    try:
        queries = [q for _, q, _ in gen_queries() if q.strip()]
        queries += ["run dog", "fox lazy dog", "the fox", "zzznotaword run"]
        for q in queries:
            want = oracle_index.search_bm25_and(q, 10)
            got = dist.search(q, 10, mode="and")
            assert [d for d, _ in got] == [d for d, _ in want], (
                f"{q!r}: candidate-AND ranks differ\n got {got}\nwant {want}"
            )
            for (gd, gs), (wd, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=REL_TOL), (q, gd, gs, ws)
    finally:
        dist.close()


def test_and_scorer_skips_hot_term_blocks(built_index, monkeypatch):
    """A selective AND (rare term AND hot term) must decode only the hot
    term's candidate-covering blocks — the point of the candidate-driven
    scorer at scale — while matching the exhaustive conjunction."""
    import os

    import pandas as pd
    import pyarrow.dataset as pads

    import indexer_spark.query as qmod
    from indexer_spark.build import read_stats

    index_dir, _ = built_index
    st = read_stats(index_dir)
    ds = pads.dataset(os.path.join(index_dir, "postings"),
                      format="parquet", partitioning="hive")
    tbl = ds.to_table(
        columns=["shard", "term", "df", "docs", "tfs", "dls", "blocks"])
    allpdf = tbl.to_pandas()
    from indexer_spark.build import META_TERM

    allpdf = allpdf[allpdf["term"] != META_TERM].reset_index(drop=True)
    totals = allpdf.groupby("term")["df"].sum()
    hot = totals.idxmax()
    rare = totals[totals.index != hot].idxmin()
    pdf = allpdf[allpdf["term"].isin([hot, rare])].reset_index(drop=True)
    n_hot_blocks = int(sum(
        len(r.blocks) for r in pdf.itertuples() if r.term == hot))
    assert n_hot_blocks > 1

    docs_to_term = {id(r.docs): r.term for r in pdf.itertuples()}
    decoded = []
    real = qmod.decode_block_slice

    def counting(docs, tfs, dls, blocks, i, j, n, block_size=128):
        decoded.append(docs_to_term.get(id(docs), "?"))
        return real(docs, tfs, dls, blocks, i, j, n, block_size=block_size)

    monkeypatch.setattr(qmod, "decode_block_slice", counting)
    monkeypatch.setattr(qmod, "SMALL_SHARD_THRESHOLD", 0)
    n = st["n_docs"]
    from indexer_spark.query import _bm25_idf
    idf = {t: _bm25_idf(n, int(totals[t])) for t in (hot, rare)}
    scorer = qmod._make_and_scorer(
        idf, st["k1"], st["b"], st["avgdl"], 10, st["block_size"],
        n_required=2, epoch=None,
    )
    exhaustive = qmod._make_exhaustive_scorer(
        idf, st["k1"], st["b"], st["avgdl"], 10, "bm25", require_all=2,
    )
    got_parts, want_parts = [], []
    for _sh, g in pdf.groupby("shard", sort=True):
        got_parts.append(scorer(g))
        want_parts.append(exhaustive(g))
    got = pd.concat(got_parts, ignore_index=True)
    want = pd.concat(want_parts, ignore_index=True)
    for col in ("doc_id", "score"):
        assert got[col].tolist() == want[col].tolist()
    hot_decodes = decoded.count(hot)
    assert hot_decodes < n_hot_blocks, (
        f"decoded {hot_decodes}/{n_hot_blocks} hot-term blocks — "
        "candidate pruning is not skipping anything"
    )


def test_tfidf_rank_identity(spark, built_index, oracle_index):
    index_dir, _ = built_index
    reader = IndexReader(spark, index_dir, fast_path_bytes=0)
    for qid, q, k in gen_queries():
        want = oracle_index.search_tfidf(q, k)
        got = reader.search_tfidf(q, k)
        assert [d for d, _ in got] == [d for d, _ in want], (
            f"q{qid} {q!r}: tfidf ranks differ\n got {got}\nwant {want}"
        )
        for (gd, gs), (wd, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=REL_TOL), (qid, q, gd, gs, ws)


def test_resolve_join(spark, built_index, corpus_pdf, oracle_index):
    index_dir, _ = built_index
    reader = IndexReader(spark, index_dir)
    q = gen_queries()[3][1]
    hits = reader.search(q, 5)
    assert hits
    resolved = reader.resolve(hits).collect()
    assert len(resolved) == len(hits)
    sorted_pdf = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for r in resolved:
        row = sorted_pdf.iloc[r["doc_id"]]
        assert (row["conv_id"], row["turn_idx"]) == (r["conv_id"], r["turn_idx"])


def test_manifest_covers_all_shards(built_index):
    index_dir, stats = built_index
    m = read_manifest(index_dir)
    shards = {r["shard"] for r in m if r["stage"] == "postings"}
    assert shards == set(range(stats["n_shards"]))
    for r in m:
        if r["stage"] == "postings":
            assert r["status"] == "done"
            assert r["n_bytes"] >= 0 and r["wall_ms"] >= 0
    # stats file round-trips
    assert read_stats(index_dir)["n_docs"] == stats["n_docs"]


def test_shuffle_free_scorer_matches_exchange_path(spark, built_index):
    """The mapInPandas whole-file-task scorer (no query-time shuffle)
    must be result-identical to the groupBy(shard) exchange fallback,
    for both BM25 (pruned + exhaustive) and TF-IDF, on every reference
    query."""
    index_dir, _ = built_index
    fast = IndexReader(spark, index_dir, fast_path_bytes=0)
    assert fast._whole_file_tasks, "invariant not recorded / conf not set"
    slow = IndexReader(spark, index_dir, fast_path_bytes=0)
    slow._whole_file_tasks = False
    for _, q, k in gen_queries():
        for mode in ("pruned", "exhaustive"):
            assert fast.search(q, k, mode=mode) == slow.search(q, k, mode=mode)
        assert fast.search_tfidf(q, k) == slow.search_tfidf(q, k)


def test_driver_fast_path_identity(spark, built_index, oracle_index):
    """The driver fast path (pyarrow read + same numpy scorer, no Spark
    job) must be result-identical to the distributed plan for BM25 and
    TF-IDF on every reference query, and must actually engage / disengage
    on the nbytes threshold."""
    index_dir, _ = built_index
    fast = IndexReader(spark, index_dir)  # default threshold: engages
    dist = IndexReader(spark, index_dir, fast_path_bytes=0)
    for _, q, k in gen_queries():
        got = fast.search(q, k)
        if got:
            assert fast.last_path == "fast"
        want = dist.search(q, k, mode="exhaustive")
        assert dist.last_path == "distributed"
        assert got == want, q
        assert fast.search_tfidf(q, k) == dist.search_tfidf(q, k), q
        assert fast.search(q, k, mode="pruned") == want  # mode-independent
        assert fast.search(q, k, mode="and") == dist.search(q, k, mode="and"), q
    # a 1-byte budget can never cover matched postings -> distributed
    tiny = IndexReader(spark, index_dir, fast_path_bytes=1)
    q = gen_queries()[0][1]
    if tiny.search(q, 5):
        assert tiny.last_path == "distributed"


def test_presorted_source_no_shuffle_doc_parity(spark, tmp_path):
    """presorted_source=True skips the ids-stage range shuffle (shard ==
    scan partition). Fed the SAME range-partitioned files the shuffle
    would produce, the no-shuffle build must be byte-identical — and an
    unsorted input must fail loudly, not mis-assign ids."""
    from indexer_spark.build import BuildConfig, META_TERM, build_index
    from indexer_spark.synth import gen_transcripts

    pdf = gen_transcripts(1200, seed=21)
    src = str(tmp_path / "sorted_src")
    (
        spark.createDataFrame(pdf)
        .repartitionByRange(4, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.parquet(src)
    )
    # one scan partition per file (no small-file packing). NOTE: Spark
    # assigns files to scan partitions by SIZE, not name, so shard
    # NUMBERING differs from the shuffle build — the invariant is
    # doc-level parity (same docs, same postings, same scores), which is
    # what a user observes; raw ids are an internal detail in this mode.
    prior = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", str(256 << 20))
    try:
        sdf = spark.read.parquet(src)
        d1, d2 = str(tmp_path / "i_shuffle"), str(tmp_path / "i_presorted")
        build_index(spark, sdf, d1, BuildConfig(block_size=32, id_partitions=4))
        build_index(
            spark, sdf, d2, BuildConfig(block_size=32, presorted_source=True)
        )
        s1, s2 = read_stats(d1), read_stats(d2)
        assert s1["n_docs"] == s2["n_docs"] == 1200
        assert s1["avgdl"] == s2["avgdl"]
        r1 = IndexReader(spark, d1)
        r2 = IndexReader(spark, d2)
        vocab = sorted({w for t in pdf["text"].head(50) for w in t.split()})
        queries = [" ".join(vocab[:3]), vocab[len(vocab) // 2], vocab[-1]]
        for q in queries:
            a = {
                (h["conv_id"], h["turn_idx"], round(h["score"], 9))
                for h in r1.resolve_local(r1.search(q, 20))
            }
            b = {
                (h["conv_id"], h["turn_idx"], round(h["score"], 9))
                for h in r2.resolve_local(r2.search(q, 20))
            }
            assert a == b, q

        # unsorted input under the presorted contract fails loudly
        from py4j.protocol import Py4JJavaError
        from pyspark.errors.exceptions.captured import PythonException

        bad = spark.createDataFrame(pdf).repartition(4)  # hash: unsorted
        with pytest.raises((PythonException, Py4JJavaError), match="not sorted"):
            build_index(
                spark, bad, str(tmp_path / "i_bad"),
                BuildConfig(block_size=32, presorted_source=True),
            )
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", prior)


def test_warm_hot_terms_identity(spark, built_index, oracle_index):
    """Pre-decoding the hottest posting lists (query-service startup
    warm) must change latency only — results stay rank- and
    score-identical on every reference query."""
    from indexer_spark.query import _DECODED_CACHE

    index_dir, _ = built_index
    reader = IndexReader(spark, index_dir)
    warmed = reader.warm_hot_terms(8)
    assert warmed > 0
    # the cache now holds entries under this reader's namespace
    assert any(k[0] == reader._epoch for k in _DECODED_CACHE._d)
    for qid, q, k in gen_queries():
        want = oracle_index.search_bm25(q, k)
        got = reader.search(q, k)
        assert [d for d, _ in got] == [d for d, _ in want], (qid, q)
        for (gd, gs), (wd, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=REL_TOL), (qid, q)


def test_hybrid_partial_coverage_path(spark, built_index, oracle_index,
                                      corpus_pdf):
    """A query mixing a cache-covered term with an uncovered one, whose
    FULL payload exceeds fast_path_bytes but whose uncovered remainder
    fits, must be served by the hybrid driver path (no Spark job),
    oracle-identical — and the repeat must come purely from the cache."""
    from indexer_spark.lexer import tokenize

    index_dir, _ = built_index
    reader = IndexReader(spark, index_dir)
    # pick two corpus words mapping to distinct indexed terms
    cands: dict[str, str] = {}
    for text in corpus_pdf["text"].head(40):
        for w in str(text).split():
            toks = tokenize(w)
            if len(toks) == 1 and oracle_index.df(toks[0]) >= 3:
                cands.setdefault(toks[0], w)
    terms = sorted(cands, key=lambda t: oracle_index.df(t))
    assert len(terms) >= 2
    wa, wb = cands[terms[-1]], cands[terms[0]]  # hot word, smaller word
    q = f"{wa} {wb}"
    # prime coverage for the hot word via a single-term driver query
    first = reader.search(wa, 10)
    assert first and reader.last_path == "fast"
    reader.search(wb, 1)  # populate _nbytes_cache
    nb_a = reader._nbytes_cache.get(terms[-1], 0)
    nb_b = reader._nbytes_cache.get(terms[0], 0)
    assert nb_a > 1 and nb_b > 0
    # full payload over the threshold, uncovered remainder under it
    reader.fast_path_bytes = nb_b + 1
    reader._cached_terms.pop(terms[0], None)  # drop wb's coverage
    want = oracle_index.search_bm25(q, 10)
    got = reader.search(q, 10)
    assert reader.last_path == "fast"
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=REL_TOL)
    # repeat: fully covered now -> pure cache, no parquet read at all
    orig = reader._post_table
    reader._post_table = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("repeat read parquet"))
    try:
        again = reader.search(q, 10)
    finally:
        reader._post_table = orig
    assert again == got
    # conjunctive flavor through the HYBRID branch specifically: drop
    # wb's coverage again so _fast_from_cache refuses and _fast_hybrid's
    # require_all wiring is the thing under test
    reader._cached_terms.pop(terms[0], None)
    want_and = oracle_index.search_bm25_and(q, 10)
    got_and = reader.search(q, 10, mode="and")
    assert reader.last_path == "fast"
    assert [d for d, _ in got_and] == [d for d, _ in want_and]
    for (gd, gs), (wd, ws) in zip(got_and, want_and):
        assert math.isclose(gs, ws, rel_tol=REL_TOL)


def test_tfidf_all_cached_shortcut_identity(spark, built_index, oracle_index):
    """A repeat TF-IDF query whose raw decoded postings are still
    cache-resident must score with NO parquet read (the tfidf twin of
    the bm25 all-cached path) and stay score-identical to both the first
    run and the oracle; an evicted cache must fall back cleanly."""
    index_dir, _ = built_index
    reader = IndexReader(spark, index_dir)
    qid, q, k = gen_queries()[2]
    first = reader.search_tfidf(q, k)
    assert first and reader.last_path == "fast"
    # second run must come from the decoded cache alone: a parquet-read
    # attempt (_fast_scored) would trip the sentinel
    orig = reader._fast_scored
    reader._fast_scored = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("repeat tfidf query read parquet"))
    try:
        again = reader.search_tfidf(q, k)
    finally:
        reader._fast_scored = orig
    assert again == first
    want = oracle_index.search_tfidf(q, k)
    assert [d for d, _ in again] == [d for d, _ in want], (qid, q)
    for (gd, gs), (wd, ws) in zip(again, want):
        assert math.isclose(gs, ws, rel_tol=REL_TOL), (qid, q, gd, gs, ws)
    # eviction: a cleared cache falls back to the reading path, same result
    from indexer_spark.query import _DECODED_CACHE

    with _DECODED_CACHE._lock:
        _DECODED_CACHE._d.clear()
        _DECODED_CACHE._bytes = 0
    assert reader.search_tfidf(q, k) == first


def test_warm_worker_caches_identity(spark, built_index, oracle_index):
    """Worker-side warm (block entries decoded into every Python
    worker's cache) must change latency only — distributed pruned
    results stay rank- and score-identical, including under a tiny
    budget that cuts the warm short."""
    index_dir, _ = built_index
    # fast_path_bytes=0 forces the distributed scorers the warm targets
    reader = IndexReader(spark, index_dir, fast_path_bytes=0)
    try:
        warmed = reader.warm_worker_caches(4)
        assert warmed > 0  # every task warmed at least one block
        for qid, q, k in gen_queries()[:8]:
            want = oracle_index.search_bm25(q, k)
            got = reader.search(q, k, mode="pruned")
            assert [d for d, _ in got] == [d for d, _ in want], (qid, q)
            for (gd, gs), (wd, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=REL_TOL), (qid, q)
        # budget too small to hold everything: still safe, still exact
        assert reader.warm_worker_caches(4, budget_bytes=1024) >= 0
        q = gen_queries()[0][1]
        got = reader.search(q, 10, mode="pruned")
        want = oracle_index.search_bm25(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want]
    finally:
        reader.close()


def test_warm_wire_narrowing_roundtrip():
    """The warm broadcast's wire narrowing must be lossless and the
    installer must restore the exact int64 arrays decode_block_slice
    would produce — dtype included — at every dtype boundary."""
    import numpy as np

    from indexer_spark.query import (
        _DECODED_CACHE, _narrow_wire, _warm_install_entries,
    )

    for hi, want_dt in [
        (0, np.uint8), (255, np.uint8), (256, np.uint16),
        (65_535, np.uint16), (65_536, np.uint32),
        ((1 << 32) - 1, np.uint32), (1 << 32, np.int64),
    ]:
        a = np.array([0, 1, hi], dtype=np.int64)
        w = _narrow_wire(a)
        assert w.dtype == want_dt, (hi, w.dtype)
        assert np.array_equal(w.astype(np.int64), a)
    assert _narrow_wire(np.array([], dtype=np.int64)).dtype == np.uint8
    # a negative value has no unsigned form: the array comes back as is
    neg = np.array([5, -1, 300], dtype=np.int64)
    assert _narrow_wire(neg) is neg

    d = np.arange(0, 300, dtype=np.int64) * 7  # spans two 128-blocks
    tf = (d % 250) + 1
    dl = d % 70_000 + 1
    key = ("wire-test-epoch", 0, "t", d.size, 999)
    payload = [(key, _narrow_wire(d), _narrow_wire(tf), _narrow_wire(dl))]
    try:
        n = _warm_install_entries(payload, 128, 1 << 20)
        assert n == 3  # ceil(300/128) blocks
        for bi in range(3):
            got = _DECODED_CACHE.get(key + (bi,))
            assert got is not None
            s, e = bi * 128, min((bi + 1) * 128, d.size)
            for g, want in zip(got, (d[s:e], tf[s:e], dl[s:e])):
                assert g.dtype == np.int64
                assert np.array_equal(g, want)
    finally:
        before = _DECODED_CACHE._bytes
        _DECODED_CACHE.discard([key + (bi,) for bi in range(3)])
        freed = before - _DECODED_CACHE._bytes
    # discard keeps the byte counter equal to the resident entries' total
    assert freed == sum(a.nbytes for a in (d, tf, dl))
    assert _DECODED_CACHE._bytes == sum(
        a.nbytes for v in _DECODED_CACHE._d.values() for a in v)


def test_parse_bytes():
    from indexer_spark.query import _parse_bytes

    assert _parse_bytes("33554432") == 33554432
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("1.5k") == 1536
    assert _parse_bytes("nope") is None


def test_locate_doc_ids_edges(built_index):
    from indexer_spark.build import locate_doc_ids, read_stats

    index_dir, stats = built_index
    n = stats["n_docs"]
    loc = locate_doc_ids(stats, [0, n - 1, n, n + 50, -1])
    assert 0 in loc and (n - 1) in loc
    assert n not in loc and (n + 50) not in loc and -1 not in loc
    # round-trip: every located id maps back to itself
    for d, (shard, local) in loc.items():
        assert int(stats["shard_offsets"][str(shard)]) + local == d


# -- property + cache-safety insurance for the O(n) scoring rewrite -------

def test_aggregate_and_topk_match_naive_reference():
    """Property: the dense-range aggregator (and its sparse sort
    fallback) + argpartition top-k equal a naive dict/full-sort
    reference bit-for-bit, including exact-zero drops and tie-breaks."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from indexer_spark.query import _aggregate_scores, _topk_merge

    @settings(max_examples=80, deadline=None)
    @given(st.data())
    def prop(data):
        # sometimes huge sparse offsets to force the sort fallback
        base = data.draw(st.sampled_from([0, 0, 0, 1 << 24]))
        n_chunks = data.draw(st.integers(1, 5))
        id_chunks, sc_chunks = [], []
        for _ in range(n_chunks):
            ids = sorted(data.draw(st.sets(
                st.integers(0, 4000), min_size=0, max_size=60)))
            vals = data.draw(st.lists(
                st.sampled_from([0.0, 1.0, -1.0, 0.5, 2.25, -0.5]),
                min_size=len(ids), max_size=len(ids)))
            id_chunks.append(np.array(ids, dtype=np.int64) + base)
            sc_chunks.append(np.array(vals, dtype=np.float64))
        got_ids, got_sums = _aggregate_scores(id_chunks, sc_chunks)
        want: dict[int, float] = {}
        for ids, sc in zip(id_chunks, sc_chunks):
            for d, s in zip(ids.tolist(), sc.tolist()):
                want[d] = want.get(d, 0.0) + s
        want = {d: s for d, s in want.items() if s != 0.0}
        assert dict(zip(got_ids.tolist(), got_sums.tolist())) == want

        k = data.draw(st.integers(1, 15))
        gi, gs = _topk_merge(got_ids, got_sums, k)
        order = np.lexsort((got_ids, -got_sums))[:k]
        assert gi.tolist() == got_ids[order].tolist()
        assert gs.tolist() == got_sums[order].tolist()

    prop()


def test_update_invalidates_decoded_cache(spark, tmp_path):
    """An in-place update bumps the stats epoch, so a FRESH reader can
    never be served pre-update decoded postings from the shared cache —
    even when a prior reader warmed the same terms."""
    from indexer_spark.build import BuildConfig, build_index, update_index
    from indexer_spark.synth import gen_transcripts

    pdf = gen_transcripts(400, seed=33)
    d = str(tmp_path / "cacheidx")
    build_index(spark, spark.createDataFrame(pdf), d,
                BuildConfig(block_size=32, id_partitions=2))
    r1 = IndexReader(spark, d)
    w = pdf["text"].iloc[0].split()[0]
    before = r1.search(w, 400)
    assert before
    r1.search(w, 400)  # repeat: populates + uses the decoded cache
    top = r1.resolve_local(before[:1])[0]

    # rewrite the top hit's text so it no longer contains w
    up = spark.createDataFrame(
        [(top["conv_id"], top["turn_idx"], "completelydifferent words")],
        "conv_id string, turn_idx int, text string",
    )
    update_index(spark, up, d, BuildConfig(block_size=32))

    r2 = IndexReader(spark, d)
    assert r2._epoch != r1._epoch  # namespace rotated
    after = r2.search(w, 400)
    gone = {h["doc_id"] for h in [dict(doc_id=x[0]) for x in after]}
    assert top["doc_id"] not in gone
    # and the updated doc is findable under its new token
    hit = r2.search("completelydifferent", 5)
    assert [h[0] for h in hit] == [top["doc_id"]]


def test_sharded_aggregation_bit_identity():
    """_aggregate_scores_sharded must produce byte-identical sums to the
    flat aggregation: shards partition the doc_id space so per-doc
    addition order is unchanged, and per-shard >=kth narrowing keeps
    every global top-k candidate incl. boundary ties."""
    import numpy as np

    import indexer_spark.query as Q

    rng = np.random.default_rng(3)
    span = 1000
    by_shard = {}
    flat_ids, flat_sc = [], []
    for sh in range(6):
        idc, scc = [], []
        for _t in range(3):  # 3 "terms" per shard, term-ordered
            n = int(rng.integers(10, 400))
            ids = np.sort(rng.choice(span, n, replace=False)) + sh * span
            sc = rng.random(n)
            # duplicate some scores to create boundary ties
            sc[: n // 4] = 0.5
            idc.append(ids.astype(np.int64))
            scc.append(sc)
        by_shard[sh] = (idc, scc)
        flat_ids.extend(idc)
        flat_sc.extend(scc)
    want_ids, want_sums = Q._aggregate_scores(flat_ids, flat_sc)
    want = dict(zip(want_ids.tolist(), want_sums.tolist()))
    for k in (5, 50):
        # force BOTH branches: threaded (min=0) and flat fallback
        orig = Q._SHARDED_MIN_POSTINGS
        try:
            for min_postings in (0, 10**9):
                Q._SHARDED_MIN_POSTINGS = min_postings
                gids, gsums = Q._aggregate_scores_sharded(by_shard, k)
                got = dict(zip(gids.tolist(), gsums.tolist()))
                # every candidate's sum is exactly the flat sum
                for d, s in got.items():
                    assert want[d] == s  # bit-identical, no isclose
                # top-k through _topk_merge identical on both inputs
                wi, ws = Q._topk_merge(want_ids, want_sums, k)
                gi, gs = Q._topk_merge(gids, gsums, k)
                assert wi.tolist() == gi.tolist()
                assert ws.tolist() == gs.tolist()
        finally:
            Q._SHARDED_MIN_POSTINGS = orig


def test_sharded_aggregation_and_mode_identity():
    """AND-mode sharded aggregation: same bit-identity + membership
    filtering as the flat conjunctive accumulator."""
    import numpy as np

    import indexer_spark.query as Q

    rng = np.random.default_rng(7)
    span = 500
    by_shard = {}
    flat_ids, flat_sc = [], []
    for sh in range(4):
        idc, scc = [], []
        for _t in range(2):
            n = int(rng.integers(50, 300))
            ids = np.sort(rng.choice(span, n, replace=False)) + sh * span
            idc.append(ids.astype(np.int64))
            scc.append(rng.random(n))
        by_shard[sh] = (idc, scc)
        flat_ids.extend(idc)
        flat_sc.extend(scc)
    want_ids, want_sums = Q._aggregate_scores_and(flat_ids, flat_sc, 2)
    want = dict(zip(want_ids.tolist(), want_sums.tolist()))
    orig = Q._SHARDED_MIN_POSTINGS
    try:
        Q._SHARDED_MIN_POSTINGS = 0
        gids, gsums = Q._aggregate_scores_sharded(by_shard, 10, require_all=2)
        got = dict(zip(gids.tolist(), gsums.tolist()))
        for d, s in got.items():
            assert want[d] == s
        wi, ws = Q._topk_merge(want_ids, want_sums, 10)
        gi, gs = Q._topk_merge(gids, gsums, 10)
        assert wi.tolist() == gi.tolist() and ws.tolist() == gs.tolist()
    finally:
        Q._SHARDED_MIN_POSTINGS = orig


def test_fast_paths_sharded_threaded_identity(spark, built_index, oracle_index):
    """End-to-end: with the sharded threshold forced to 0 (every driver
    fast-path query takes the threaded per-shard branch), warm + repeat
    searches stay rank- and score-identical to the oracle."""
    import math

    import indexer_spark.query as Q
    from indexer_spark.query import IndexReader

    index_dir, _ = built_index
    r = IndexReader(spark, index_dir)
    orig = Q._SHARDED_MIN_POSTINGS
    try:
        Q._SHARDED_MIN_POSTINGS = 0
        r.warm_hot_terms(4)
        for q in ["run dog", "don't", "the dog fox"]:
            want = oracle_index.search_bm25(q, 10)
            for _rep in (0, 1):  # hybrid pass then all-cached pass
                got = r.search(q, 10)
                assert [x[0] for x in got] == [x[0] for x in want], q
                for g, w in zip(got, want):
                    assert math.isclose(g[1], w[1], rel_tol=1e-9)
            wt = oracle_index.search_tfidf(q, 10)
            gt = r.search_tfidf(q, 10)
            assert [x[0] for x in gt] == [x[0] for x in wt], q
    finally:
        Q._SHARDED_MIN_POSTINGS = orig
        r.close()


def test_tfidf_hybrid_raw_warm_identity(spark, built_index, oracle_index):
    """warm_hot_terms(raw=True) also stores raw (-1) tuples, so a tfidf
    query mixing a warmed hot term with unwarmed ones takes the hybrid
    driver path (kind='tfidf') with oracle-identical results; the repeat
    serves all-cached."""
    import math

    from indexer_spark.query import IndexReader

    index_dir, _ = built_index
    r = IndexReader(spark, index_dir)
    try:
        assert r.warm_hot_terms(4, raw=True) == 4
        hot = r._top_terms(1)[0][0]  # a warmed (stemmed) term
        for q in [f"{hot} zebra", f"{hot} dog run"]:
            want = oracle_index.search_tfidf(q, 10)
            for _rep in (0, 1):
                got = r.search_tfidf(q, 10)
                assert r.last_path == "fast", q
                assert [x[0] for x in got] == [x[0] for x in want], q
                for g, w in zip(got, want):
                    assert math.isclose(g[1], w[1], rel_tol=1e-9)
    finally:
        r.close()


def test_warm_pinned_hot_set_survives_eviction_pressure(spark, built_index):
    """warm_hot_terms pins the warmed entries: flooding the decoded LRU
    past its cap evicts unpinned entries but never the warmed hot set
    (steady hot latency stays bounded regardless of query mix); close()
    drops this reader's pin shares."""
    import numpy as np

    from indexer_spark import query as Q

    index_dir, _ = built_index
    pre_counts = dict(Q._DECODED_CACHE._pins)  # other readers' shares
    r = Q.IndexReader(spark, index_dir)
    try:
        assert r.warm_hot_terms(4, raw=True) == 4
        pinned = set(r._pinned_keys)
        assert pinned
        cap = Q._DECODED_CACHE.max_bytes
        filler = np.zeros(1 << 16, dtype=np.int64)  # 512 KiB each
        n_fill = int(cap // filler.nbytes) + 8
        for i in range(n_fill):
            Q._DECODED_CACHE.put(("flood", i), (filler,))
        # every pinned entry survived the flood...
        for k in pinned:
            assert Q._DECODED_CACHE.get(k) is not None, k
        # ...and early flood entries were evicted in their place
        assert Q._DECODED_CACHE.get(("flood", 0)) is None
        # the warmed term still serves from cache
        hot = r._top_terms(1)[0][0]
        assert r.search(hot, 10)
        assert r.last_path == "fast"
    finally:
        r.close()
    # close() released exactly this reader's shares (refcounts back to
    # their pre-test values; keys other readers never pinned are gone)
    for k in pinned:
        assert Q._DECODED_CACHE._pins.get(k, 0) == pre_counts.get(k, 0)

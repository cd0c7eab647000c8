"""Incremental append + Structured Streaming maintenance tests."""

import math
import os

import pytest

import indexer_spark.query as Q
from indexer_spark.build import (
    BuildConfig,
    append_index,
    build_index,
    read_manifest,
    read_stats,
)
from indexer_spark.oracle import OracleIndex
from indexer_spark.query import IndexReader
from indexer_spark.synth import gen_transcripts

CFG = dict(block_size=32, id_partitions=3)


def _batches(spark):
    # batch B has much longer docs -> global avgdl rises after append,
    # exercising the pruned scorer's upper-bound rescale
    a = gen_transcripts(800, seed=21, mean_turn_len=20)
    b = gen_transcripts(600, seed=22, mean_turn_len=120)
    b["conv_id"] = "zz_" + b["conv_id"]  # appended convs sort after batch A
    return a, b


def _oracle_for(a, b=None):
    docs = []
    sa = a.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    docs.extend(sa["text"].tolist())
    if b is not None:
        sb = b.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        docs.extend(sb["text"].tolist())
    return OracleIndex(list(enumerate(docs)))


@pytest.fixture(scope="module")
def appended_index(spark, tmp_path_factory):
    a, b = _batches(spark)
    d = str(tmp_path_factory.mktemp("appended"))
    build_index(spark, spark.createDataFrame(a), d, BuildConfig(**CFG))
    stats0 = read_stats(d)
    stats1 = append_index(spark, spark.createDataFrame(b), d, BuildConfig(**CFG))
    return d, a, b, stats0, stats1


def test_append_stats_and_manifest(appended_index):
    d, a, b, stats0, stats1 = appended_index
    assert stats0["n_docs"] == 800 and stats1["n_docs"] == 1400
    assert stats1["avgdl"] > stats0["avgdl"]  # batch B is longer
    assert stats1["n_shards"] == stats0["n_shards"] + 3
    m = read_manifest(d)
    post = [r for r in m if r["stage"] == "postings"]
    assert {r["shard"] for r in post} == set(range(6))
    # new shards record the new avgdl; old shards the old one
    assert all(
        math.isclose(r["avgdl_build"], stats1["avgdl"]) for r in post if r["shard"] >= 3
    )
    assert all(
        math.isclose(r["avgdl_build"], stats0["avgdl"]) for r in post if r["shard"] < 3
    )


def test_append_matches_oracle(spark, appended_index):
    d, a, b, _s0, _s1 = appended_index
    oracle = _oracle_for(a, b)
    reader = IndexReader(spark, d)
    assert reader._ub_scale  # old shards need rescaling (avgdl rose)
    for q in ["run dog", "don't", "3.14", "fast table"]:
        want = oracle.search_bm25(q, 10)
        got = reader.search(q, 10, mode="exhaustive")
        assert [x[0] for x in got] == [x[0] for x in want], q
        for g, w in zip(got, want):
            assert math.isclose(g[1], w[1], rel_tol=1e-9)


def test_append_pruned_safe_after_avgdl_drift(spark, appended_index, monkeypatch):
    """Force the segment-pruning path (threshold 0) on an index whose
    avgdl rose after build: the ub rescale must keep pruning exact."""
    d, a, b, _s0, _s1 = appended_index
    monkeypatch.setattr(Q, "SMALL_SHARD_THRESHOLD", 0)
    reader = IndexReader(spark, d)
    oracle = _oracle_for(a, b)
    for q in ["run dog", "fast table", "don't"]:
        want = [x[0] for x in oracle.search_bm25(q, 10)]
        got = [x[0] for x in reader.search(q, 10, mode="pruned")]
        assert got == want, q


def test_append_is_idempotent_before_stats_commit(spark, tmp_path):
    """Re-running a batch whose stats.json never committed must yield the
    same final state (crash-replay safety)."""
    a, b = _batches(spark)
    d1, d2 = str(tmp_path / "one"), str(tmp_path / "two")
    for d in (d1, d2):
        build_index(spark, spark.createDataFrame(a), d, BuildConfig(**CFG))
    append_index(spark, spark.createDataFrame(b), d1, BuildConfig(**CFG))
    # d2: simulate crash-after-postings-before-stats by appending twice
    # with a manual stats rollback in between
    import json
    import shutil

    stats_path = os.path.join(d2, "stats.json")
    pre = open(stats_path).read()
    append_index(spark, spark.createDataFrame(b), d2, BuildConfig(**CFG))
    with open(stats_path, "w") as f:
        f.write(pre)  # roll back stats (as if the crash hit before commit)
    shutil.rmtree(os.path.join(d2, "manifest.jsonl"), ignore_errors=True)
    # manifest rollback: drop the append's rows
    m = [r for r in read_manifest(d2) if r["shard"] < 3 and r["stage"] == "postings"
         or (r["stage"] == "ids" and "append" not in r["lineage"])]
    with open(os.path.join(d2, "manifest.jsonl"), "w") as f:
        for r in m:
            f.write(json.dumps(r) + "\n")
    append_index(spark, spark.createDataFrame(b), d2, BuildConfig(**CFG))

    r1, r2 = IndexReader(spark, d1), IndexReader(spark, d2)
    assert read_stats(d1)["n_docs"] == read_stats(d2)["n_docs"] == 1400
    for q in ["run dog", "fast"]:
        assert r1.search(q, 10) == r2.search(q, 10)


def test_update_reindexes_changed_turns(spark, tmp_path):
    """The reference's freshness re-index (lib.rs:210-224) minus its
    duplicate-postings bug Q2: update a turn, tombstone another; ids are
    stable, the old text stops matching, the new text matches exactly
    once, and full BM25 parity vs an oracle over the modified corpus
    holds (the Q2 bug would double postings and inflate scores)."""
    import math

    from indexer_spark.build import delete_turns, update_index

    a = gen_transcripts(800, seed=31)
    sa = a.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    d = str(tmp_path / "upd")
    build_index(spark, spark.createDataFrame(a), d,
                BuildConfig(block_size=32, id_partitions=3))
    texts = sa["text"].tolist()
    old5_word = texts[5].split()[0]
    old17_word = texts[17].split()[0]
    texts[5] = "zzmarker flux polymerization zzmarker"
    texts[17] = ""

    changed = spark.createDataFrame(
        [(sa["conv_id"][5], int(sa["turn_idx"][5]), texts[5])],
        "conv_id string, turn_idx int, text string",
    )
    update_index(spark, changed, d)
    dels = spark.createDataFrame(
        [(sa["conv_id"][17], int(sa["turn_idx"][17]))],
        "conv_id string, turn_idx int",
    )
    stats = delete_turns(spark, dels, d)
    assert stats["n_docs"] == 800  # N unchanged (quirk Q1: empties count)

    oracle = OracleIndex(list(enumerate(texts)))
    reader = IndexReader(spark, d)
    got = reader.search("zzmarker", 10)
    assert got and got[0][0] == 5  # stable id, new text matches
    want = oracle.search_bm25("zzmarker", 10)
    assert [x[0] for x in got] == [x[0] for x in want]
    for g, w in zip(got, want):
        assert math.isclose(g[1], w[1], rel_tol=1e-9)  # anti-Q2: no double tf
    # tombstoned turn matches nothing anymore
    assert 17 not in [
        x[0] for x in reader.search(old17_word, 800, mode="exhaustive")
    ]
    for q in [old5_word, old17_word, "zzmarker flux", "run dog"]:
        want = oracle.search_bm25(q, 10)
        got = reader.search(q, 10, mode="exhaustive")
        assert [x[0] for x in got] == [x[0] for x in want], q
        for g, w in zip(got, want):
            assert math.isclose(g[1], w[1], rel_tol=1e-9)
    # pruned mode stays exact across the rebuilt/untouched shard mix
    for q in ["zzmarker", "run dog"]:
        assert reader.search(q, 10, mode="pruned") == reader.search(
            q, 10, mode="exhaustive"
        )


def test_shard_map_parquet_graduation(spark, tmp_path):
    """Past shard_map_json_max shards, offsets/counts live in the parquet
    shard_map table instead of stats.json; build, query, resolve,
    docstore and append all work through the graduated container."""
    import json

    from indexer_spark.build import docstore

    pdf = gen_transcripts(512, seed=41)
    d = str(tmp_path / "bigmap")
    cfg = BuildConfig(block_size=32, id_partitions=128, shard_map_json_max=16)
    build_index(spark, spark.createDataFrame(pdf), d, cfg)

    raw = json.load(open(os.path.join(d, "stats.json")))
    assert raw.get("shard_map") == "parquet"
    assert "shard_offsets" not in raw and "shard_counts" not in raw
    assert os.path.exists(os.path.join(d, "shard_map", "map.parquet"))
    stats = read_stats(d)  # auto-loads the parquet container
    assert stats["n_docs"] == 512
    assert len(stats["shard_offsets"]) > 16

    sa = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    oracle = OracleIndex(list(enumerate(sa["text"].tolist())))
    reader = IndexReader(spark, d)
    q = sa["text"].iloc[0].split()[0]
    got = reader.search(q, 10)
    assert [x[0] for x in got] == [x[0] for x in oracle.search_bm25(q, 10)]
    assert reader.resolve(got).count() == len(got)
    assert docstore(spark, d).count() == 512

    b = gen_transcripts(100, seed=42)
    b["conv_id"] = "zz_" + b["conv_id"]
    append_index(spark, spark.createDataFrame(b), d,
                 BuildConfig(block_size=32, id_partitions=4))
    raw2 = json.load(open(os.path.join(d, "stats.json")))
    assert raw2.get("shard_map") == "parquet" and "shard_offsets" not in raw2
    st2 = read_stats(d)
    assert st2["n_docs"] == 612
    assert len(st2["shard_offsets"]) == len(stats["shard_offsets"]) + 4


def test_fresh_rebuild_removes_stale_shards(spark, tmp_path):
    """A fresh (resume=False) rebuild with FEWER shards into a used dir
    must not leave ghost tok/postings shards from the previous build
    (dynamic partition overwrite only replaces shards present in the new
    data)."""
    a, _b = _batches(spark)
    d = str(tmp_path / "rebuilt")
    ref = str(tmp_path / "ref")
    build_index(spark, spark.createDataFrame(a), d,
                BuildConfig(block_size=32, id_partitions=4))
    small = a.iloc[:200]
    build_index(spark, spark.createDataFrame(small), d,
                BuildConfig(block_size=32, id_partitions=2))
    build_index(spark, spark.createDataFrame(small), ref,
                BuildConfig(block_size=32, id_partitions=2))
    assert read_stats(d)["n_docs"] == read_stats(ref)["n_docs"]
    for sub in ("tok", "postings"):
        shards = {
            p for p in os.listdir(os.path.join(d, sub))
            if p.startswith("shard=")
        }
        assert shards <= {"shard=0", "shard=1"}, f"ghost {sub} shards: {shards}"
    r1, r2 = IndexReader(spark, d), IndexReader(spark, ref)
    for q in ["run dog", "fast"]:
        assert r1.search(q, 10) == r2.search(q, 10)


def test_append_pins_encoding_params(spark, tmp_path):
    """Appending with a mismatched block_size/k1/b must use the values the
    index was built with (a block_size mismatch corrupts per-block decode
    offsets; a k1/b mismatch makes stored block maxima unsafe)."""
    a, b = _batches(spark)
    d = str(tmp_path / "pinned")
    build_index(spark, spark.createDataFrame(a), d, BuildConfig(**CFG))
    append_index(
        spark, spark.createDataFrame(b), d,
        BuildConfig(block_size=128, k1=2.0, b=0.5, id_partitions=3),
    )
    st = read_stats(d)
    assert (st["block_size"], st["k1"], st["b"]) == (32, 1.2, 0.75)
    oracle = _oracle_for(a, b)
    reader = IndexReader(spark, d)
    for q in ["run dog", "fast table"]:
        want = [x[0] for x in oracle.search_bm25(q, 10)]
        assert [x[0] for x in reader.search(q, 10, mode="pruned")] == want


def test_stream_crash_window_replays_not_lost(spark, tmp_path):
    """The silent-batch-loss window: an intent/ids manifest row written
    before postings+stats committed must NOT mask the replay. Only
    append_commit rows advance the batch-id guard, and a replay after a
    mid-append crash recomputes identical state from the pinned bases."""
    import json

    from indexer_spark.build import _append_manifest
    from indexer_spark.streaming import _last_batch_id

    a, b = _batches(spark)
    d = str(tmp_path / "crashy")
    build_index(spark, spark.createDataFrame(a), d, BuildConfig(**CFG))

    # crash window 1: intent logged, nothing else happened
    _append_manifest(d, [{
        "stage": "append_intent", "shard": -1, "status": "pending",
        "batch": "stream-0", "base_docs": 800, "base_shards": 3,
        "base_total_len": read_stats(d)["total_len"], "p": 3,
        "lineage": "{}", "finished_at": "t",
    }])
    assert _last_batch_id(d) == -1  # replay must run, not be skipped
    append_index(spark, spark.createDataFrame(b), d, BuildConfig(**CFG),
                 batch_label="stream-0", dedupe_batch=True)
    assert read_stats(d)["n_docs"] == 1400
    assert _last_batch_id(d) == 0

    # crash window 2: everything committed EXCEPT the commit row
    # (stats.json already advanced) -> replay must be a no-op state-wise
    rows = [r for r in
            [json.loads(x) for x in open(os.path.join(d, "manifest.jsonl"))]
            if r.get("stage") != "append_commit"]
    with open(os.path.join(d, "manifest.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    assert _last_batch_id(d) == -1
    append_index(spark, spark.createDataFrame(b), d, BuildConfig(**CFG),
                 batch_label="stream-0", dedupe_batch=True)
    assert read_stats(d)["n_docs"] == 1400  # NOT double-indexed
    assert _last_batch_id(d) == 0

    # fully committed replay: exactly-once skip
    append_index(spark, spark.createDataFrame(b), d, BuildConfig(**CFG),
                 batch_label="stream-0", dedupe_batch=True)
    assert read_stats(d)["n_docs"] == 1400

    oracle = _oracle_for(a, b)
    reader = IndexReader(spark, d)
    for q in ["run dog", "fast table"]:
        want = [x[0] for x in oracle.search_bm25(q, 10)]
        assert [x[0] for x in reader.search(q, 10)] == want


def test_reader_close_restores_session_confs(spark, tmp_path):
    """IndexReader may raise maxPartitionBytes/openCostInBytes for the
    whole-file-scan invariant; close() must restore the priors so later
    unrelated scans don't inherit tiny split sizes."""
    a, _b = _batches(spark)
    d = str(tmp_path / "confs")
    build_index(spark, spark.createDataFrame(a), d, BuildConfig(**CFG))
    keys = ("spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes")
    # force the reader to raise the conf by lowering it first
    priors = {k: spark.conf.get(k) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "1024")
        q = a["text"].iloc[0].split()[0]  # guaranteed in-vocabulary
        with IndexReader(spark, d) as r:
            assert r._whole_file_tasks
            assert r.search(q, 5)  # works while raised
            raised = {k: spark.conf.get(k) for k in keys}
            assert all(int(v) > 1024 for v in raised.values())
        assert {k: spark.conf.get(k) for k in keys} == {k: "1024" for k in keys}
    finally:
        for k, v in priors.items():
            spark.conf.set(k, v)


def test_streaming_maintenance(spark, tmp_path):
    """Two parquet drops consumed by a streaming query via foreachBatch
    append: the final index equals the batch-built equivalent."""
    from indexer_spark.streaming import stream_index

    a, b = _batches(spark)
    src_dir = str(tmp_path / "stream_src")
    os.makedirs(src_dir)
    d = str(tmp_path / "sidx")
    # seed index with batch A, stream batch B in (one-batch stream)
    build_index(spark, spark.createDataFrame(a), d, BuildConfig(**CFG))
    spark.createDataFrame(b).coalesce(1).write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
        ).parquet(src_dir)
    )
    q = stream_index(
        spark, stream, d, BuildConfig(**CFG),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert read_stats(d)["n_docs"] == 1400

    oracle = _oracle_for(a, b)
    reader = IndexReader(spark, d)
    for qq in ["run dog", "fast table"]:
        want = [x[0] for x in oracle.search_bm25(qq, 10)]
        got = [x[0] for x in reader.search(qq, 10)]
        assert got == want, qq


def test_refresh_snapshot_repins_split_size(spark, tmp_path):
    """A long-lived reader whose index grew underneath it must re-derive
    the whole-file split pin on snapshot refresh: append/update grow
    max_postings_file_bytes monotonically, and a postings file larger
    than the init-time pin would split across scan tasks, breaking the
    per-shard grouping the shuffle-free scorer relies on (partial BM25
    sums). The refresh must also re-probe the term_stats schema."""
    import math as _math

    from indexer_spark.query import _parse_bytes

    a, b = _batches(spark)
    d = str(tmp_path / "repin")
    build_index(spark, spark.createDataFrame(a), d, BuildConfig(**CFG))
    r = IndexReader(spark, d)
    try:
        assert r._need_bytes is not None and r._whole_file_tasks
        append_index(spark, spark.createDataFrame(b), d, BuildConfig(**CFG))
        r._refresh_snapshot()
        new_max = int(read_stats(d)["max_postings_file_bytes"])
        assert r._need_bytes == new_max + 1
        assert r._has_nbytes is None  # schema re-probed lazily
        # the session conf covers the refreshed pin
        cur = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes")
        )
        assert cur is not None and cur >= r._need_bytes
        # post-refresh distributed scoring matches the oracle on the
        # grown snapshot
        oracle = _oracle_for(a, b)
        for q in ["the alpha", "conversation turn"]:
            want = oracle.search_bm25(q, 10)
            got = r.search(q, 10)
            assert [x[0] for x in got] == [x[0] for x in want], q
            for g, w in zip(got, want):
                assert _math.isclose(g[1], w[1], rel_tol=1e-9)
    finally:
        r.close()


def test_long_lived_reader_serves_appended_snapshot(spark, tmp_path):
    """A reader that searched and resolved before append_index must, once
    a term_stats read finds the pre-append files replaced, serve the
    appended snapshot: the same (doc_id, score) lists as a fresh reader,
    and resolve_local must resolve every hit — including hits in the
    appended shards, which postings and docstore handles listed before
    the append cannot see."""
    from indexer_spark.lexer import tokenize

    a, b = _batches(spark)
    d = str(tmp_path / "longlived")
    build_index(spark, spark.createDataFrame(a), d, BuildConfig(**CFG))
    queries = [" ".join(str(t).split()[:3]) for t in a["text"].head(6)]
    seen = {t for q in queries for t in tokenize(q)}
    # first query after the append: a term the old reader never looked
    # up, so its term_stats read hits the replaced files
    new_term = next(
        w for text in b["text"] for w in str(text).split()
        if (tw := tokenize(w)) and tw[0] not in seen
    )
    old = IndexReader(spark, d)
    try:
        for q in queries:
            hits = old.search(q, 10)
            assert len(old.resolve_local(hits)) == len(hits)
        append_index(spark, spark.createDataFrame(b), d, BuildConfig(**CFG))
        fresh = IndexReader(spark, d)
        try:
            n_base = len(a)
            saw_appended = False
            for q in [f"{new_term} {queries[0]}"] + queries:
                want = fresh.search(q, 10)
                got = old.search(q, 10)
                assert got == want, q
                res = old.resolve_local(got)
                assert [r["doc_id"] for r in res] == [h for h, _ in got], q
                assert res == fresh.resolve_local(want), q
                saw_appended |= any(h >= n_base for h, _ in got)
            assert saw_appended  # the appended shards were really served
        finally:
            fresh.close()
    finally:
        old.close()

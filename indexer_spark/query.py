"""BM25 / TF-IDF top-k query execution over the sharded compressed index.

Replaces the reference's two-pass search (/root/reference/src/tree.rs:388-465
— full dict scan, then seek+deserialize every matching postings list and
score EVERY matching doc, then full sort) with:

  1. driver: tokenize query (identical lexer to the build side,
     lib.rs:92-96), look up global df for the query terms in the
     term_stats table (broadcast-sized collect — J3's semi-join),
  2. executors: scan only postings rows with term IN (...) — Parquet
     row-group pruning via the term-sorted layout stands in for the
     reference's (offset, len) dictionary seeks (tree.rs:434-443),
  3. per shard (applyInPandas): decode + score vectorized; either
     exhaustively, or with safe block-max pruning ("pruned" mode):
     segments bounded by block boundaries are processed in descending
     score-upper-bound order and the scan stops when no remaining segment
     can beat the current k-th score — skipped blocks are never even
     decompressed (per-block byte offsets). Because a segment is a doc_id
     range and shards partition doc_ids, every doc's FULL score is
     computed inside its segment — pruning is exact, verified by
     tests against exhaustive mode.
  4. per-shard top-k -> global orderBy(score desc, doc_id asc).limit(k)
     (Spark plans TakeOrderedAndProject — true distributed top-k, unlike
     the reference's full sort, tree.rs:462; doc_id tiebreak is our
     documented determinism deviation Q6).
"""

from __future__ import annotations

import math
import os
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import (
    _postings_path,
    _term_stats_path,
    _tok_path,
    locate_doc_ids,
    read_manifest,
    read_stats,
)
from .compress import (
    decode_block_slice,
    decode_positions,
    decode_positions_select,
    decode_postings,
)
from .lexer import term_occurrences, tokenize

_SCORE_SCHEMA = "doc_id long, score double"

# IndexReader._dataset: table -> (path of index_dir, pyarrow partitioning)
_TABLES = {
    "term_stats": (_term_stats_path, None),
    "postings": (_postings_path, "hive"),
    "tok": (_tok_path, "hive"),
}

# below this many candidate postings in a shard, the vectorized exhaustive
# path beats the segment loop's per-segment Python overhead (tests lower it
# to force the pruning path on small fixtures)
SMALL_SHARD_THRESHOLD = 200_000


_SIZE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(v: str) -> int | None:
    """Parse Spark size confs: '33554432', '128m', '1g', '128mb'..."""
    s = str(v).strip().lower().removesuffix("b")
    if s and s[-1] in _SIZE_SUFFIX:
        try:
            return int(float(s[:-1]) * _SIZE_SUFFIX[s[-1]])
        except ValueError:
            return None
    try:
        return int(s)
    except ValueError:
        return None


def _bm25_normpart(tf64: np.ndarray, dl: np.ndarray, k1: float, b: float,
                   avgdl: float) -> np.ndarray:
    """Query-independent BM25 tf-normalization. The SINGLE definition of
    this expression: the -2 cache entries, the driver paths and the
    distributed scorers must all produce bit-identical floats, so they
    all call this (an epsilon change anywhere else would silently break
    the repeat-path identity invariants). ``tf64`` must be float64;
    ``dl`` keeps its decoded dtype (int64) — the division promotes."""
    return tf64 * (k1 + 1.0) / (tf64 + k1 * (1.0 - b + b * dl / avgdl))


def _bm25_idf(n: int, df: int) -> float:
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


def _topk_merge(ids: np.ndarray, scores: np.ndarray, k: int):
    """Exact top-k with (score desc, doc_id asc) tiebreak.

    For large candidate sets, an O(n) argpartition narrows to every
    element scoring >= the k-th best BEFORE the O(m log m) lexsort —
    a full sort of millions of candidates for a top-10 was the single
    biggest cost of hot-term queries. Ties at the boundary are kept in
    the narrowed set, so the doc_id-asc tiebreak stays exact."""
    n = ids.size
    if n == 0:
        return ids, scores
    if n > max(4096, 4 * k) and k < n:
        kth = -np.partition(-scores, k - 1)[k - 1]
        mask = scores >= kth  # >= keeps boundary ties for the tiebreak
        ids, scores = ids[mask], scores[mask]
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]


class _DecodedLRU:
    """Decoded-postings cache, byte-bounded LRU.

    Lives at module level: Spark reuses Python worker processes across
    tasks and queries, so a hot term's postings decode once per worker
    instead of once per query (the driver fast path shares the same cache
    in the driver process). Keys carry the reader's cache namespace —
    (index dir, stats.json ``epoch``, bumped on every stats commit) —
    plus df and payload length, so entries from a superseded index
    version, or from a different index in the same session, can never be
    returned for other bytes. Values are immutable numpy array tuples —
    scorers only slice/astype them."""

    def __init__(self, max_bytes: int = 128 << 20):
        import threading
        from collections import OrderedDict

        self._d: "OrderedDict[tuple, tuple]" = OrderedDict()
        self._bytes = 0
        self.max_bytes = max_bytes
        # warmed hot-set entries are PINNED (refcounted by reader):
        # eviction skips them, so a burst of large unwarmed decodes can
        # never silently evict the hot set a service paid to warm —
        # steady-state hot latency stays bounded regardless of query mix
        self._pins: dict[tuple, int] = {}
        # the threaded query server shares one reader across request
        # threads; individual dict ops are GIL-atomic but the
        # move_to_end/evict sequences are not, so guard them
        self._lock = threading.Lock()

    def get(self, key):
        with self._lock:
            v = self._d.get(key)
            if v is not None:
                self._d.move_to_end(key)
            return v

    def put(self, key, arrays):
        with self._lock:
            if key in self._d:
                return
            self._d[key] = arrays
            self._bytes += sum(a.nbytes for a in arrays)
            # evict oldest-first, skipping pinned entries (a skipped pin
            # is moved to the MRU end so the scan terminates); if the
            # overflow is entirely pinned mass the cache may exceed the
            # cap — warm budget sizing bounds that by construction
            n_scan = len(self._d)
            while self._bytes > self.max_bytes and n_scan > 0:
                k = next(iter(self._d))
                n_scan -= 1
                if k in self._pins:
                    self._d.move_to_end(k)
                    continue
                old = self._d.pop(k)
                self._bytes -= sum(a.nbytes for a in old)

    def discard(self, keys) -> None:
        """Drop ``keys`` (absent ones are ignored) with their pins,
        keeping the byte count equal to the resident entries' total."""
        with self._lock:
            for k in keys:
                old = self._d.pop(k, None)
                if old is not None:
                    self._bytes -= sum(a.nbytes for a in old)
                self._pins.pop(k, None)

    def pin(self, key) -> bool:
        """Take one pin share on a RESIDENT entry (False if absent —
        pinning a missing key is meaningless). Refcounted: a key pinned
        by two readers stays pinned until both unpin."""
        with self._lock:
            if key not in self._d:
                return False
            self._pins[key] = self._pins.get(key, 0) + 1
            return True

    def unpin(self, keys) -> None:
        """Drop one pin share per key (a reader unpins on close)."""
        with self._lock:
            for k in keys:
                n = self._pins.get(k)
                if n is None:
                    continue
                if n <= 1:
                    del self._pins[k]
                else:
                    self._pins[k] = n - 1


_DECODED_CACHE = _DecodedLRU()

# warm_hot_terms raises the process-global decoded-cache cap; with several
# reader lifecycles interleaved in one process (a server swapping indexes),
# per-reader "restore my prior" bookkeeping can settle the cap at a stale
# intermediate raise (A warms to X, B warms to Y>X, A closes as a no-op, B
# closes restoring A's X). A module-level refcount + the ONE genuine
# pre-raise cap makes the LAST closer restore the true original.
import threading as _threading

_CACHE_CAP_LOCK = _threading.Lock()
_CACHE_CAP_REFS = 0
_CACHE_CAP_ORIG: int | None = None


def _cache_cap_acquire(want_cap: int) -> None:
    """Raise the global decoded-cache cap to at least want_cap, taking one
    refcount share for the calling reader (idempotent raises by the same
    reader must call this only on their FIRST raise)."""
    global _CACHE_CAP_REFS, _CACHE_CAP_ORIG
    with _CACHE_CAP_LOCK:
        if _CACHE_CAP_REFS == 0:
            _CACHE_CAP_ORIG = _DECODED_CACHE.max_bytes
        _CACHE_CAP_REFS += 1
        if want_cap > _DECODED_CACHE.max_bytes:
            _DECODED_CACHE.max_bytes = want_cap


def _cache_cap_release() -> None:
    """Drop one refcount share; the last release restores the genuine
    pre-raise cap (never an intermediate raise)."""
    global _CACHE_CAP_REFS, _CACHE_CAP_ORIG
    with _CACHE_CAP_LOCK:
        if _CACHE_CAP_REFS == 0:
            return
        _CACHE_CAP_REFS -= 1
        if _CACHE_CAP_REFS == 0 and _CACHE_CAP_ORIG is not None:
            _DECODED_CACHE.max_bytes = _CACHE_CAP_ORIG
            _CACHE_CAP_ORIG = None


def _aggregate_scores(id_chunks, score_chunks):
    """Per-term contribution arrays -> per-doc sums, O(n) with no sort.

    doc_ids are DENSE (engine-assigned, §2.5), so a [min, max] range
    accumulator replaces the old stable-argsort + np.unique (two full
    sorts of every posting for a top-10 query). Within one chunk ids are
    unique (a term's postings) so fancy `+=` is safe; chunks arrive in
    sorted-term order and each doc's additions happen chunk-by-chunk in
    that order — the same sequential per-doc summation order as the old
    reduceat, so float results are bit-identical and stay pinned to the
    oracle's (sorted unique terms) order.

    Exact-zero sums are dropped by the nonzero scan — for TF-IDF this IS
    quirk P8 (tree.rs:456-459); BM25 contributions are strictly positive
    (idf > 0 for df < N), so nothing real is lost."""
    nonempty = [c for c in id_chunks if c.size]
    if not nonempty:
        z = np.zeros(0, dtype=np.int64)
        return z, np.zeros(0, dtype=np.float64)
    lo = min(int(c[0]) for c in nonempty)  # chunks are doc_id-sorted
    hi = max(int(c[-1]) for c in nonempty)
    span = hi - lo + 1
    n_total = sum(c.size for c in nonempty)
    if span > max(4 * n_total, 1 << 20):
        # sparse hits across a huge id range (possible only on the
        # driver path of a very large index): sort-based aggregation
        # instead of a span-sized accumulator
        ids = np.concatenate(id_chunks)
        sc = np.concatenate(score_chunks)
        order = np.argsort(ids, kind="stable")  # stable keeps term order
        ids, sc = ids[order], sc[order]
        firsts = np.empty(ids.size, dtype=bool)
        firsts[0] = True
        np.not_equal(ids[1:], ids[:-1], out=firsts[1:])
        starts = np.nonzero(firsts)[0]
        sums = np.add.reduceat(sc, starts)
        keep = sums != 0.0
        return ids[starts][keep], sums[keep]
    acc = np.zeros(span, dtype=np.float64)
    for d, s in zip(id_chunks, score_chunks):
        if d.size:
            acc[d - lo] += s
    nz = np.nonzero(acc)[0]
    return nz + lo, acc[nz]


def _aggregate_scores_and(id_chunks, score_chunks, n_required: int):
    """Conjunctive (AND) aggregation: per-doc sums KEEPING only docs that
    appear in exactly ``n_required`` chunks. Chunks are per (term, shard)
    and shards partition doc_ids, so a doc appears in at most one chunk
    per term — chunk-membership count == distinct-query-term count.
    Same dense range accumulator as _aggregate_scores (same chunk order,
    so float sums are bit-identical to the OR path for surviving docs),
    plus an int32 membership counter; the sparse fallback counts via
    reduceat group sizes."""
    nonempty = [c for c in id_chunks if c.size]
    if len(nonempty) < n_required:
        z = np.zeros(0, dtype=np.int64)
        return z, np.zeros(0, dtype=np.float64)
    lo = min(int(c[0]) for c in nonempty)
    hi = max(int(c[-1]) for c in nonempty)
    span = hi - lo + 1
    n_total = sum(c.size for c in nonempty)
    if span > max(4 * n_total, 1 << 20):
        ids = np.concatenate(id_chunks)
        sc = np.concatenate(score_chunks)
        order = np.argsort(ids, kind="stable")
        ids, sc = ids[order], sc[order]
        firsts = np.empty(ids.size, dtype=bool)
        firsts[0] = True
        np.not_equal(ids[1:], ids[:-1], out=firsts[1:])
        starts = np.nonzero(firsts)[0]
        sums = np.add.reduceat(sc, starts)
        sizes = np.diff(np.append(starts, ids.size))
        keep = sizes == n_required
        return ids[starts][keep], sums[keep]
    acc = np.zeros(span, dtype=np.float64)
    cnt = np.zeros(span, dtype=np.int32)
    for d, s in zip(id_chunks, score_chunks):
        if d.size:
            acc[d - lo] += s
            cnt[d - lo] += 1
    hit = np.nonzero(cnt == n_required)[0]
    return hit + lo, acc[hit]


# per-shard driver aggregation goes thread-parallel past this many total
# postings (below it, pool startup costs more than it saves); threads
# default to 4 — numpy's scatter/nonzero kernels release the GIL enough
# for ~3x there, and MORE threads regress on memory-bus contention
# (measured on 306x63k-posting shards: seq 0.99 s, 4T 0.31 s, 16T 0.71 s)
_SHARDED_MIN_POSTINGS = 500_000


def _score_threads() -> int:
    try:
        return max(1, int(os.environ.get("INDEXER_SPARK_SCORE_THREADS", "4")))
    except (TypeError, ValueError):
        return 4


def _resolve_score_chunks(scc: list) -> list:
    """Score chunks may arrive as (weight, array) pairs — the weight
    multiply then happens HERE, inside the per-shard worker thread,
    instead of serially in the collection loop (75M-element multiplies
    for a 5-hot-term query at 20M docs cost ~0.18 s single-threaded).
    int arrays promote to float64 in the multiply, exactly as the
    explicit astype did."""
    return [c[0] * c[1] if isinstance(c, tuple) else c for c in scc]


def _aggregate_scores_sharded(chunks_by_shard: dict, k: int,
                              require_all: int = 0):
    """Driver-path aggregation grouped by shard: each shard's chunks
    (in sorted-term order) aggregate independently — shards PARTITION
    the doc_id space, so every doc's contribution order is unchanged and
    sums stay bit-identical to the flat path — then each shard narrows
    to its >=kth-score candidates (a global top-k doc is necessarily a
    shard top-k doc; >= keeps boundary ties so the doc_id-asc tiebreak
    stays exact downstream in _topk_merge).

    Two wins over one flat span accumulator at large index sizes:
    shard-sized accumulators are cache-resident (65Ki docs x 8 B vs a
    160 MB span for a 20M-doc index), and shards run on a small thread
    pool. Measured at 20M docs / 5 hot terms (96M postings): 1.15 s ->
    ~0.35 s steady. Small queries (< _SHARDED_MIN_POSTINGS) run the
    flat sequential path unchanged."""
    shards = sorted(chunks_by_shard)
    n_total = sum(
        c.size for idc, _ in chunks_by_shard.values() for c in idc
    )

    def agg(idc, scc):
        scc = _resolve_score_chunks(scc)
        if require_all:
            return _aggregate_scores_and(idc, scc, require_all)
        return _aggregate_scores(idc, scc)

    if len(shards) <= 1 or n_total < _SHARDED_MIN_POSTINGS:
        flat_ids = [c for sh in shards for c in chunks_by_shard[sh][0]]
        flat_sc = [c for sh in shards for c in chunks_by_shard[sh][1]]
        return agg(flat_ids, flat_sc)

    def work(sh):
        idc, scc = chunks_by_shard[sh]
        ids, sums = agg(idc, scc)
        if sums.size > k:
            kth = np.partition(sums, -k)[-k]
            m = sums >= kth
            ids, sums = ids[m], sums[m]
        return ids, sums

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(_score_threads()) as ex:
        res = list(ex.map(work, shards))
    return (
        np.concatenate([r[0] for r in res]),
        np.concatenate([r[1] for r in res]),
    )


def _make_exhaustive_scorer(
    weights: dict[str, float], k1, b, avgdl, k, kind, epoch: tuple | None = None,
    require_all: int = 0,
):
    """kind='bm25': contribution = w * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl));
    kind='tfidf': contribution = w * tf (reference scorer, tree.rs:445-449).
    ``epoch``: when set, full decoded lists go through the worker-side
    _DECODED_CACHE so repeated hot-term queries skip the varint decode.
    ``require_all``: >0 switches to conjunctive (AND) semantics — only
    docs containing all ``require_all`` distinct query terms survive
    (an extension beyond the OR-only reference, SURVEY §2.7; scoring of
    survivors is unchanged BM25/TF-IDF)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"doc_id": [], "score": []})
        # resolve the cache through the module AT CALL TIME: a direct
        # global reference would be captured BY VALUE by cloudpickle
        # (closures serialize their referenced globals), shipping the
        # driver's cache snapshot inside every task and giving each task
        # a private copy instead of the worker-shared module-level LRU
        cache = None
        if epoch is not None:
            from indexer_spark.query import _DECODED_CACHE as cache
        pdf = pdf.sort_values("term", kind="stable")
        has_shard = "shard" in pdf.columns
        id_chunks, sc_chunks = [], []
        for row in pdf.itertuples():
            shard_id = int(row.shard) if has_shard else -1
            base_key = (
                (epoch, shard_id, row.term, int(row.df), len(row.docs))
                if cache is not None else None
            )
            w = weights[row.term]
            if kind == "bm25" and base_key is not None:
                # the tf-normalization part is QUERY-INDEPENDENT (idf is
                # the only per-query factor), so cache (doc_ids, normpart)
                # once per (term, shard, epoch) — a repeat hot-term query
                # pays only the weighted accumulate, not decode or the
                # BM25 arithmetic. avgdl/k1/b changes bump the epoch.
                hit = cache.get(base_key + (-2,))
                if hit is not None:
                    d, normpart = hit
                    id_chunks.append(d)
                    sc_chunks.append(w * normpart)
                    continue
            cached = cache.get(base_key + (-1,)) if base_key else None
            if cached is None:
                cached = decode_postings(
                    row.docs, row.tfs, row.dls, int(row.df)
                )
                # bm25 repeats only ever read the compact -2 normpart
                # entry below — storing the raw tuple too would spend
                # ~60% of cache capacity on entries nothing reads
                if base_key is not None and kind != "bm25":
                    cache.put(base_key + (-1,), cached)
            d, t, dl = cached
            tf = t.astype(np.float64)
            if kind == "bm25":
                normpart = _bm25_normpart(tf, dl, k1, b, avgdl)
                if base_key is not None:
                    cache.put(base_key + (-2,), (d, normpart))
                contrib = w * normpart
            else:
                contrib = w * tf
            id_chunks.append(d)
            sc_chunks.append(contrib)
        if require_all:
            uids, sums = _aggregate_scores_and(
                id_chunks, sc_chunks, require_all
            )
        else:
            uids, sums = _aggregate_scores(id_chunks, sc_chunks)
        if kind == "tfidf":
            keep = sums != 0.0  # P8: drop exact-zero scores (tree.rs:456-459)
            uids, sums = uids[keep], sums[keep]
        uids, sums = _topk_merge(uids, sums, k)
        return pd.DataFrame({"doc_id": uids, "score": sums})

    return fn


def _make_and_scorer(
    idf: dict[str, float], k1, b, avgdl, k, block_size,
    n_required: int, epoch: tuple | None = None,
):
    """Candidate-driven conjunctive (AND) scorer.

    The conjunction is evaluated shard-locally (doc-range sharding keeps
    ALL of a doc's postings in its shard): a query term absent from the
    shard empties it without decoding a byte. Otherwise the rarest term
    is decoded in full to seed the candidate set, and every wider term
    decodes ONLY the blocks whose doc-id range covers a still-alive
    candidate (exact block metadata — last_doc_id — no score bounds
    involved, so avgdl drift is irrelevant here). A selective AND query
    therefore touches O(df_rarest) postings of a hot term instead of all
    of them. Survivor scores use the same per-element arithmetic and
    sorted-term addition order as the exhaustive AND accumulator
    (_aggregate_scores_and), so results are bit-identical to
    mode-exhaustive conjunction; blocks go through the worker-side
    decoded LRU under the pruned scorer's exact keys."""
    small_shard = SMALL_SHARD_THRESHOLD
    exhaustive = _make_exhaustive_scorer(
        idf, k1, b, avgdl, k, "bm25", epoch=epoch, require_all=n_required
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": [], "score": []})
        if len(pdf) == 0 or pdf["term"].nunique() < n_required:
            return empty
        if int(pdf["df"].sum()) < small_shard:
            return exhaustive(pdf)
        gcache = None
        if epoch is not None:
            from indexer_spark.query import _DECODED_CACHE as gcache
        shard = int(pdf["shard"].iloc[0])
        pdf = pdf.sort_values("term", kind="stable")
        terms = []
        for row in pdf.itertuples():
            blocks = list(row.blocks)
            terms.append({
                "term": row.term, "df": int(row.df), "docs": row.docs,
                "tfs": row.tfs, "dls": row.dls, "blocks": blocks,
                "lasts": np.array(
                    [blk["last_doc_id"] for blk in blocks], dtype=np.int64
                ),
                "w": idf[row.term], "cache": {},
                "ckey": (
                    (epoch, shard, row.term, int(row.df), len(row.docs))
                    if epoch is not None else None
                ),
            })

        def block(t, bi):
            cached = t["cache"].get(bi)
            if cached is None:
                gkey = (
                    t["ckey"] + (bi,)
                    if (t["ckey"] is not None and gcache is not None)
                    else None
                )
                cached = gcache.get(gkey) if gkey else None
                if cached is None:
                    cached = decode_block_slice(
                        t["docs"], t["tfs"], t["dls"], t["blocks"],
                        bi, bi + 1, t["df"], block_size=block_size,
                    )
                    if gkey is not None:
                        gcache.put(gkey, cached)
                t["cache"][bi] = cached
            return cached

        by_df = sorted(
            range(len(terms)), key=lambda i: (terms[i]["df"], terms[i]["term"])
        )
        t0 = terms[by_df[0]]
        cand = (
            np.concatenate(
                [block(t0, bi)[0] for bi in range(len(t0["blocks"]))]
            )
            if t0["blocks"] else np.zeros(0, dtype=np.int64)
        )
        for ti in by_df[1:]:
            if cand.size == 0:
                return empty
            t = terms[ti]
            bis = np.searchsorted(t["lasts"], cand)
            valid = bis < t["lasts"].size  # past the term's last doc
            present = np.zeros(cand.size, dtype=bool)
            for bi in np.unique(bis[valid]):
                d = block(t, int(bi))[0]
                sel = valid & (bis == bi)
                pos = np.searchsorted(d, cand[sel])
                ok = pos < d.size
                hit = np.zeros(int(sel.sum()), dtype=bool)
                hit[ok] = d[pos[ok]] == cand[sel][ok]
                present[sel] = hit
            cand = cand[present]
        if cand.size == 0:
            return empty

        score = np.zeros(cand.size, dtype=np.float64)
        for t in terms:  # sorted-term order pins float addition order
            contrib = np.empty(cand.size, dtype=np.float64)
            bis = np.searchsorted(t["lasts"], cand)
            for bi in np.unique(bis):
                d, tf, dl = block(t, int(bi))
                sel = bis == bi
                pos = np.searchsorted(d, cand[sel])
                tfv = tf[pos].astype(np.float64)
                contrib[sel] = t["w"] * _bm25_normpart(
                    tfv, dl[pos], k1, b, avgdl)
            score += contrib
        uids, sums = _topk_merge(cand, score, k)
        return pd.DataFrame({"doc_id": uids, "score": sums})

    return fn


def _positions_slice(pos: np.ndarray, starts: np.ndarray,
                     tfs: np.ndarray, sel: np.ndarray):
    """Select docs' position lists out of a FULL decoded (pos, starts)
    pair — value-identical to decode_positions_select on the raw blob,
    but a pure gather (no varint arithmetic). Returns (flat positions,
    segment starts) in ``sel`` order with len(sel)+1 starts."""
    tfs = np.asarray(tfs, dtype=np.int64)
    sel = np.asarray(sel, dtype=np.int64)
    out_tfs = tfs[sel] if sel.size else np.zeros(0, dtype=np.int64)
    starts_out = np.concatenate(([0], np.cumsum(out_tfs))).astype(np.int64)
    total = int(starts_out[-1])
    if total == 0:
        return np.zeros(0, dtype=np.int64), starts_out
    gather = (
        np.arange(total, dtype=np.int64)
        - np.repeat(starts_out[:-1], out_tfs)
        + np.repeat(starts[sel], out_tfs)
    )
    return pos[gather], starts_out


#: cache the FULL decoded positions of a (shard, term) once candidates
#: cover at least 1/this of its postings: hot-term phrase/near queries
#: (where the conjunction leaves a large candidate set) then skip the
#: varint work on every repeat, while selective queries keep the cheap
#: candidate-driven decode and never pollute the cache
_POSS_CACHE_MIN_FRACTION = 4


class _FastCacheMiss(Exception):
    """A cache-fed scorer pass hit a row whose payload was LRU-evicted;
    the caller falls back to the (always-correct) reading path."""


def _decode_merged_terms(pdf: pd.DataFrame, epoch, positional: bool):
    """Decode every postings row of ``pdf`` (cache-aware, slot -1) and
    MERGE same-term rows across shards into one entry per term with
    globally sorted doc arrays — valid because shards partition the
    doc-id space in shard order (offset[s+1] = offset[s] + count[s]), so
    concatenating a term's per-shard lists in numeric shard order yields
    one sorted unique doc array (guarded: a non-monotonic merge fails
    loudly). This is what lets the driver fast path evaluate a
    many-shard index in ONE pass instead of per-shard (at 306 shards the
    per-group fixed cost dominated the whole query); the distributed
    per-shard tasks hit the same code as the degenerate one-row case.

    Returns (cache, entries): entries is term -> dict(docs/tfs/dls
    merged, rows=[(poss_raw, tfs, key, n_docs)] for lazy positions,
    bounds=doc-count prefix per row) in ascending-term order."""
    cache = None
    if epoch is not None:
        from indexer_spark.query import _DECODED_CACHE as cache
    has_shard = "shard" in pdf.columns
    pdf = pdf.sort_values(
        ["term", "shard"] if has_shard else ["term"], kind="stable"
    )
    per_term: dict[str, list] = {}
    for row in pdf.itertuples():
        shard_id = int(row.shard) if has_shard else -1
        plen = len(row.docs) if row.docs is not None else int(row.plen)
        base_key = (
            (epoch, shard_id, row.term, int(row.df), plen)
            if cache is not None else None
        )
        cached = cache.get(base_key + (-1,)) if base_key else None
        if cached is None:
            if row.docs is None:  # cache-fed pass, entry evicted
                raise _FastCacheMiss()
            cached = decode_postings(
                row.docs, row.tfs, row.dls, int(row.df)
            )
            if base_key is not None:
                cache.put(base_key + (-1,), cached)
        docs, tfs, dls = cached
        poss_raw = getattr(row, "poss", None) if positional else None
        per_term.setdefault(row.term, []).append(
            (docs, tfs, dls, poss_raw, base_key)
        )
    entries: dict[str, dict] = {}
    for t, rows in per_term.items():  # dict order == ascending term
        if len(rows) == 1:
            d, tf, dl, praw, key = rows[0]
            entries[t] = {
                "docs": d, "tfs": tf, "dls": dl,
                "rows": [(praw, tf, key, d.size)], "bounds": None,
            }
        else:
            d = np.concatenate([r[0] for r in rows])
            if d.size > 1 and (np.diff(d) <= 0).any():
                raise RuntimeError(
                    "per-shard doc ranges overlap or are out of order; "
                    "cannot merge postings across shards"
                )
            entries[t] = {
                "docs": d,
                "tfs": np.concatenate([r[1] for r in rows]),
                "dls": np.concatenate([r[2] for r in rows]),
                "rows": [(r[3], r[1], r[4], r[0].size) for r in rows],
                "bounds": np.concatenate(
                    ([0], np.cumsum([r[0].size for r in rows]))
                ).astype(np.int64),
            }
    return cache, entries


def _entry_positions(entry: dict, sel: np.ndarray, cache):
    """(positions, starts) for the ``sel``-indexed docs of a (possibly
    merged) term entry: each selected doc's list decodes from its own
    shard row via _positions_for, and ascending ``sel`` keeps the
    concatenation in candidate order — value-identical to a single-row
    decode_positions_select."""
    rows = entry["rows"]
    if len(rows) == 1:
        praw, tfs, key, n = rows[0]
        return _positions_for(praw, tfs, sel, key, cache, n)
    bounds = entry["bounds"]
    row_of = np.searchsorted(bounds, sel, side="right") - 1
    pos_parts = []
    for i, (praw, tfs, key, n) in enumerate(rows):
        lsel = sel[row_of == i] - bounds[i]
        p, _st = _positions_for(praw, tfs, lsel, key, cache, n)
        pos_parts.append(p)
    pos = (
        np.concatenate(pos_parts) if pos_parts
        else np.zeros(0, dtype=np.int64)
    )
    out_tfs = (
        entry["tfs"][sel] if sel.size else np.zeros(0, dtype=np.int64)
    )
    starts = np.concatenate(([0], np.cumsum(out_tfs))).astype(np.int64)
    return pos, starts


def _positions_for(poss_raw, tfs, sel, base_key, cache, df: int):
    """(positions, starts) for the ``sel``-indexed docs of one
    (shard, term) payload, through the decoded-positions LRU slot (-3)
    when present or worth creating (see _POSS_CACHE_MIN_FRACTION).
    ``poss_raw=None`` means a cache-fed pass (no payload read): the raw
    blob is recovered from slot (-4) — stored on every reading pass — or
    _FastCacheMiss sends the caller back to the reading path."""
    if cache is not None and base_key is not None:
        hit = cache.get(base_key + (-3,))
        if hit is not None:
            return _positions_slice(hit[0], hit[1], tfs, sel)
        if poss_raw is None:
            raw = cache.get(base_key + (-4,))
            if raw is None:
                raise _FastCacheMiss()
            poss_raw = raw[0]
        elif cache.get(base_key + (-4,)) is None:
            # raw compressed blob: lets repeat queries skip the parquet
            # read even when candidates stay too selective for the
            # decoded (-3) slot (np.frombuffer wraps, no copy)
            cache.put(
                base_key + (-4,),
                (np.frombuffer(poss_raw, dtype=np.uint8),),
            )
        if sel.size * _POSS_CACHE_MIN_FRACTION >= df:
            pos, starts = decode_positions(poss_raw, tfs)
            cache.put(base_key + (-3,), (pos, starts))
            return _positions_slice(pos, starts, tfs, sel)
    if poss_raw is None:
        raise _FastCacheMiss()
    return decode_positions_select(poss_raw, tfs, sel)


def _phrase_keep(cand_size: int, p_of: dict, qoff: dict,
                 anchor_t: str) -> np.ndarray:
    """Vectorized phrase verification ACROSS candidates (the same
    label*stride+pos encoding the NEAR scorer uses — a per-candidate
    Python loop costs ~0.25 s at just 8k candidates): candidate ci
    matches iff some anchor occurrence, shifted to a phrase start, has
    every (term, offset) pair present at start+offset in the same doc.

    ``p_of``: term -> (positions, starts) in CANDIDATE order
    (decode_positions_select); ``qoff``: term -> query offsets. Negative
    phrase starts are legal (a stop-word-led phrase can overhang
    position 0 — same semantics as the oracle's phrase_match); the
    max_off shift keeps every key non-negative."""
    a_pos, a_starts = p_of[anchor_t]
    a_off = int(qoff[anchor_t][0])
    labels = np.arange(cand_size, dtype=np.int64)
    lbl_a = np.repeat(labels, np.diff(a_starts))
    max_off = max(int(o) for offs in qoff.values() for o in offs)
    max_pos = 0
    for t in qoff:
        p = p_of[t][0]
        if p.size:
            max_pos = max(max_pos, int(p.max()))
    stride = np.int64(max_pos + 2 * max_off + 2)
    starts_keys = lbl_a * stride + (a_pos - a_off + max_off)
    ok = np.ones(starts_keys.size, dtype=bool)
    for t, offs in qoff.items():
        p, st = p_of[t]
        tk = np.repeat(labels, np.diff(st)) * stride + p + max_off
        for off in offs:
            off = int(off)
            if t == anchor_t and off == a_off:
                continue
            tgt = starts_keys + off
            i = np.searchsorted(tk, tgt)
            ic = np.minimum(i, max(tk.size - 1, 0))
            ok &= (i < tk.size) & (tk[ic] == tgt)
    keep = np.zeros(cand_size, dtype=bool)
    keep[lbl_a[ok]] = True
    return keep


def _make_phrase_scorer(
    idf: dict[str, float], k1, b, avgdl, k, qoffsets: dict,
    epoch: tuple | None = None,
):
    """Positional phrase scorer (requires an index built with
    ``BuildConfig(positions=True)``; no reference analog — the reference
    is OR-only, SURVEY §2.7).

    ``qoffsets``: term -> int64 array of that term's offsets within the
    query's raw token stream. Stop-word slots keep their offsets on both
    sides, so "state of the art" matches documents across the dropped
    "of the" gap exactly; a repeated query term contributes one offset
    per occurrence and every one must align.

    Shard-local like the AND scorer (doc-range sharding keeps a doc's
    postings together): candidate docs come from the conjunction
    (intersect ascending-df), then each candidate verifies positionally —
    anchor occurrences of the rarest term shift to phrase-start
    candidates and every other (term, offset) pair intersects them. Only
    candidate docs' positions are ever touched after the single
    vectorized per-term payload decode. Survivors score standard BM25
    over the phrase terms (sorted-term addition order, same arithmetic
    as every other mode)."""
    n_required = len(qoffsets)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": [], "score": []})
        if len(pdf) == 0 or pdf["term"].nunique() < n_required:
            return empty
        # decode + merge same-term rows across shards (one entry per
        # term, globally sorted docs): the driver fast path feeds this
        # fn the WHOLE matched pdf in one call on many-shard indexes
        cache, entries = _decode_merged_terms(pdf, epoch, True)
        terms = [
            {"term": t, **e, "w": idf[t], "qoffs": qoffsets[t]}
            for t, e in entries.items()
        ]
        by_df = sorted(range(len(terms)), key=lambda i: terms[i]["docs"].size)
        cand = terms[by_df[0]]["docs"]
        for ti in by_df[1:]:
            if cand.size == 0:
                return empty
            cand = cand[np.isin(cand, terms[ti]["docs"], assume_unique=True)]
        if cand.size == 0:
            return empty
        # candidate-driven positions decode: only surviving candidates'
        # lists are ever varint-decoded (decode_positions_select) — on a
        # hot term the conjunction is typically orders of magnitude
        # smaller than its df. Selected arrays are in cand order, so
        # candidate ci's slice is pstarts[ci]:pstarts[ci+1] directly.
        # Wide candidate sets go through the decoded-positions LRU
        # (_positions_for): repeats then skip the varint work entirely.
        for t in terms:
            sel = np.searchsorted(t["docs"], cand)
            t["pos"], t["pstarts"] = _entry_positions(t, sel, cache)

        # vectorized positional verification; anchor = fewest postings
        keep = _phrase_keep(
            cand.size,
            {t["term"]: (t["pos"], t["pstarts"]) for t in terms},
            {t["term"]: t["qoffs"] for t in terms},
            terms[by_df[0]]["term"],
        )
        cand = cand[keep]
        if cand.size == 0:
            return empty

        score = np.zeros(cand.size, dtype=np.float64)
        for t in terms:  # sorted-term order pins float addition order
            pos_in = np.searchsorted(t["docs"], cand)
            tfv = t["tfs"][pos_in].astype(np.float64)
            score += t["w"] * _bm25_normpart(
                tfv, t["dls"][pos_in], k1, b, avgdl
            )
        uids, sums = _topk_merge(cand, score, k)
        return pd.DataFrame({"doc_id": uids, "score": sums})

    return fn


def _make_near_scorer(
    idf: dict[str, float], k1, b, avgdl, k, window: int,
    epoch: tuple | None = None,
):
    """Positional proximity (NEAR) scorer: docs where ALL distinct query
    terms co-occur within a ``window``-token span of the raw post-lex
    token stream (min-cover: some occurrence of each term with
    max(pos) - min(pos) <= window). Unordered — phrase's alignment
    constraint relaxed to co-occurrence — so window=0 means same slot
    (never true across distinct terms) and window >= doc length
    degenerates to AND. Requires ``BuildConfig(positions=True)``; no
    reference analog (the reference is OR-only, SURVEY §2.7).

    Shard-local like the phrase scorer: conjunction first
    (intersect ascending-df), positions decoded only when the
    conjunction survives, then a per-candidate minimal-window sweep over
    the merged occurrence stream. Survivors score standard BM25 over
    the distinct terms (sorted-term addition order, same arithmetic as
    every other mode)."""
    n_required = len(idf)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": [], "score": []})
        if len(pdf) == 0 or pdf["term"].nunique() < n_required:
            return empty
        cache, entries = _decode_merged_terms(pdf, epoch, True)
        terms = [
            {"term": t, **e, "w": idf[t]} for t, e in entries.items()
        ]
        by_df = sorted(range(len(terms)), key=lambda i: terms[i]["docs"].size)
        cand = terms[by_df[0]]["docs"]
        for ti in by_df[1:]:
            if cand.size == 0:
                return empty
            cand = cand[np.isin(cand, terms[ti]["docs"], assume_unique=True)]
        if cand.size == 0:
            return empty
        if n_required > 1:
            # candidate-driven positions decode (decode_positions_select:
            # only surviving candidates' lists are varint-decoded, in
            # cand order), then the verify is vectorized ACROSS
            # candidates (no per-doc Python loop — measured 8k-candidate
            # loops already cost ~0.25 s, a non-starter at engine scale):
            # span(min-cover) <= window  iff  some occurrence p (the
            # cover's minimum) has every term occurring in [p, p+window].
            # Encode each occurrence as candidate_label*stride + pos;
            # stride > max_pos + window keeps windows from leaking
            # across docs, so one searchsorted per term answers "does t
            # occur in [p, p+window] of the same doc" for ALL start
            # candidates at once.
            lbl_of = np.arange(cand.size, dtype=np.int64)
            max_pos = 0
            for t in terms:
                sel = np.searchsorted(t["docs"], cand)
                t["cpos"], pst = _entry_positions(t, sel, cache)
                t["clbl"] = np.repeat(lbl_of, np.diff(pst))
                if t["cpos"].size:
                    max_pos = max(max_pos, int(t["cpos"].max()))
            w_eff = min(int(window), max_pos + 1)  # span never exceeds it
            stride = np.int64(max_pos + w_eff + 2)
            for t in terms:
                t["key"] = t["clbl"] * stride + t["cpos"]
            starts_all = np.concatenate([t["key"] for t in terms])
            ok = np.ones(starts_all.size, dtype=bool)
            for t in terms:
                i = np.searchsorted(t["key"], starts_all)
                ic = np.minimum(i, t["key"].size - 1)
                ok &= (i < t["key"].size) & \
                    (t["key"][ic] <= starts_all + w_eff)
            matched = np.unique(starts_all[ok] // stride)
            cand = cand[matched]
        if cand.size == 0:
            return empty

        score = np.zeros(cand.size, dtype=np.float64)
        for t in terms:  # sorted-term order pins float addition order
            pos_in = np.searchsorted(t["docs"], cand)
            tfv = t["tfs"][pos_in].astype(np.float64)
            score += t["w"] * _bm25_normpart(
                tfv, t["dls"][pos_in], k1, b, avgdl
            )
        uids, sums = _topk_merge(cand, score, k)
        return pd.DataFrame({"doc_id": uids, "score": sums})

    return fn


def _make_bool_scorer(
    pq, idf: dict[str, float], k1, b, avgdl, k, positional: bool,
    epoch: tuple | None = None,
):
    """Boolean-query scorer (see boolquery.py for the language): shard-
    local set algebra over decoded doc arrays — intersect AND groups
    ascending-size, union OR branches, setdiff NOT restrictions — with
    quoted phrases positionally verified exactly like mode='phrase'.
    Exact per shard because doc-range sharding keeps a doc's postings
    together: a doc's membership of ANY term (negated ones included) is
    decidable inside its own shard. Matching docs score standard BM25
    over the distinct positive terms they contain (sorted-term addition
    order); negated terms never score. No reference analog (the
    reference is OR-only, SURVEY §2.7)."""
    from .boolquery import eval_docs

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": [], "score": []})
        if len(pdf) == 0:
            return empty
        cache, data = _decode_merged_terms(pdf, epoch, positional)
        term_docs = {t: e["docs"] for t, e in data.items()}
        no_docs = np.empty(0, dtype=np.int64)

        def phrase_fn(ph):
            ents = [data.get(t) for t in ph.terms]
            if any(e is None for e in ents):
                return no_docs
            by_size = sorted(ph.terms, key=lambda t: data[t]["docs"].size)
            cand = data[by_size[0]]["docs"]
            for t in by_size[1:]:
                if cand.size == 0:
                    return no_docs
                cand = cand[np.isin(cand, data[t]["docs"],
                                    assume_unique=True)]
            if cand.size == 0:
                return no_docs
            # candidate-driven positions decode (selected arrays arrive
            # in cand order), then the same vectorized verification the
            # phrase mode uses (_phrase_keep)
            p_of = {}
            for t in ph.terms:
                e = data[t]
                sel = np.searchsorted(e["docs"], cand)
                p_of[t] = _entry_positions(e, sel, cache)
            qoff: dict[str, list[int]] = {}
            for t, o in ph.qoffsets:
                qoff.setdefault(t, []).append(o)
            keep = _phrase_keep(cand.size, p_of, qoff, by_size[0])
            return cand[keep]

        cand = eval_docs(pq.root, term_docs, phrase_fn)
        if cand.size == 0:
            return empty

        score = np.zeros(cand.size, dtype=np.float64)
        for t in sorted(idf):  # sorted-term order pins float addition
            e = data.get(t)
            if e is None or e["docs"].size == 0:
                continue
            pos_in = np.searchsorted(e["docs"], cand)
            pos_c = np.minimum(pos_in, e["docs"].size - 1)
            mask = e["docs"][pos_c] == cand
            tfv = e["tfs"][pos_c].astype(np.float64)
            contrib = idf[t] * _bm25_normpart(
                tfv, e["dls"][pos_c], k1, b, avgdl
            )
            score += np.where(mask, contrib, 0.0)
        uids, sums = _topk_merge(cand, score, k)
        return pd.DataFrame({"doc_id": uids, "score": sums})

    return fn


def _shard_grouped(scorer):
    """mapInPandas wrapper: accumulate a task's Arrow batches, then run
    the per-shard scorer on each shard present. Correct ONLY when a
    shard's matched postings rows all land in one task — IndexReader
    pins spark.sql.files.maxPartitionBytes above the largest committed
    postings file (recorded in stats.json) to enforce that, and falls
    back to the groupBy(shard) exchange when it cannot. Scoring happens
    where the data lives: a hot term's postings bytes are never
    shuffled, which is the difference between a query-time exchange of
    GBs and none at 10^12-doc scale."""

    def fn(batches):
        acc = [pdf for pdf in batches if len(pdf)]
        if not acc:
            return
        whole = pd.concat(acc, ignore_index=True)
        for _shard, g in whole.groupby("shard", sort=False):
            yield scorer(g)

    return fn


def _make_pruned_scorer(
    idf: dict[str, float], k1, b, avgdl, k, block_size,
    shard_ub_scale: dict[int, float] | None = None,
    epoch: tuple | None = None,
):
    """Block-max safe pruning (BM25 only), segment-at-a-time.

    Segments are doc_id ranges delimited by the union of all query terms'
    block boundaries; each segment's upper bound is
    sum_t idf_t*(k1+1)*max_norm(block_t covering segment). Segments are
    scored exactly in descending upper-bound order; once the k-th best
    exact score >= the next upper bound, the rest are skipped without
    decoding.

    ``shard_ub_scale`` handles appended indexes: a shard built when the
    corpus avgdl was smaller has stored max_norms that can under-estimate
    today's norms; scaling its upper bounds by avgdl_now/avgdl_build
    restores safety (norm(a_now)/norm(a_build) < a_now/a_build)."""

    small_shard = SMALL_SHARD_THRESHOLD  # captured at scorer creation
    exhaustive = _make_exhaustive_scorer(idf, k1, b, avgdl, k, "bm25", epoch=epoch)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"doc_id": [], "score": []})
        if int(pdf["df"].sum()) < small_shard:
            return exhaustive(pdf)
        # runtime import, NOT a global reference: see exhaustive scorer
        gcache = None
        if epoch is not None:
            from indexer_spark.query import _DECODED_CACHE as gcache
        shard = int(pdf["shard"].iloc[0])
        ub_scale = 1.0
        if shard_ub_scale:
            ub_scale = shard_ub_scale.get(shard, 1.0)
        pdf = pdf.sort_values("term", kind="stable")
        terms = []
        for row in pdf.itertuples():
            blocks = list(row.blocks)
            lasts = np.array([blk["last_doc_id"] for blk in blocks], dtype=np.int64)
            norms = np.array([blk["max_norm"] for blk in blocks], dtype=np.float64)
            terms.append({
                "term": row.term, "df": int(row.df), "docs": row.docs,
                "tfs": row.tfs, "dls": row.dls, "blocks": blocks,
                "lasts": lasts,
                "ub": idf[row.term] * (k1 + 1.0) * np.minimum(norms * ub_scale, 1.0),
                "w": idf[row.term], "cache": {},
                # worker-side LRU key base (persists across queries)
                "ckey": (
                    (epoch, shard, row.term, int(row.df), len(row.docs))
                    if epoch is not None else None
                ),
            })

        # segment boundaries: union of block last_doc_ids across terms
        bounds = np.unique(np.concatenate([t["lasts"] for t in terms]))
        n_seg = bounds.size
        seg_ub = np.zeros(n_seg, dtype=np.float64)
        # per term, the block covering each segment (== searchsorted index)
        seg_block = []
        for t in terms:
            bi = np.searchsorted(t["lasts"], bounds)  # block idx or n_blocks
            seg_block.append(bi)
            valid = bi < t["lasts"].size
            seg_ub[valid] += t["ub"][bi[valid]]

        order = np.argsort(-seg_ub, kind="stable")
        pool_ids = np.zeros(0, dtype=np.int64)
        pool_sc = np.zeros(0, dtype=np.float64)
        theta = -math.inf

        for si in order:
            if pool_ids.size >= k and seg_ub[si] < theta:
                break  # no remaining segment can beat the k-th score
            lo = int(bounds[si - 1]) + 1 if si > 0 else 0
            hi = int(bounds[si])
            id_chunks, sc_chunks = [], []
            for ti, t in enumerate(terms):
                bi = int(seg_block[ti][si])
                if bi >= t["lasts"].size:
                    continue
                cached = t["cache"].get(bi)
                if cached is None:
                    gkey = (
                        t["ckey"] + (bi,)
                        if (t["ckey"] is not None and gcache is not None)
                        else None
                    )
                    cached = gcache.get(gkey) if gkey else None
                    if cached is None:
                        cached = decode_block_slice(
                            t["docs"], t["tfs"], t["dls"], t["blocks"],
                            bi, bi + 1, t["df"], block_size=block_size,
                        )
                        if gkey is not None:
                            gcache.put(gkey, cached)
                    t["cache"][bi] = cached
                d, tf, dl = cached
                s_idx = np.searchsorted(d, lo, side="left")
                e_idx = np.searchsorted(d, hi, side="right")
                if s_idx == e_idx:
                    continue
                tfv = tf[s_idx:e_idx].astype(np.float64)
                contrib = t["w"] * _bm25_normpart(
                    tfv, dl[s_idx:e_idx], k1, b, avgdl)
                id_chunks.append(d[s_idx:e_idx])
                sc_chunks.append(contrib)
            if not id_chunks:
                continue
            uids, sums = _aggregate_scores(id_chunks, sc_chunks)
            pool_ids = np.concatenate([pool_ids, uids])
            pool_sc = np.concatenate([pool_sc, sums])
            pool_ids, pool_sc = _topk_merge(pool_ids, pool_sc, k)
            if pool_ids.size >= k:
                theta = pool_sc[-1]
        return pd.DataFrame({"doc_id": pool_ids, "score": pool_sc})

    return fn


def _narrow_wire(a: np.ndarray) -> np.ndarray:
    """Smallest unsigned dtype holding ``a`` losslessly (warm-broadcast
    arrays are non-negative: cumsum'd doc ids, tfs, dls) — shrinks the
    pickled wire bytes ~3-6x; _warm_install_entries widens back to the
    int64 the decoders produce, so installed entries are value- AND
    dtype-identical to a lazy decode_block_slice. An array with a
    negative value has no unsigned form and is returned unchanged."""
    if a.size and a.min() < 0:
        return a
    m = int(a.max()) if a.size else 0
    for dt in (np.uint8, np.uint16, np.uint32):
        if m <= np.iinfo(dt).max:
            return a.astype(dt)
    return a


def _warm_install_entries(payload, block_size: int,
                          budget_bytes: int) -> int:
    """Worker-side half of IndexReader.warm_worker_caches: widen each
    wire-narrowed per-(shard, term) array back to int64 (one vectorized
    astype; see _narrow_wire), slice at block boundaries (views, no
    copies) and install them into THIS process's module-level
    _DECODED_CACHE, under the same keys the pruned distributed scorer
    looks up (ckey + block_idx). Runs inside a Spark task — the module
    instance here is the worker's own, so entries persist across tasks
    and queries for the worker's lifetime. ``payload`` is a list of
    (ckey, d, tf, dl) with arrays already cut to whole shipped blocks.
    Returns blocks installed (or already present)."""
    cache = _DECODED_CACHE
    # worker cap raise is sticky for the worker's lifetime — deliberate:
    # a warmed worker pool IS the deployment (per-executor cache sizing
    # is cluster config, not per-reader state like the driver's)
    if cache.max_bytes < budget_bytes + (64 << 20):
        cache.max_bytes = budget_bytes + (64 << 20)
    warmed = 0
    for ckey, d, tf, dl in payload:
        d = d.astype(np.int64, copy=False)
        tf = tf.astype(np.int64, copy=False)
        dl = dl.astype(np.int64, copy=False)
        n = d.size
        for bi in range((n + block_size - 1) // block_size):
            s = bi * block_size
            e = min(s + block_size, n)
            key = ckey + (bi,)
            if cache.get(key) is None:
                cache.put(key, (d[s:e], tf[s:e], dl[s:e]))
            warmed += 1
    return warmed


class IndexReader:
    """Query handle over an index directory (MainIndex analog,
    tree.rs:251-265 — but stateless: all state is in tables + stats)."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 fast_path_bytes: int = 32 << 20):
        """``fast_path_bytes``: when the matched terms' total compressed
        postings payload (term_stats ``nbytes``) is below this, search()
        skips the Spark job entirely — pyarrow reads the matched rows
        (term-predicate row-group pruning), scored driver-side with the
        exhaustive scorer's arithmetic (_score_read), so results are
        bit-identical to the distributed plan. This removes the ~0.3-0.5 s
        local job-launch floor for typical queries; huge-postings queries
        (hot terms) fall through to the distributed plan. 0 disables. The
        10^12-scale analog is a query-service node scoring small matched
        sets from the postings store directly, keeping Spark for the heavy
        ones."""
        self.spark = spark
        self.index_dir = index_dir
        self.stats = read_stats(index_dir)
        self.fast_path_bytes = fast_path_bytes
        self.last_path: str | None = None  # "fast" | "distributed"
        self._df_cache: dict[str, int] = {}
        self._nbytes_cache: dict[str, int] = {}
        self._poss_nbytes_cache: dict[str, int] = {}
        self._prefix_cache: dict[tuple[str, int], list[str]] = {}
        self._has_nbytes: bool | None = None
        self._has_poss_nbytes: bool | None = None
        # decoded-postings cache namespace: (index identity, epoch). The
        # epoch (bumped on every stats commit) invalidates entries across
        # mutations of ONE index; the dir identity separates different
        # indexes living in the same session (epochs alone collide there)
        self._epoch = (index_dir, int(self.stats.get("epoch", 0)))
        # lazily-built pyarrow dataset handles, one per table (see
        # _dataset); _refresh_snapshot drops them all
        self._datasets: dict[str, object] = {}
        # term -> {(shard, df, payload_len)} rows known to be decoded in
        # _DECODED_CACHE: lets repeat/warmed queries score WITHOUT the
        # per-query parquet payload read (see _fast_from_cache). Bounded
        # (insertion-order eviction): the underlying LRU evicts by bytes,
        # so an unbounded bookkeeping dict on a long-lived server would
        # accumulate tuples for every distinct query term ever seen.
        self._cached_terms: dict[str, set[tuple[int, int, int]]] = {}
        self._cached_terms_max = 65_536
        # warm_hot_terms raises the process-global decoded-cache cap;
        # the raise is refcounted at module level (see _cache_cap_acquire)
        # so the LAST closing reader restores the genuine pre-raise cap
        self._cache_cap_held = False
        # decoded-cache keys this reader pinned via warm_hot_terms;
        # unpinned (refcount-decremented) on close()
        self._pinned_keys: set[tuple] = set()
        # shuffle-free scoring requires whole-file scan tasks: pin the
        # split size above the largest committed postings file (recorded
        # at build time). If the conf cannot be raised, queries fall
        # back to the groupBy(shard) exchange plan (slower, always safe).
        self._whole_file_tasks = False
        self._conf_priors: dict[str, str] = {}
        self._need_bytes: int | None = None
        self._pin_split_size()
        # shard -> upper-bound rescale for appended indexes whose avgdl
        # drifted upward since a shard's block maxima were computed
        avgdl_now = self.stats["avgdl"]
        # LAST postings row per shard wins (a shard rebuilt by
        # update_index supersedes its older manifest rows)
        last_ab: dict[int, float] = {}
        for r in read_manifest(index_dir):
            if r["stage"] == "postings" and "avgdl_build" in r:
                last_ab[r["shard"]] = r["avgdl_build"]
        self._ub_scale: dict[int, float] = {
            s: avgdl_now / ab
            for s, ab in last_ab.items()
            if ab > 0 and avgdl_now > ab
        }
        from .session import warm_workers

        warm_workers(spark)

    def _pin_split_size(self) -> None:
        """(Re-)pin the file split-size confs above the largest committed
        postings file so every scan task sees whole files — the invariant
        _shard_grouped relies on. Called at init and again from
        _refresh_snapshot: append/update grow max_postings_file_bytes
        monotonically (build.py), so a pin taken at init can be too small
        for the refreshed snapshot — a postings file larger than the old
        pin would then be split across scan tasks and _shard_grouped
        would emit partial per-shard sums (wrong BM25 scores; AND mode
        could drop matching docs). If the conf cannot be raised, clears
        _whole_file_tasks so queries fall back to the always-safe
        groupBy(shard) exchange plan."""
        max_file = self.stats.get("max_postings_file_bytes")
        if max_file is None:
            self._whole_file_tasks = False
            self._need_bytes = None
            return
        need = int(max_file) + 1
        self._need_bytes = need
        try:
            cur = _parse_bytes(
                self.spark.conf.get("spark.sql.files.maxPartitionBytes")
            )
            if cur is None or cur < need:
                for key in ("spark.sql.files.maxPartitionBytes",
                            "spark.sql.files.openCostInBytes"):
                    # record a prior only ONCE per reader so close()
                    # restores the genuine pre-reader value, not an
                    # intermediate pin from an earlier refresh
                    self._conf_priors.setdefault(
                        key, self.spark.conf.get(key)
                    )
                    self.spark.conf.set(key, str(need))
            self._whole_file_tasks = True
        except Exception:
            self._whole_file_tasks = False

    # -- lifecycle ---------------------------------------------------------

    def close(self) -> None:
        """Restore any session confs this reader raised and undo this
        reader's share of the decoded-cache budget raise. Call when done
        querying — pending DataFrames from search_df must be collected
        first, since the whole-file-task invariant their plan relies on
        goes away with the conf."""
        for key, val in self._conf_priors.items():
            try:
                self.spark.conf.set(key, val)
            except Exception:
                pass
        self._conf_priors = {}
        if self._pinned_keys:
            _DECODED_CACHE.unpin(self._pinned_keys)
            self._pinned_keys = set()
        if self._cache_cap_held:
            _cache_cap_release()
            self._cache_cap_held = False

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
        return False

    # -- metadata lookups ------------------------------------------------

    def _refresh_snapshot(self) -> None:
        """Re-point the reader at the CURRENT on-disk snapshot after a
        concurrent mutation invalidated a dataset handle. Without this,
        the rebuilt handle would read NEW postings files while the reader
        kept pre-mutation stats (n_docs, avgdl, epoch, df cache) — scores
        matching neither snapshot, and warmed terms still serving fully
        pre-mutation results from the decoded cache. Refreshing stats +
        epoch + every derived cache makes the rebuild land on one
        consistent new snapshot instead of silently mixing two."""
        self.stats = read_stats(self.index_dir)
        self._epoch = (self.index_dir, int(self.stats.get("epoch", 0)))
        # every handle's file listing predates the mutation
        self._datasets.clear()
        # superseded-epoch pins would hold dead entries in the cache
        # forever; unpin them (re-warm after refresh re-pins the new set)
        stale = {k for k in self._pinned_keys if k[0] != self._epoch}
        if stale:
            _DECODED_CACHE.unpin(stale)
            self._pinned_keys -= stale
        self._df_cache.clear()
        self._nbytes_cache.clear()
        self._poss_nbytes_cache.clear()
        self._prefix_cache.clear()
        self._cached_terms.clear()
        self._has_nbytes = None  # re-probe the refreshed schema lazily
        self._has_poss_nbytes = None
        # re-derive the whole-file-task pin: the mutation may have grown
        # max_postings_file_bytes past the pin taken at init
        self._pin_split_size()
        avgdl_now = self.stats["avgdl"]
        last_ab: dict[int, float] = {}
        for r in read_manifest(self.index_dir):
            if r["stage"] == "postings" and "avgdl_build" in r:
                last_ab[r["shard"]] = r["avgdl_build"]
        self._ub_scale = {
            s: avgdl_now / ab
            for s, ab in last_ab.items()
            if ab > 0 and avgdl_now > ab
        }

    def _dataset(self, table: str):
        """Cached pyarrow dataset handle over ``table`` ("term_stats",
        "postings" or "tok"). Constructing a dataset lists the directory
        — per query at 10^5 shard dirs that listing would dominate the
        driver paths — so each handle is built once per snapshot."""
        ds = self._datasets.get(table)
        if ds is None:
            import pyarrow.dataset as pads

            path, partitioning = _TABLES[table]
            ds = self._datasets[table] = pads.dataset(
                path(self.index_dir), format="parquet",
                partitioning=partitioning,
            )
        return ds

    def _read(self, table: str, **kw):
        """``to_table`` through the cached handle, with a one-shot handle
        rebuild if the index was mutated underneath a long-lived reader
        (dynamic overwrite replaces part files, so a pinned file listing
        can 404). The rebuild re-reads stats.json and refreshes the
        epoch/derived caches (_refresh_snapshot) so the reader serves the
        NEW snapshot consistently instead of scoring new files with old
        parameters."""
        for attempt in (0, 1):
            try:
                return self._dataset(table).to_table(**kw)
            except (FileNotFoundError, OSError):
                if attempt:
                    raise
                self._refresh_snapshot()

    def _post_table(self, **kw):
        return self._read("postings", **kw)

    def global_dfs(self, terms: list[str]) -> dict[str, int]:
        """Per-term global df (pass 1 of the reference search,
        tree.rs:395-416). Served driver-side straight from the
        range-partitioned, term-sorted term_stats parquet via pyarrow —
        predicate pushdown prunes row groups, so this is a metadata-sized
        read, not a Spark job (a query-latency win at any scale; the
        10^12-doc deployment would front this with the same dictionary
        files behind a lookup service)."""
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            import pyarrow.dataset as pads

            ds = self._dataset("term_stats")
            if "term" not in ds.schema.names:  # zero-postings index
                for t in missing:
                    self._df_cache[t] = 0
                return {t: self._df_cache[t] for t in terms}
            self._has_nbytes = "nbytes" in ds.schema.names
            self._has_poss_nbytes = "poss_nbytes" in ds.schema.names
            epoch = self._epoch
            tbl = self._read(
                "term_stats", filter=pads.field("term").isin(missing))
            if self._epoch != epoch:
                # the read refreshed the snapshot, clearing the caches
                # that the terms outside ``missing`` were served from
                return self.global_dfs(terms)
            tlist = tbl.column("term").to_pylist()
            found = dict(
                zip(tlist, (int(x) for x in tbl.column("df").to_pylist()))
            )
            if self._has_nbytes:
                # `or 0`: NULL nbytes (e.g. a mixed-format index that
                # slipped past the version guard) must not crash queries
                nb = dict(
                    zip(tlist, (int(x or 0) for x in tbl.column("nbytes").to_pylist()))
                )
                for t in missing:
                    self._nbytes_cache[t] = nb.get(t, 0)
            if self._has_poss_nbytes:
                pnb = dict(zip(tlist, (
                    int(x or 0)
                    for x in tbl.column("poss_nbytes").to_pylist()
                )))
                for t in missing:
                    self._poss_nbytes_cache[t] = pnb.get(t, 0)
            for t in missing:
                self._df_cache[t] = found.get(t, 0)
        return {t: self._df_cache[t] for t in terms}

    def expand_prefix(self, prefix: str,
                      cap: int | None = None) -> list[str]:
        """Dictionary terms starting with ``prefix``, for the boolean
        language's ``word*`` atoms. A range predicate [prefix, prefix+
        U+10FFFF) on the term-sorted term_stats parquet — row-group
        min/max stats prune this to a metadata-sized read, same as
        global_dfs; never a Spark job, never a postings read. Capped at
        ``cap`` (default boolquery.MAX_PREFIX_EXPANSIONS) highest-df
        terms via the shared cap_expansions rule. The scan's (df,
        nbytes) ride along into the reader caches for free."""
        from .boolquery import MAX_PREFIX_EXPANSIONS, cap_expansions

        cap = MAX_PREFIX_EXPANSIONS if cap is None else cap
        key = (prefix, cap)
        hit = self._prefix_cache.get(key)
        if hit is not None:
            return hit
        import pyarrow.dataset as pads

        ds = self._dataset("term_stats")
        if "term" not in ds.schema.names:  # zero-postings index
            self._prefix_cache[key] = []
            return []
        self._has_nbytes = "nbytes" in ds.schema.names
        self._has_poss_nbytes = "poss_nbytes" in ds.schema.names
        tbl = self._read(
            "term_stats", filter=(pads.field("term") >= prefix)
            & (pads.field("term") < prefix + "\U0010ffff")
        )
        terms = tbl.column("term").to_pylist()
        dfs = [int(x) for x in tbl.column("df").to_pylist()]
        nbs = (
            [int(x or 0) for x in tbl.column("nbytes").to_pylist()]
            if self._has_nbytes else [0] * len(terms)
        )
        pnbs = (
            [int(x or 0) for x in tbl.column("poss_nbytes").to_pylist()]
            if self._has_poss_nbytes else [0] * len(terms)
        )
        pairs = []
        for t, d, nb, pnb in zip(terms, dfs, nbs, pnbs):
            if not t.startswith(prefix):
                continue
            pairs.append((t, d))
            self._df_cache[t] = d
            if self._has_nbytes:
                self._nbytes_cache[t] = nb
            if self._has_poss_nbytes:
                self._poss_nbytes_cache[t] = pnb
        out = cap_expansions(pairs, cap)
        self._prefix_cache[key] = out
        return out

    def _record_cached(self, term: str, row: tuple[int, int, int]) -> None:
        """Record a decoded (term, shard) row for _fast_from_cache, with
        insertion-order eviction past the bookkeeping cap (the decoded
        LRU itself stays byte-bounded regardless — an evicted bookkeeping
        entry merely sends that term back through the reading path)."""
        s = self._cached_terms.get(term)
        if s is None:
            while len(self._cached_terms) >= self._cached_terms_max:
                del self._cached_terms[next(iter(self._cached_terms))]
            s = self._cached_terms[term] = set()
        s.add(row)

    def _top_terms(self, n_terms: int) -> list[tuple[str, int, int]]:
        """Hottest terms by compressed payload size, ranked inside
        pyarrow (select_k — no full-vocabulary to_pylist + Python sort;
        on a large dictionary that materialization is avoidable driver
        memory/CPU). Returns [(term, df, nbytes)] descending."""
        import pyarrow.compute as pc

        ds = self._dataset("term_stats")
        if "term" not in ds.schema.names or "nbytes" not in ds.schema.names:
            return []
        self._has_nbytes = True
        tbl = self._read("term_stats", columns=["term", "df", "nbytes"])
        top = tbl.take(
            pc.select_k_unstable(
                tbl, k=min(n_terms, tbl.num_rows),
                sort_keys=[("nbytes", "descending")],
            )
        )
        return list(zip(
            top.column("term").to_pylist(),
            (int(x) for x in top.column("df").to_pylist()),
            (int(x or 0) for x in top.column("nbytes").to_pylist()),
        ))

    #: warm_worker_caches auto-skips at/above this shard count unless
    #: force=True: every task slot redundantly reads the hot postings, so
    #: on a big index the warm approaches a full extra scan per worker
    #: (measured: 389 s at sf1 / 306 shards vs 28 s at sf0.1 / 32). The
    #: lazy per-worker LRU (first query decodes, repeats hit cache) is
    #: the default posture for large indexes.
    WARM_WORKERS_MAX_SHARDS = 128

    def warm_worker_caches(self, n_terms: int = 8,
                           budget_bytes: int = 192 << 20,
                           force: bool = False) -> int:
        """Best-effort pre-decode of the hottest terms' postings blocks
        into Spark Python workers' decoded caches (the distributed analog
        of warm_hot_terms, which warms only the driver process).

        Decode-once / ship-many: the driver reads the hot terms' payload
        ONCE (pyarrow, term-pruned), varint-decodes each (shard, term)
        list in ONE vectorized pass and slices it at block boundaries —
        value-identical to the per-block decode_block_slice the scorers
        use (the whole-list cumsum restores exactly last_doc_id-of-
        previous-block + in-block gap cumsum) — then broadcasts the
        decoded entries and runs one defaultParallelism-task job whose
        workers just install them (_warm_install_entries). The previous
        design had every worker redundantly re-read AND re-decode the
        payload block-by-block (~5 small numpy calls per 128-posting
        block × tens of thousands of blocks × every worker), which
        dominated the warm wall (measured 18-41 s at 2M turns/32 workers;
        the broadcast form does the decode once and ships bytes).

        Spark REUSES Python workers across tasks, so one task per
        parallelism slot does NOT guarantee one task per live worker —
        some workers can stay cold and the return value then overstates
        coverage; first queries on a cold worker still pay the decode
        (latency-only, never correctness). After executor (re)start this
        still removes the common-case first-hot-query decode. Budget
        bounds the decoded bytes shipped (hottest-first; the cut drops
        the tail). Auto-skips (returns 0) when the index has >=
        WARM_WORKERS_MAX_SHARDS shards unless force=True — at that size
        the warmed set is a sliver of the index and lazy LRU fill is the
        right default. Returns min entries installed by any task (0 =>
        at least one task warmed nothing, or the gate skipped)."""
        if not force:
            n_shards = int(self.stats.get("n_shards", 0))
            if n_shards >= self.WARM_WORKERS_MAX_SHARDS:
                return 0
        rows = self._top_terms(n_terms)
        if not rows:
            return 0
        import pyarrow.dataset as pads

        epoch = self._epoch
        block_size = int(self.stats["block_size"])
        terms = [t for t, _, _ in rows]
        tbl = self._post_table(
            columns=["shard", "term", "df", "docs", "tfs", "dls"],
            filter=pads.field("term").isin(terms),
        )
        by_term: dict[str, list] = {}
        for sh, t, df, docs, tfs, dls in zip(
            tbl.column("shard").to_pylist(), tbl.column("term").to_pylist(),
            tbl.column("df").to_pylist(), tbl.column("docs").to_pylist(),
            tbl.column("tfs").to_pylist(), tbl.column("dls").to_pylist(),
        ):
            by_term.setdefault(t, []).append((sh, df, docs, tfs, dls))
        payload: list[tuple] = []
        spent = 0
        full = False
        for t in terms:  # hottest-first: a budget cut drops the tail
            for sh, df, docs, tfs, dls in by_term.get(t, ()):
                df = int(df)
                d_full, tf_full, dl_full = decode_postings(
                    docs, tfs, dls, df
                )
                per_post = (
                    d_full.itemsize + tf_full.itemsize + dl_full.itemsize
                )
                ckey = (epoch, int(sh), t, df, len(docs))
                # whole blocks until the budget trips (checked BEFORE
                # each block, so the first block always ships)
                ship = 0
                for bi in range((df + block_size - 1) // block_size):
                    if spent > budget_bytes:
                        full = True
                        break
                    e = min((bi + 1) * block_size, df)
                    spent += (e - ship) * per_post
                    ship = e
                if ship:
                    payload.append((
                        ckey, _narrow_wire(d_full[:ship]),
                        _narrow_wire(tf_full[:ship]),
                        _narrow_wire(dl_full[:ship]),
                    ))
                if full:
                    break
            if full:
                break
        if not payload:
            return 0
        par = self.spark.sparkContext.defaultParallelism
        bc = self.spark.sparkContext.broadcast(payload)

        def task(batches):
            import pandas as pd_

            # runtime import => the WORKER's module instance (a direct
            # closure ref would ship the driver's cache by value)
            from indexer_spark.query import _warm_install_entries

            n = _warm_install_entries(bc.value, block_size, budget_bytes)
            for _pdf in batches:
                yield pd_.DataFrame({"n": [n]})

        try:
            out = (
                self.spark.range(0, par, 1, par)
                .mapInPandas(task, "n long")
                .agg(F.min("n").alias("n"))
                .collect()
            )
        finally:
            try:
                # workers keep the installed arrays; the broadcast file
                # and registry copy are no longer needed
                bc.destroy()
            except Exception:
                pass
        return int(out[0]["n"]) if out else 0

    def warm_hot_terms(self, n_terms: int = 16,
                       budget_bytes: int | None = None,
                       raw: bool = False) -> int:
        """Pre-decode the largest posting lists into the decoded-postings
        cache (driver side), ranked by term_stats ``nbytes``. A query
        service calls this at startup so the FIRST query for a hot term
        doesn't pay its decode; together with _fast_from_cache, repeat
        queries over warmed terms then never touch parquet at all.

        ``raw=True`` additionally stores each warmed list's raw decoded
        (-1) tuple (doc_ids, tfs, dls — 24 B/posting, counted against
        the same budget), which the TF-IDF fast/hybrid paths need
        (their contribution is w*tf, not the BM25 normalization): a
        service that serves tfidf traffic warms with raw=True so repeat
        tfidf hot queries stay off the distributed plan too.

        By default only the compact BM25 normpart form is stored (16
        bytes/posting vs 24 raw — and decoded lists run ~13x their compressed size, so
        the budget counts ACTUAL stored bytes; budgeting by compressed
        nbytes silently thrashes the LRU). The driver-process cache cap
        is raised to hold the warmed set plus query headroom; worker
        processes have their own module instance and keep the default
        cap. At 10^12 docs a serving node warms from the same term_stats
        ranking."""
        import pyarrow.dataset as pads

        rows = self._top_terms(n_terms)
        if not rows:
            return 0
        if budget_bytes is None:
            # adaptive default: size the budget to hold ALL requested
            # terms (projected stored size is exact — 16 B/posting), up
            # to a ceiling. A fixed 768 MB default silently warmed only
            # 9/16 terms on an 8M-turn index and repeat hot queries fell
            # back to the 2 s distributed path (measured, BENCH notes).
            # The 2 GB default ceiling (cache cap <= ~4 GB with headroom)
            # bounds driver memory on huge indexes — raise it per
            # deployment; a malformed value falls back rather than
            # crashing (or worse, being swallowed by a server's warm
            # guard, silently disabling warming).
            try:
                ceiling = int(
                    os.environ.get("INDEXER_SPARK_WARM_CAP_MB", "2048")
                ) << 20
            except (TypeError, ValueError):
                ceiling = 2048 << 20
            per_posting = 40 if raw else 16  # -2 (16 B) + optional -1 (24 B)
            budget_bytes = min(
                sum(per_posting * int(df) for _, df, _ in rows), ceiling
            )
        # headroom above the warmed set so query-time entries (tfidf raw
        # decodes, unwarmed mid-size terms) don't evict warmed ones: the
        # unwarmed tail of a query set decodes to the same order of
        # magnitude as the warmed head (measured at 8M turns: 25%
        # headroom still thrashed the hot set and repeat hot queries fell
        # back to the distributed path), so give it as much room as the
        # warmed set itself
        want_cap = budget_bytes + max(512 << 20, budget_bytes)
        if not self._cache_cap_held:
            _cache_cap_acquire(want_cap)
            self._cache_cap_held = True
        else:
            # this reader already holds a share; just grow the cap
            with _CACHE_CAP_LOCK:
                if want_cap > _DECODED_CACHE.max_bytes:
                    _DECODED_CACHE.max_bytes = want_cap
        st = self.stats
        warmed, spent = 0, 0
        proj = 40 if raw else 16  # bytes/posting across the stored slots
        # ONE term-pruned payload read for every candidate term instead
        # of one dataset scan per term: 16 per-term reads each paid the
        # row-group pruning walk over every shard dir (measured ~40% of
        # the warm wall at 2M turns/32 shards). The budget loop below
        # still decides — in hottest-first order — which terms actually
        # decode; a budget break merely leaves some prefetched rows
        # unused (the adaptive default budget is sized to hold them all).
        ptbl_all = self._post_table(
            columns=["shard", "term", "df", "docs", "tfs", "dls"],
            filter=pads.field("term").isin([t for t, _, _ in rows]),
        )
        rows_by_term: dict[str, list] = {}
        for sh, t_r, df_r, docs, tfs, dls in zip(
            ptbl_all.column("shard").to_pylist(),
            ptbl_all.column("term").to_pylist(),
            ptbl_all.column("df").to_pylist(),
            ptbl_all.column("docs").to_pylist(),
            ptbl_all.column("tfs").to_pylist(),
            ptbl_all.column("dls").to_pylist(),
        ):
            rows_by_term.setdefault(t_r, []).append(
                (sh, df_r, docs, tfs, dls)
            )
        for t, df, nb in rows:
            # projected stored size is exact: the -2 entry is one int64
            # id + one float64 normpart per posting = 16 bytes x df
            # (+ 24 B for the raw -1 tuple when raw=True). Checked
            # BEFORE decoding so the budget can't overshoot by a full
            # hot term (the first term always warms).
            if warmed and spent + proj * int(df) > budget_bytes:
                break
            self._df_cache[t] = int(df)
            self._nbytes_cache[t] = int(nb or 0)
            for sh, df_r, docs, tfs, dls in rows_by_term.get(t, ()):
                base = (self._epoch, int(sh), t, int(df_r), len(docs))
                need_norm = _DECODED_CACHE.get(base + (-2,)) is None
                need_raw = raw and _DECODED_CACHE.get(base + (-1,)) is None
                if need_norm or need_raw:
                    d, tfv, dl = decode_postings(docs, tfs, dls, int(df_r))
                    if need_norm:
                        normpart = _bm25_normpart(
                            tfv.astype(np.float64), dl,
                            st["k1"], st["b"], st["avgdl"])
                        _DECODED_CACHE.put(base + (-2,), (d, normpart))
                        spent += d.nbytes + normpart.nbytes
                    if need_raw:
                        _DECODED_CACHE.put(base + (-1,), (d, tfv, dl))
                        spent += d.nbytes + tfv.nbytes + dl.nbytes
                # pin the warmed entries: a burst of large unwarmed
                # decodes must never evict the hot set the service paid
                # to warm (refcounted; this reader unpins on close)
                for slot_key in ([base + (-2,)]
                                 + ([base + (-1,)] if raw else [])):
                    if (slot_key not in self._pinned_keys
                            and _DECODED_CACHE.pin(slot_key)):
                        self._pinned_keys.add(slot_key)
                self._record_cached(t, (int(sh), int(df_r), len(docs)))
            warmed += 1
        return warmed

    def _fast_from_cache(self, present: list[str], weights: dict[str, float],
                         k: int, require_all: int = 0,
                         kind: str = "bm25") -> list | None:
        """Score a query entirely from the decoded-postings cache — no
        parquet read at all. Engages when every matched term's
        (shard, df, payload_len) rows are recorded as cached (by
        warm_hot_terms or a previous fast query); returns None — falling
        back to the reading paths — if any entry was LRU-evicted. Same
        chunks, same arithmetic, same aggregation as the reading fast
        path, so results are identical. BM25 reads the compact normpart
        (-2) entries; TF-IDF reads the raw decoded (-1) tuples (stored by
        a previous tfidf scorer pass — its contribution w*tf needs the
        raw tf, not the BM25 normalization)."""
        if self.fast_path_bytes <= 0:
            return None
        if any(t not in self._cached_terms for t in present):
            return None
        covered = self._lru_chunks(present, kind, need_all=True)
        if covered is None:
            return None  # evicted: take the read path
        return self._score_read(present, weights, k, require_all, kind,
                                covered)

    def _lru_chunks(self, present: list[str], kind: str,
                    need_all: bool) -> dict[str, list] | None:
        """term -> [(shard, decoded entry)] for every term of ``present``
        whose recorded (shard, df, payload_len) rows are all resident in
        the decoded LRU (bm25: -2 normpart entries; tfidf: -1 raw
        tuples). With ``need_all``, None at the first term that is not."""
        slot = -2 if kind == "bm25" else -1
        covered: dict[str, list] = {}
        for t in present:
            rows = self._cached_terms.get(t)
            chunks = None if rows is None else []
            for sh, df, ln in sorted(rows or ()):
                hit = _DECODED_CACHE.get((self._epoch, sh, t, df, ln, slot))
                if hit is None:
                    chunks = None  # evicted
                    break
                chunks.append((sh, hit))
            if chunks is not None:
                covered[t] = chunks
            elif need_all:
                return None
        return covered

    def _fast_hybrid(self, present: list[str], weights: dict[str, float],
                     k: int, require_all: int = 0,
                     kind: str = "bm25") -> list | None:
        """Partial-coverage driver path: score cache-covered terms from
        the decoded LRU and read ONLY the uncovered terms' rows from
        parquet, gating ``fast_path_bytes`` on the UNCOVERED payload
        alone. This serves the common service shape where a query mixes
        warmed hot terms with mid-frequency ones: the full payload may
        exceed the driver threshold while the unread remainder is small
        (measured at 8M turns: a 5-term hot query with 2/5 terms warmed
        fell all the way back to the ~2 s distributed path; the uncovered
        3 terms' payload alone fit the driver budget). Decoded rows are
        cached and recorded, so the NEXT repeat takes the pure
        _fast_from_cache path. Same per-row arithmetic and sorted-term
        chunk order as the exhaustive scorer — results bit-identical.
        kind='bm25' works over the compact normpart (-2) entries;
        kind='tfidf' over the raw decoded (-1) tuples (contribution
        w*tf needs the raw tf, not the BM25 normalization)."""
        if self.fast_path_bytes <= 0 or not self._has_nbytes:
            return None
        covered = self._lru_chunks(present, kind, need_all=False)
        uncovered = [t for t in present if t not in covered]
        if not uncovered or len(uncovered) == len(present):
            # fully covered is _fast_from_cache's job; fully uncovered is
            # _fast_scored's — this path only pays off in between
            return None
        if sum(self._nbytes_cache.get(t, 0) for t in uncovered) \
                > self.fast_path_bytes:
            return None
        return self._score_read(present, weights, k, require_all, kind,
                                covered)

    def _fast_scored(self, present: list[str], weights: dict[str, float],
                     k: int, require_all: int = 0,
                     kind: str = "bm25") -> list | None:
        """Driver fast path: when the matched postings payload is small
        (per-term nbytes from term_stats), read the matched rows with
        pyarrow (hive shard partitioning; term predicate prunes row
        groups via the term-sorted layout) and score them driver-side
        with the distributed exhaustive scorer's arithmetic (see
        _score_read) — identical results, no Spark job. Returns None
        when the payload exceeds fast_path_bytes (or the index predates
        the nbytes column), falling back to the distributed plan."""
        if self.fast_path_bytes <= 0 or not self._has_nbytes:
            return None
        total = sum(self._nbytes_cache.get(t, 0) for t in present)
        if total > self.fast_path_bytes:
            return None
        return self._score_read(present, weights, k, require_all, kind, {})

    def _score_read(self, present: list[str], weights: dict[str, float],
                    k: int, require_all: int, kind: str,
                    covered: dict[str, list]) -> list:
        """Driver scoring shared by the cache, hybrid and driver-read
        routes. ``covered`` terms bring their (shard, entry) chunks from
        the decoded LRU; every other term's rows are point-read as Arrow
        columns (terms x shards rows, so plain lists — no pandas),
        decoded through the LRU (bm25: the -2 normpart, built from a
        resident -1 raw tuple when there is one; tfidf: the -1 raw
        tuple) and recorded for _fast_from_cache. Same per-row
        arithmetic, sorted-term chunk order and aggregation as the
        exhaustive scorer, so results are bit-identical to the
        distributed plan."""
        import pyarrow.dataset as pads

        cols = ["shard", "term", "df", "docs", "tfs", "dls"]
        uncovered = [t for t in present if t not in covered]
        rows_by_term: dict[str, list] = {}
        if uncovered:
            tbl = self._post_table(
                columns=cols, filter=pads.field("term").isin(uncovered))
            for row in zip(*(tbl.column(c).to_pylist() for c in cols)):
                rows_by_term.setdefault(row[1], []).append(row)
        st = self.stats
        slot = -2 if kind == "bm25" else -1
        by_shard: dict[int, tuple[list, list]] = {}
        for t in sorted(present):  # sorted-term order pins float order
            chunks = covered.get(t)
            if chunks is None:
                chunks = []
                for sh, _t, df, docs, tfs, dls in rows_by_term.get(t, ()):
                    base = (self._epoch, sh, t, df, len(docs))
                    hit = _DECODED_CACHE.get(base + (slot,))
                    if hit is None:
                        raw = (_DECODED_CACHE.get(base + (-1,))
                               if kind == "bm25" else None)
                        d, tfv, dl = raw or decode_postings(
                            docs, tfs, dls, df)
                        hit = (d, _bm25_normpart(
                            tfv.astype(np.float64), dl,
                            st["k1"], st["b"], st["avgdl"],
                        )) if kind == "bm25" else (d, tfv, dl)
                        _DECODED_CACHE.put(base + (slot,), hit)
                    chunks.append((sh, hit))
                    # record EVERY row read, not only resident ones: a
                    # term recorded for a subset of its shards would let
                    # _fast_from_cache score from that subset, while an
                    # evicted entry of a full record is a clean get() miss
                    self._record_cached(t, (sh, df, len(docs)))
            w = weights[t]
            for sh, hit in chunks:
                idc, scc = by_shard.setdefault(sh, ([], []))
                idc.append(hit[0])
                # (w, arr) pair: multiplied inside the per-shard worker
                scc.append((w, hit[1]))  # normpart (bm25) or tf (tfidf)
        # P8's exact-zero drop (tree.rs:456-459) is enforced inside the
        # aggregation: it never emits zero sums
        uids, sums = _aggregate_scores_sharded(by_shard, k, require_all)
        uids, sums = _topk_merge(uids, sums, k)
        self.last_path = "fast"
        return [(int(d), float(s)) for d, s in zip(uids, sums)]

    def _fast_phrase(self, present: list[str], scorer, k: int,
                     label: str = "fast_phrase",
                     cols: list[str] | None = None) -> list | None:
        """Driver fast path for the shard-grouped scorer modes (phrase /
        near / bool): per-term byte budget gate like _fast_scored, but
        counting the positions payload too when the read includes it
        (poss_nbytes from term_stats; indexes built before that column
        existed fall back to estimating poss at 1x the postings payload
        — the measured whole-index ratio at 2M turns was poss ~0.6x, so
        the estimate errs toward the distributed plan, never toward an
        unbounded driver read). Then a pyarrow point-read of ``cols``
        (default includes the poss column) and the SAME per-shard scorer
        a distributed task would run — shards scored CONCURRENTLY on the
        _score_threads() pool when groups are few and heavy (shard
        outputs are independent: doc-range sharding means no doc appears
        in two shards, so the merge is order-insensitive and results
        stay bit-identical to the serial loop; at many tiny groups the
        GIL makes threads a net LOSS — measured 0.47 s serial vs 1.2 s
        on 4 threads over 306 groups at 20M turns — so the pool only
        engages up to FAST_PHRASE_THREAD_MAX_GROUPS) — with the
        standard (score desc, doc_id asc) top-k merge.

        Repeats skip the parquet read entirely: every reading pass
        records its rows in the _cached_terms bookkeeping, and a later
        call whose terms are all recorded replays the scorer over
        synthetic payload-less rows served from the decoded LRU
        (slots -1 postings, -3/-4 positions); any evicted entry raises
        _FastCacheMiss and the call falls back to the reading path.
        Result-identical to the distributed plan on every path."""
        if self.fast_path_bytes <= 0 or not self._has_nbytes:
            return None
        cols = cols or ["shard", "term", "df", "docs", "tfs", "dls",
                        "poss"]
        total = sum(self._nbytes_cache.get(t, 0) for t in present)
        if "poss" in cols:
            if self._has_poss_nbytes:
                total += sum(
                    self._poss_nbytes_cache.get(t, 0) for t in present
                )
            else:
                total += sum(
                    self._nbytes_cache.get(t, 0) for t in present
                )
        if total > self.fast_path_bytes:
            return None
        # cache-fed replay: all terms' rows known from a previous read
        if all(t in self._cached_terms for t in present):
            rows = []
            for t in present:
                for sh, df_r, plen in sorted(self._cached_terms[t]):
                    rows.append((sh, t, df_r, plen))
            spdf = pd.DataFrame(
                rows, columns=["shard", "term", "df", "plen"]
            )
            for c in ("docs", "tfs", "dls"):
                spdf[c] = None
            if "poss" in cols:
                spdf["poss"] = None
            try:
                return self._run_shard_groups(spdf, scorer, k, label)
            except _FastCacheMiss:
                pass  # evicted somewhere: take the reading path
        import pyarrow.dataset as pads

        tbl = self._post_table(
            columns=cols,
            filter=pads.field("term").isin(present),
        )
        pdf = tbl.to_pandas()
        # record rows so repeats can replay from the cache (same
        # bookkeeping _fast_scored uses; unconditional for the same
        # partial-entry reason)
        for row in pdf.itertuples():
            self._record_cached(
                row.term, (int(row.shard), int(row.df), len(row.docs))
            )
        return self._run_shard_groups(pdf, scorer, k, label)

    #: thread the per-shard fast-path scorer only up to this many shard
    #: groups: at the default 32 MB admission budget, more groups than
    #: this means < ~0.5 MB of payload per group, where per-group GIL
    #: time dominates and the pool measurably loses to the serial loop
    FAST_PHRASE_THREAD_MAX_GROUPS = 64

    def _run_shard_groups(self, pdf, scorer, k: int, label: str) -> list:
        groups = [g for _, g in pdf.groupby("shard", sort=False)]
        if 1 < len(groups) <= self.FAST_PHRASE_THREAD_MAX_GROUPS:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(_score_threads()) as ex:
                outs = list(ex.map(scorer, groups))
        else:
            # many small groups: ONE merged whole-index evaluation —
            # the scorers merge same-term rows across shards (globally
            # sorted doc ranges), so a single pass replaces hundreds of
            # per-group python fixed costs (measured 0.47 s serial loop
            # over 306 groups at 20M turns; the merged pass removes it)
            outs = [scorer(pdf)]
        outs = [o for o in outs if len(o)]
        if not outs:
            self.last_path = label
            return []
        allout = pd.concat(outs, ignore_index=True)
        uids, sums = _topk_merge(
            allout["doc_id"].to_numpy(np.int64),
            allout["score"].to_numpy(np.float64), k,
        )
        self.last_path = label
        return [(int(d), float(s)) for d, s in zip(uids, sums)]

    def _postings_for(self, terms: list[str]) -> DataFrame:
        from .build import POSTINGS_SCHEMA, POSTINGS_SCHEMA_POS

        # positional indexes carry one extra payload column; reading with
        # the wider schema costs nothing unless a phrase query selects it
        # (parquet column pruning)
        schema = (
            POSTINGS_SCHEMA_POS if self.stats.get("positions")
            else POSTINGS_SCHEMA
        )
        base = self.spark.read.schema(schema).parquet(
            _postings_path(self.index_dir)
        )
        return base.filter(F.col("term").isin(terms))

    # -- search ----------------------------------------------------------

    def _bool_prep(self, query: str, k: int,
                   max_expansions: int | None = None):
        """Shared setup for the boolean paths: parse, expand prefix
        atoms against the dictionary, resolve dfs, build the scorer.
        Returns None when the query matches nothing by construction
        (collapses to no atoms, or no positive term exists in the
        corpus). Raises ValueError on syntax errors, pure-negative
        queries, and phrase atoms on a position-less index (from
        boolquery.parse / here)."""
        from .boolquery import from_root, parse, rewrite_prefixes

        pq = parse(query)
        if pq.root is None:
            return None
        if pq.has_prefix:
            root = rewrite_prefixes(
                pq.root, lambda p: self.expand_prefix(p, max_expansions)
            )
            pq = from_root(root)
            if pq.root is None:
                return None
        if pq.has_phrase and not self.stats.get("positions"):
            raise ValueError(
                "quoted phrases in a boolean query need an index built "
                "with BuildConfig(positions=True); this index has no "
                "positions payload"
            )
        all_terms = sorted(set(pq.pos_terms) | set(pq.neg_terms))
        dfs = self.global_dfs(all_terms)
        present = [t for t in all_terms if dfs[t] > 0]
        if not any(dfs[t] > 0 for t in pq.pos_terms):
            return None  # every positive term absent -> nothing matches
        st = self.stats
        idf = {
            t: _bm25_idf(st["n_docs"], dfs[t])
            for t in pq.pos_terms if dfs[t] > 0
        }
        scorer = _make_bool_scorer(
            pq, idf, st["k1"], st["b"], st["avgdl"], k, pq.has_phrase,
            epoch=self._epoch,
        )
        cols = ["shard", "term", "df", "docs", "tfs", "dls"]
        if pq.has_phrase:
            cols.append("poss")
        return present, scorer, cols

    def search_rerank(
        self, query: str, embeddings_path: str, k: int = 10,
        n_candidates: int = 100, mode: str = "pruned", window: int = 8,
        alpha: float = 0.0, query_vec=None, query_vec_id: int | None = None,
        id_col: str = "vec_id", vec_col: str = "embedding",
    ) -> list[tuple[int, float, float]]:
        """Hybrid retrieval: BM25 top-``n_candidates`` (any mode, incl.
        'bool'), then rerank by embedding cosine — the RAG-shaped
        two-stage pattern. Returns [(doc_id, blended_score, bm25)] by
        (blended desc, doc_id asc); blended = alpha*bm25 +
        (1-alpha)*cosine (alpha=0 -> pure cosine rerank; alpha=1 ->
        BM25 order with cosine merely computed).

        The rerank stage is DRIVER-side on purpose: stage 1 already cut
        the corpus to n_candidates ids, so stage 2 is a pyarrow
        point-read of n_candidates embedding rows (id-predicate
        pushdown) + one numpy matmul — no Spark job, same shape at
        10^12 docs because the candidate count, not the corpus, sizes
        it. Candidates without an embedding row are dropped (a missing
        vector cannot be ranked). The query vector comes in directly
        (``query_vec``) or by id (``query_vec_id``) from the same
        table."""
        if (query_vec is None) == (query_vec_id is None):
            raise ValueError("exactly one of query_vec / query_vec_id")
        hits = (
            self.search_bool(query, k=n_candidates) if mode == "bool"
            else self.search(query, k=n_candidates, mode=mode,
                             window=window)
        )
        if not hits:
            return []
        import pyarrow.dataset as pads

        ds = pads.dataset(embeddings_path, format="parquet")
        ids = [int(d) for d, _ in hits]
        want = sorted(set(ids) | (
            {int(query_vec_id)} if query_vec_id is not None else set()
        ))
        tbl = ds.to_table(columns=[id_col, vec_col],
                          filter=pads.field(id_col).isin(want))
        vecs = {
            int(i): np.asarray(v, dtype=np.float64)
            for i, v in zip(tbl.column(id_col).to_pylist(),
                            tbl.column(vec_col).to_pylist())
            if v is not None
        }
        if query_vec is not None:
            q = np.asarray(query_vec, dtype=np.float64)
        else:
            q = vecs.get(int(query_vec_id))
            if q is None:
                raise ValueError(
                    f"query_vec_id {query_vec_id} not in {embeddings_path}"
                )
        qn = float(np.sqrt((q * q).sum()))
        out = []
        for d, bm25 in hits:
            v = vecs.get(int(d))
            if v is None:
                continue
            denom = float(np.sqrt((v * v).sum())) * qn
            cos = float(v @ q) / denom if denom else 0.0
            out.append((int(d), alpha * bm25 + (1.0 - alpha) * cos, bm25))
        out.sort(key=lambda r: (-r[1], r[0]))
        return out[:k]

    def _docstore_docids(self, cols: list[str]):
        """Docstore rows with the absolute doc_id derived distributed:
        local_idx + a broadcast shard-offset map — the join key the
        facet / export / filtered-search plans share. Returns a
        DataFrame (doc_id, *cols)."""
        items = sorted(
            (int(s), int(o))
            for s, o in self.stats["shard_offsets"].items()
        )
        offs = self.spark.createDataFrame(
            items, "shard int, shard_offset long"
        )
        tok = self.spark.read.parquet(_tok_path(self.index_dir)).select(
            "shard", "local_idx", *cols
        )
        return tok.join(F.broadcast(offs), "shard").select(
            (F.col("local_idx") + F.col("shard_offset")).alias("doc_id"),
            *cols,
        )

    FACET_DRIVER_MAX_DOCS = 100_000

    #: matched-set docs at or under this bound MAY broadcast to the
    #: docstore side of the facet/export/filtered-search joins instead
    #: of shuffle-joining it: the corpus-sized tok projection then never
    #: moves (the 20M-row docstore exchange was the facet wall at sf1),
    #: while the broadcast stays <= ~2M rows x 16 B well inside executor
    #: memory. The bound is decided BEFORE running anything, from
    #: term_stats df (OR: sum of dfs; AND/phrase/near: min df; bool: sum
    #: over positive atoms) — an upper bound on matches, so the gate can
    #: only err toward the always-safe shuffle join.
    FACET_BROADCAST_MAX_DOCS = 2_000_000

    #: ...and only when the match bound is at most 1/this of the corpus:
    #: a broadcast costs ~bound (collect + hash build + per-task probe
    #: setup) while the shuffle costs ~n_docs; a match set comparable to
    #: the corpus gains nothing from broadcasting (measured at 2M turns:
    #: a 1.9M-row broadcast LOST to the 2M-row shuffle, 2.0 s vs 1.3 s
    #: warm, while an 8x-smaller one wins).
    FACET_BROADCAST_MIN_RATIO = 8

    def _match_upper_bound(self, query: str, mode: str) -> int | None:
        """Upper bound on the number of matching docs, from term_stats
        dfs alone (no postings read). None when no bound is derivable."""
        try:
            if mode == "bool":
                from .boolquery import from_root, parse, rewrite_prefixes

                pq = parse(query)
                if pq.root is None:
                    return 0
                if pq.has_prefix:
                    root = rewrite_prefixes(pq.root, self.expand_prefix)
                    pq = from_root(root)
                    if pq.root is None:
                        return 0
                terms = sorted(set(pq.pos_terms))
                if not terms:
                    return 0
                dfs = self.global_dfs(terms)
                return int(sum(dfs[t] for t in terms))
            terms = sorted(set(tokenize(query)))
            if not terms:
                return 0
            dfs = self.global_dfs(terms)
            vals = [dfs[t] for t in terms]
            if mode in ("and", "phrase", "near"):
                return int(min(vals))
            return int(sum(vals))
        except ValueError:
            return None

    def _join_docstore(self, scored, cols: list[str], bound: int | None):
        """Join the scored set to the docstore projection, broadcasting
        the scored side when the df-derived match bound allows — the
        corpus-sized tok scan then never shuffles (one broadcast + the
        consumer's tiny aggregate instead of a full-table exchange).
        Row-identical to the shuffle join either way."""
        docs = self._docstore_docids(cols)
        if (
            bound is not None
            and bound <= self.FACET_BROADCAST_MAX_DOCS
            and bound * self.FACET_BROADCAST_MIN_RATIO
            <= int(self.stats["n_docs"])
        ):
            return docs.join(F.broadcast(scored), "doc_id")
        return scored.join(docs, "doc_id")

    def facet_counts(
        self, query: str, by: str = "role", k: int = 20,
        mode: str = "pruned", window: int = 8,
    ) -> list[tuple[object, int]]:
        """Matched-document counts per value of a docstore column
        ('role', 'conv_id', 'turn_idx') over ALL documents matching the
        query (any mode, incl. 'bool') -> [(value, count)] by
        (count desc, value asc), top ``k`` values.

        Two-tier like everything else: when the matched postings payload
        clears the serving nbytes gate AND the matched set is small, the
        counts come from a driver point-read of the matched tok rows
        (k-row IO, no Spark job); otherwise a distributed plan joins the
        full scored set to the docstore (doc_id derived from local_idx +
        a broadcast shard-offset map — the scored side never leaves its
        shard until the tiny per-value aggregate)."""
        if by not in ("role", "conv_id", "turn_idx"):
            raise ValueError(
                f"facet column {by!r} not in the docstore "
                "(role / conv_id / turn_idx)"
            )
        hits = self._facet_driver_hits(query, mode, window)
        if hits == []:
            return []
        if hits is not None and len(hits) <= self.FACET_DRIVER_MAX_DOCS:
            vals = self._tok_rows(hits, [by])
            counts: dict = {}
            for d, _s in hits:
                row = vals.get(int(d))
                if row is not None:
                    counts[row[0]] = counts.get(row[0], 0) + 1
            out = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            return out[:k]
        # distributed: full scored set, no global order, tiny final agg
        scored = (
            self.search_bool_df(query, _all=True) if mode == "bool"
            else self.search_df(query, mode=mode, window=window, _all=True)
        )
        if scored is None:
            return []
        rows = (
            self._join_docstore(
                scored.select("doc_id"), [by],
                self._match_upper_bound(query, mode),
            )
            .groupBy(by)
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc(by))
            .limit(k)
            .collect()
        )
        return [(r[by], int(r["n"])) for r in rows]

    def export_matches(
        self, query: str, out_path: str, mode: str = "pruned",
        window: int = 8, with_scores: bool = True,
    ) -> int:
        """Materialize EVERY document matching the query (any mode,
        incl. 'bool') as parquet at ``out_path`` with columns (conv_id,
        turn_idx, doc_id[, score]) — the curation primitive: "give me
        all turns matching this boolean query" as a dataset, not a
        top-k. Returns the row count.

        Fully distributed and unordered end-to-end: the full scored set
        (no global sort — an export has no rank) joins the docstore on a
        doc_id derived from local_idx + a broadcast shard-offset map, so
        nothing corpus-sized ever reaches the driver."""
        scored = (
            self.search_bool_df(query, _all=True) if mode == "bool"
            else self.search_df(query, mode=mode, window=window, _all=True)
        )
        if scored is None:
            # empty by construction: write an empty frame with the same
            # schema so downstream readers see a dataset either way
            schema = "conv_id string, turn_idx int, doc_id long" + (
                ", score double" if with_scores else ""
            )
            empty = self.spark.createDataFrame([], schema)
            empty.write.mode("overwrite").parquet(out_path)
            return 0
        cols = ["conv_id", "turn_idx", "doc_id"] + (
            ["score"] if with_scores else []
        )
        out = self._join_docstore(
            scored, ["conv_id", "turn_idx"],
            self._match_upper_bound(query, mode),
        ).select(*cols)
        out.write.mode("overwrite").parquet(out_path)
        return self.spark.read.parquet(out_path).count()

    def search_where(
        self, query: str, where: dict, k: int = 10,
        mode: str = "pruned", window: int = 8,
    ) -> list[tuple[int, float]]:
        """BM25 top-k restricted by docstore attributes: ``where`` maps
        a docstore column ('role', 'conv_id', 'turn_idx') to a required
        value or list of values — e.g. {"role": "assistant"} searches
        only assistant turns. Any query mode, incl. 'bool'. Scores are
        the UNFILTERED BM25 scores (the filter narrows the candidate
        set, it does not re-weight).

        Driver path (payload gate + small matched set): filter the full
        matched list through one point-read of the matched rows'
        attribute columns. Distributed: the unordered full scored set
        joins the docstore attributes (broadcast shard-offset map),
        filters, and ends in TakeOrderedAndProject — the filter never
        touches postings, and nothing corpus-sized reaches the driver."""
        cols = sorted(where)
        for c in cols:
            if c not in ("role", "conv_id", "turn_idx"):
                raise ValueError(
                    f"filter column {c!r} not in the docstore "
                    "(role / conv_id / turn_idx)"
                )
        allow = {
            c: set(v) if isinstance(v, (list, tuple, set)) else {v}
            for c, v in where.items()
        }
        hits = self._facet_driver_hits(query, mode, window)
        if hits == []:
            return []
        if hits is not None and len(hits) <= self.FACET_DRIVER_MAX_DOCS:
            attr = self._tok_rows(hits, cols)
            out = []
            for d, s in hits:  # hits arrive (score desc, doc_id asc)
                vals = attr.get(int(d))
                if vals is None:
                    continue
                if all(v in allow[c] for c, v in zip(cols, vals)):
                    out.append((int(d), float(s)))
                    if len(out) >= k:
                        break
            return out
        scored = (
            self.search_bool_df(query, _all=True) if mode == "bool"
            else self.search_df(query, mode=mode, window=window, _all=True)
        )
        if scored is None:
            return []
        cond = None
        for c in cols:
            clause = F.col(c).isin([v for v in allow[c]])
            cond = clause if cond is None else (cond & clause)
        rows = (
            self._join_docstore(
                scored, cols, self._match_upper_bound(query, mode),
            )
            .filter(cond)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def _facet_driver_hits(self, query, mode, window):
        """Full matched list [(doc_id, score)] via the driver fast path;
        [] when the query matches nothing by construction; None when the
        payload gate refuses (caller must go distributed)."""
        if mode in ("phrase", "near") and not self.stats.get("positions"):
            # surfaced before any empty-by-construction early return,
            # matching search_df's contract: a caller pointing positional
            # facets/filters at a position-less index must hear about it
            # even when this particular query would come back empty
            raise ValueError(
                f"{mode} search needs an index built with "
                "BuildConfig(positions=True); this index has no "
                "positions payload"
            )
        if mode == "bool":
            prep = self._bool_prep(query, 1 << 30)
            if prep is None:
                return []
            present, scorer, cols = prep
            return self._fast_phrase(present, scorer, 1 << 30,
                                     label="fast_bool", cols=cols)
        terms = sorted(set(tokenize(query)))
        if not terms:
            return []
        dfs = self.global_dfs(terms)
        present = [t for t in terms if dfs[t] > 0]
        if not present:
            return []
        if mode in ("and", "phrase", "near") and len(present) < len(terms):
            return []
        if self.fast_path_bytes <= 0 or not self._has_nbytes:
            return None
        total = sum(self._nbytes_cache.get(t, 0) for t in present)
        if mode in ("phrase", "near"):
            # the SAME poss-aware accounting _fast_phrase applies: a
            # mismatch here would pass this gate, then have search()'s
            # stricter gate refuse and collect the full match set off
            # the distributed plan instead of the driver path this
            # function promises
            if self._has_poss_nbytes:
                total += sum(
                    self._poss_nbytes_cache.get(t, 0) for t in present
                )
            else:
                total += sum(
                    self._nbytes_cache.get(t, 0) for t in present
                )
        if total > self.fast_path_bytes:
            return None
        # gate passed: search() is guaranteed to stay on a driver path
        return self.search(query, k=1 << 30, mode=mode, window=window)

    def positive_terms(self, query: str, mode: str = "pruned") -> set[str]:
        """The distinct index terms a query scores on — what a snippet
        highlighter should mark. Plain modes: every query term; boolean
        mode: positive atoms only (a NOT-ed term is evidence of
        non-match), with prefix atoms expanded against the dictionary."""
        if mode == "bool":
            from .boolquery import from_root, parse, rewrite_prefixes

            pq = parse(query)
            if pq.root is None:
                return set()
            if pq.has_prefix:
                pq = from_root(
                    rewrite_prefixes(pq.root, self.expand_prefix)
                )
            return set(pq.pos_terms)
        return set(tokenize(query))

    def search_bool(self, query: str, k: int = 10,
                    max_expansions: int | None = None,
                    ) -> list[tuple[int, float]]:
        """Boolean-language BM25 top-k (see boolquery.py): AND / OR /
        NOT, parentheses, quoted phrases, `word*` prefix atoms,
        implicit AND. Matching docs score BM25 over the distinct
        positive terms they contain. Also reachable as
        search(query, k, mode='bool')."""
        prep = self._bool_prep(query, k, max_expansions)
        if prep is None:
            return []
        present, scorer, cols = prep
        hit = self._fast_phrase(present, scorer, k, label="fast_bool",
                                cols=cols)
        if hit is not None:
            return hit
        df = self.search_bool_df(query, k, max_expansions)
        if df is None:
            return []
        return [(r["doc_id"], r["score"]) for r in df.collect()]

    def search_bool_df(self, query: str, k: int = 10,
                       max_expansions: int | None = None,
                       _all: bool = False):
        # _all: every matching doc, unordered (facet/export plans — a
        # global sort of the full matched set is exactly what those
        # consumers don't want)
        prep = self._bool_prep(query, (1 << 30) if _all else k,
                               max_expansions)
        if prep is None:
            return None
        present, scorer, cols = prep
        scored = self._apply_scorer(
            self._postings_for(present).select(*cols), scorer
        )
        self.last_path = "distributed"
        if _all:
            return scored
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search(
        self, query: str, k: int = 10, mode: str = "pruned",
        window: int = 8,
    ) -> list[tuple[int, float]]:
        """BM25 top-k -> [(doc_id, score)].

        mode 'pruned' | 'exhaustive' (disjunctive, reference-parity
        OR semantics) | 'and' (conjunctive: only docs containing ALL
        distinct query terms; BM25 scoring of survivors is unchanged —
        an extension beyond the OR-only reference, SURVEY §2.7) |
        'phrase' (positional: only docs containing the query terms as a
        contiguous phrase, stop-word gaps respected; needs an index
        built with BuildConfig(positions=True)) | 'near' (positional
        proximity: only docs whose distinct query terms co-occur within
        a ``window``-token span, unordered; same positional-index
        requirement). ``window`` applies to mode='near' only.

        mode 'bool' treats the query as the boolean language
        (search_bool): AND / OR / NOT, parentheses, quoted phrases.

        Small matched postings sets take the driver fast path (see
        _fast_scored) regardless of mode — its scoring is
        result-identical to the distributed modes."""
        if mode == "bool":
            return self.search_bool(query, k)
        if mode in ("phrase", "near"):
            if not self.stats.get("positions"):
                raise ValueError(
                    f"{mode} search needs an index built with "
                    "BuildConfig(positions=True); this index has no "
                    "positions payload"
                )
            terms = sorted(set(tokenize(query)))
            if not terms:
                return []
            dfs = self.global_dfs(terms)
            if any(dfs[t] == 0 for t in terms):
                return []
            st = self.stats
            idf = {t: _bm25_idf(st["n_docs"], dfs[t]) for t in terms}
            if mode == "phrase":
                qoffsets = {
                    t: np.asarray(v, dtype=np.int64)
                    for t, v in term_occurrences(query).items()
                }
                scorer = _make_phrase_scorer(
                    idf, st["k1"], st["b"], st["avgdl"], k, qoffsets,
                    epoch=self._epoch,
                )
            else:
                scorer = _make_near_scorer(
                    idf, st["k1"], st["b"], st["avgdl"], k, window,
                    epoch=self._epoch,
                )
            hit = self._fast_phrase(terms, scorer, k, label=f"fast_{mode}")
            if hit is not None:
                return hit
            df = self.search_df(query, k, mode, window=window)
            if df is None:
                return []
            return [(r["doc_id"], r["score"]) for r in df.collect()]
        terms = sorted(set(tokenize(query)))
        if not terms:
            return []
        dfs = self.global_dfs(terms)
        present = [t for t in terms if dfs[t] > 0]
        if not present:
            return []
        require = 0
        if mode == "and":
            if len(present) < len(terms):
                return []  # a term absent from the corpus empties an AND
            require = len(present)
        st = self.stats
        idf = {t: _bm25_idf(st["n_docs"], dfs[t]) for t in present}
        # fastest path first: fully-cached terms score without touching
        # parquet at all (identical arithmetic)
        hit = self._fast_from_cache(present, idf, k, require_all=require)
        if hit is not None:
            return hit
        # partial coverage: cached terms from the LRU, the (small)
        # uncovered remainder from parquet
        hit = self._fast_hybrid(present, idf, k, require_all=require)
        if hit is not None:
            return hit
        # the fast path always scores exhaustively: with the O(n) dense
        # aggregation + argpartition top-k, one vectorized pass beats the
        # segment-at-a-time pruning loop run serially over every shard
        # (measured 10x on hot terms driver-side; pruning pays off only
        # where per-shard work runs in parallel, i.e. the distributed
        # plan). Results are identical either way (pruning is exact).
        fast = self._fast_scored(present, idf, k, require_all=require)
        if fast is not None:
            return fast
        df = self.search_df(query, k, mode)
        if df is None:
            return []
        return [(r["doc_id"], r["score"]) for r in df.collect()]

    def search_df(self, query: str, k: int = 10, mode: str = "pruned",
                  window: int = 8, _all: bool = False):
        # _all: every matching doc, unordered (facet/export plans)
        if _all:
            k = 1 << 30
            if mode == "pruned":
                # block-max pruning can skip nothing when every doc is
                # wanted; the exhaustive scorer does the same work minus
                # the upper-bound bookkeeping
                mode = "exhaustive"
        if mode == "bool":
            return self.search_bool_df(query, k, _all=_all)
        if mode in ("phrase", "near") and not self.stats.get("positions"):
            # checked before any early return: a caller pointing phrase
            # queries at a position-less index should hear about it even
            # when this particular query would come back empty
            raise ValueError(
                f"{mode} search needs an index built with "
                "BuildConfig(positions=True); this index has no "
                "positions payload"
            )
        terms = sorted(set(tokenize(query)))
        if not terms:
            return None
        dfs = self.global_dfs(terms)
        present = [t for t in terms if dfs[t] > 0]
        if not present:
            return None
        n = self.stats["n_docs"]
        idf = {t: _bm25_idf(n, dfs[t]) for t in present}
        st = self.stats
        if mode in ("phrase", "near"):
            if len(present) < len(terms):
                # a term absent from the corpus empties a phrase/near
                return None
            if mode == "phrase":
                qoffsets = {
                    t: np.asarray(v, dtype=np.int64)
                    for t, v in term_occurrences(query).items()
                }
                scorer = _make_phrase_scorer(
                    idf, st["k1"], st["b"], st["avgdl"], k, qoffsets,
                    epoch=self._epoch,
                )
            else:
                scorer = _make_near_scorer(
                    idf, st["k1"], st["b"], st["avgdl"], k, window,
                    epoch=self._epoch,
                )
            cols = ["shard", "term", "df", "docs", "tfs", "dls", "poss"]
        elif mode == "and":
            if len(present) < len(terms):
                return None
            scorer = _make_and_scorer(
                idf, st["k1"], st["b"], st["avgdl"], k, st["block_size"],
                n_required=len(present), epoch=self._epoch,
            )
            cols = ["shard", "term", "df", "docs", "tfs", "dls", "blocks"]
        elif mode == "pruned":
            scorer = _make_pruned_scorer(
                idf, st["k1"], st["b"], st["avgdl"], k, st["block_size"],
                shard_ub_scale=self._ub_scale or None,
                epoch=self._epoch,
            )
            cols = ["shard", "term", "df", "docs", "tfs", "dls", "blocks"]
        else:
            scorer = _make_exhaustive_scorer(
                idf, st["k1"], st["b"], st["avgdl"], k, "bm25",
                epoch=self._epoch,
            )
            cols = ["shard", "term", "df", "docs", "tfs", "dls"]
        scored = self._apply_scorer(
            self._postings_for(present).select(*cols), scorer
        )
        self.last_path = "distributed"
        if _all:
            return scored
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _apply_scorer(self, postings: DataFrame, scorer):
        """Shuffle-free when whole-file tasks are guaranteed (score in
        place via mapInPandas); otherwise exchange by shard first."""
        if self._whole_file_tasks:
            # re-pin the split-size confs on every query: another reader's
            # close() may have restored lower priors session-wide, which
            # would silently split a postings file across tasks and break
            # the per-shard grouping this plan relies on
            if self._need_bytes is not None:
                for key in ("spark.sql.files.maxPartitionBytes",
                            "spark.sql.files.openCostInBytes"):
                    cur = _parse_bytes(self.spark.conf.get(key))
                    if cur is None or cur < self._need_bytes:
                        self.spark.conf.set(key, str(self._need_bytes))
            return postings.mapInPandas(
                _shard_grouped(scorer), schema=_SCORE_SCHEMA
            )
        return postings.groupBy("shard").applyInPandas(
            scorer, schema=_SCORE_SCHEMA
        )

    def search_tfidf(self, query: str, k: int | None = 10) -> list[tuple[int, float]]:
        """Reference-parity TF-IDF search incl. quirks Q3/Q9 (tree.rs:388-465)."""
        mult = Counter(tokenize(query))
        if not mult:
            return []
        terms = sorted(mult)
        dfs = self.global_dfs(terms)
        n = self.stats["n_docs"]
        weights = {}
        for t in terms:
            if dfs[t] == 0:
                continue
            m = mult[t]
            global_df = float(m * dfs[t])
            weights[t] = m * m * abs(math.log(n / global_df))
        if not weights:
            return []
        present = sorted(weights)
        kk = k if k is not None else n
        # fastest path first: a repeat tfidf query whose raw decoded
        # postings are still cache-resident scores without touching
        # parquet (the tfidf twin of the bm25 all-cached shortcut)
        hit = self._fast_from_cache(present, weights, kk, kind="tfidf")
        if hit is not None:
            return hit
        # partial coverage: warmed/previously-decoded raw lists from the
        # LRU + a pyarrow read of only the uncovered remainder (the
        # tfidf twin of the bm25 hybrid; at 20M turns a repeat tfidf on
        # a hot term otherwise pays the distributed plan every time)
        hit = self._fast_hybrid(present, weights, kk, kind="tfidf")
        if hit is not None:
            return hit
        fast = self._fast_scored(present, weights, kk, kind="tfidf")
        if fast is not None:
            return fast
        self.last_path = "distributed"
        scored = self._apply_scorer(
            self._postings_for(present).select(
                "shard", "term", "df", "docs", "tfs", "dls"
            ),
            _make_exhaustive_scorer(
                weights, 0, 0, 1.0, kk, "tfidf", epoch=self._epoch
            ),
        )
        out = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(kk)
        return [(r["doc_id"], r["score"]) for r in out.collect()]

    def _tok_rows(self, hits, cols: list[str]) -> dict[int, list]:
        """doc_id -> [``cols`` values] for the docs of ``hits``: doc_ids
        map to (shard, local_idx) via the stats offsets, then one pyarrow
        point-read of the matched tok rows through the cached handle
        (shard partition pruning + local_idx row-group stats — k rows,
        metadata-sized IO, no Spark job). Docs not found are absent."""
        import pyarrow.dataset as pads

        loc = locate_doc_ids(self.stats, [int(d) for d, _ in hits])
        if not loc:
            return {}
        keys = ["shard", "local_idx"]
        shards = sorted({s for s, _ in loc.values()})
        locals_ = sorted({li for _, li in loc.values()})
        tbl = self._read(
            "tok", columns=keys + cols,
            filter=pads.field("shard").isin(shards)
            & pads.field("local_idx").isin(locals_),
        )
        by_key = {
            (s, li): vals
            for s, li, *vals in zip(
                *(tbl.column(c).to_pylist() for c in keys + cols))
        }
        return {d: by_key[key] for d, key in loc.items() if key in by_key}

    def resolve_local(
        self, hits: list[tuple[int, float]]
    ) -> list[dict]:
        """Driver-side resolve for serving paths (see _tok_rows): same
        output rows as resolve(), list-of-dict instead of a DataFrame."""
        rows = self._tok_rows(hits, ["conv_id", "turn_idx"])
        return [
            {"conv_id": r[0], "turn_idx": int(r[1]),
             "doc_id": int(d), "score": float(score)}
            for d, score in hits
            if (r := rows.get(int(d))) is not None
        ]

    def resolve(self, hits: list[tuple[int, float]]) -> DataFrame:
        """doc_id -> (conv_id, turn_idx) resolution (J1, tree.rs:454-459):
        broadcast the tiny top-k side; doc_ids are translated driver-side
        to (shard, local_idx) so the tok scan gets shard PARTITION
        pruning + local_idx row-group pruning (better than filtering a
        computed doc_id column)."""
        loc = locate_doc_ids(self.stats, [int(d) for d, _ in hits])
        rows = [
            (*loc[int(d)], int(d), float(s)) for d, s in hits if int(d) in loc
        ]
        hits_df = self.spark.createDataFrame(
            rows, "shard int, local_idx long, doc_id long, score double"
        )
        tok = self.spark.read.parquet(_tok_path(self.index_dir)).filter(
            F.col("shard").isin(sorted({r[0] for r in rows}))
            & F.col("local_idx").isin(sorted({r[1] for r in rows}))
        )
        return (
            tok.join(F.broadcast(hits_df), ["shard", "local_idx"])
            .select("conv_id", "turn_idx", "doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

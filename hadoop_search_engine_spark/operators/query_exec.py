"""Query execution: BM25 top-k over the compressed index.

Replaces the reference server's serving path — an in-memory JS hash
map probed per term with OR-union first-seen dedup and no scoring
(server/src/services/search.service.js:58-90) — with ONE scorer core
over the sharded block index, whatever the call:

  * front end (:func:`_resolve_batch`): every query of a call is
    tokenized/rewritten driver-side (queries are metadata, not data),
    one lexicon probe (driver-cached map, or a bucket-pruned scan)
    resolves the union of their terms, and each query gets its
    ascending-term ``(hash, term, idf)`` list and algorithm — block-max
    WAND for a conjunctive query with a selective term, the dense
    accumulator otherwise. A single query is a batch of one
    (:func:`_resolve_query`).
  * per-shard scorer (:func:`_score_shard`): every query of the call
    over one shard's posting blocks — dense (batch-decode every block,
    vectorized accumulate; the dense queries of a call share each
    term's decode), WAND (segment-vectorized, theta-pruned) or a
    ``pairs_fn`` (phrase, boolean) — with the ``after`` cursor and the
    tombstone mask applied before top-k selection.
  * driver loop (:func:`_driver_score`): bucket-pruned pyarrow reads
    of the probed postings through the per-Index hot LRU
    (:meth:`Index.postings_rows_by_term`), then the scorer once per
    shard — no Spark job. It serves the ``*_rows`` functions and every
    ``serving="driver"`` (or small-index ``"auto"``) call.
  * executor plan (:func:`_execute`): one pruned postings scan grouped
    by shard into the same scorer (``applyInPandas``), doc lengths from
    a session broadcast — or, past ``DL_BROADCAST_MAX_DOCS`` or under a
    ``doc_filter`` / large tombstone set, each shard's doc_stats page
    cogrouped in as the eligibility page. Each shard emits its local
    top-k; the global merge is a k·num_shards-row sort (a per-query
    window for a batch).

Plus :func:`bm25_topk_dataframe`, the exhaustive pure-DataFrame scorer
over the raw documents table (no index) — the M1 baseline and the
oracle-comparable path — and :func:`or_union_search`, the reference's
exact OR-union first-seen semantics (search.service.js:59-83) as a
compatibility mode.

Score determinism: per-(term, doc) partials are float64 and are summed
in ascending term order in every implementation (WAND, dense,
DataFrame via deterministic formula, NumPy oracle), ties broken by
doc_id ascending — so top-k is *score*-identical, not just
rank-identical (SURVEY.md §7 hard part #2/#3), and a batch's results
are bit-identical to its queries' single calls.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import codec
from ..functions.bm25 import idf_col, score_col
from ..functions.tokenizer import rewrite_terms, tokenize
from .index_build import IndexStats, read_stats, term_frequencies

TOPK_SCHEMA = "doc_id long, score double"

# read-side schemas for index tables that can legitimately be EMPTY
# (a corpus whose every document tokenizes to nothing — found by the
# differential fuzzer): Spark writes only _SUCCESS for a zero-row
# partitioned write, and a later read dies on schema inference.
LEXICON_SCHEMA = (
    "term string, term_hash long, bucket int, df long, n_blocks long, "
    "idf double"
)
DOC_STATS_SCHEMA = "doc_id long, doc_len long, shard int"

import weakref

_EMPTY_DF_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _empty_df(spark: SparkSession, schema: str) -> DataFrame:
    """Empty DataFrame without a Python-worker round trip.

    ``createDataFrame([], schema)`` still plans a Python RDD scan whose
    every evaluation forks a non-reused worker (~5 s per job); an empty
    ``spark.range(0)`` projection stays entirely JVM-side. The plan is
    additionally cached per (session, schema): DataFrames are immutable
    lazy plans, and *constructing* this one costs ~15 ms of py4j
    round trips — which used to dominate empty-result query latency on
    the driver serving path (profiled: 17 ms/query of a 30 ms total).
    """
    per = _EMPTY_DF_CACHE.get(spark)
    if per is None:
        per = {}
        _EMPTY_DF_CACHE[spark] = per
    df = per.get(schema)
    if df is None:
        cols = []
        for field in schema.split(","):
            name, typ = field.strip().split(" ", 1)
            cols.append(F.lit(None).cast(typ.strip()).alias(name))
        df = spark.range(0).select(*cols)
        per[schema] = df
    return df


def _read_parquet_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """See :func:`..operators.index_build.read_parquet_tolerant`."""
    from .index_build import read_parquet_tolerant

    return read_parquet_tolerant(spark, path, schema)



# Above this corpus size the doc-length table stops being broadcast
# (8 bytes/doc -> 160 MB at 20M docs) and queries fall back to the
# per-shard cogroup path, which co-locates each shard's dl page with
# its posting blocks — the 10^12-doc layout.
DL_BROADCAST_MAX_DOCS = 20_000_000

# Above this vocabulary size the lexicon stays a Spark-side filtered
# scan per query; below it the term->metadata map is cached once on
# the driver (the reference's startup-loaded hash map,
# server/src/services/search.service.js:12-16, done right) and a warm
# query costs exactly ONE Spark job.
LEXICON_CACHE_MAX_TERMS = 2_000_000

# Tombstone serving: with at most this many tombstoned docs, the
# sorted tombstone array is a mask applied INSIDE every shard scorer
# (each shard takes its slice with one searchsorted; dense zeroes those
# offsets before top-k selection, WAND drops them at candidate
# insertion so theta tracks the kth live doc), so a query selects
# exactly k on EVERY serving path — driver serving with no Spark job,
# and the executor scorers with the array riding in the closure.
# Beyond it the query falls back to the cogroup scorer with the
# tombstones anti-joined out of the doc-length page (the doc_filter
# mechanism); vacuum_index regularly to stay under the threshold.
# Phrase and boolean queries (a pairs_fn) over-retrieve k +
# |tombstones| per shard instead, filtered inside the same shard
# scorer, up to the same limit.
TOMBSTONE_OVERFETCH_MAX = 10_000

# Driver-serving hot-postings cache budget (MB; env
# SPARK_GRAFT_POSTINGS_CACHE_MB overrides, <= 0 disables). Web query
# logs are Zipfian — a small set of head terms dominates — so a
# serving node that pins recently-probed posting rows answers hot
# queries from memory instead of re-reading parquet per query (the
# analog of Lucene/OS page cache on a search node). The cache lives on
# the Index instance (same lifetime as the cached pyarrow dataset
# listing), keyed by term_hash; entries are the raw stored rows
# (parameter-free (max_tf, min_dl) block bounds), so tuned k1/b
# queries and the tombstone mask reuse them unchanged.
POSTINGS_CACHE_MB_DEFAULT = 256.0

# Second-level driver cache: DECODED (offsets, tf) arrays per
# (term_hash, shard) — kills the per-query varint decode for hot terms
# (profiled: ~25% of hot 600k-doc query time). Parameter-independent
# (the BM25 partial is recomputed per query from the cached tf, so
# tuned (k1, b) and federated avgdl overrides stay bit-identical).
# Env SPARK_GRAFT_DECODE_CACHE_MB overrides; <= 0 disables.
DECODE_CACHE_MB_DEFAULT = 256.0


def _decode_cache_bytes() -> int:
    mb = float(os.environ.get("SPARK_GRAFT_DECODE_CACHE_MB",
                              str(DECODE_CACHE_MB_DEFAULT)))
    return int(mb * (1 << 20))


def _postings_cache_bytes() -> int:
    mb = float(os.environ.get("SPARK_GRAFT_POSTINGS_CACHE_MB",
                              str(POSTINGS_CACHE_MB_DEFAULT)))
    return int(mb * (1 << 20))


class _ByteLRU:
    """Byte-bounded LRU of numpy-array tuples (driver-side caches)."""

    __slots__ = ("cap", "_d", "nbytes")

    def __init__(self, cap: int):
        from collections import OrderedDict

        self.cap = cap
        self._d: "OrderedDict" = OrderedDict()
        self.nbytes = 0

    def __len__(self) -> int:
        return len(self._d)

    def get(self, key):
        hit = self._d.get(key)
        if hit is None:
            return None
        self._d.move_to_end(key)
        return hit[0]

    def put(self, key, value) -> None:
        if key in self._d:
            return
        n = sum(int(a.nbytes) for a in value) if value else 0
        self._d[key] = (value, n)
        self.nbytes += n
        while self.nbytes > self.cap and self._d:
            _, (_, n0) = self._d.popitem(last=False)
            self.nbytes -= n0


# Postings-LRU charge per cell (an int64 / float64 value or an object
# pointer in the cached frame) and per entry (tuple, dict slot and
# frame header, so even a cached empty miss costs something); the
# blobs themselves are charged by their stored length, ``n_bytes``.
_PCACHE_CELL_BYTES = 8
_PCACHE_ENTRY_BYTES = 128


def _runs(keys: np.ndarray) -> list[tuple[int, int]]:
    """``[lo, hi)`` bounds of the runs of equal values in ``keys``."""
    cuts = [0, *(np.flatnonzero(keys[1:] != keys[:-1]) + 1).tolist(),
            keys.size]
    return [(lo, hi) for lo, hi in zip(cuts[:-1], cuts[1:]) if hi > lo]


def _block_arrays(frame: pd.DataFrame) -> tuple:
    """A posting-row frame's block columns as NumPy arrays — ``(doc_id
    blobs, tf blobs, n_docs, first_doc_id)``, the arguments of
    :func:`codec.decode_blocks`."""
    return (frame["doc_ids"].to_numpy(), frame["tfs"].to_numpy(),
            frame["n_docs"].to_numpy(np.int64),
            frame["first_doc_id"].to_numpy(np.int64))


def _postings_entries(pdf: pd.DataFrame, hashes: list[int]) -> dict[int, tuple]:
    """A pruned postings read -> ``term_hash -> (frame, nbytes,
    blocks)`` for every hash in ``hashes``: the term's rows as a
    DataFrame sorted by shard, its cache charge (the rows' stored blob
    length ``n_bytes`` plus a fixed size per cell and per entry — a
    deep ``memory_usage`` would walk every blob object in Python), and
    its block columns (:func:`_block_arrays`) split by shard: ``shard
    -> (doc_id blobs, tf blobs, n_docs, first_doc_id)``. The columns
    are pulled out of the read once; each term's are a NumPy take, so
    no frame is indexed per (term, shard)."""
    th = pdf["term_hash"].to_numpy(np.int64)
    sh = pdf["shard"].to_numpy(np.int64)
    order = np.lexsort((sh, th))  # by term, then shard; stable
    th, sh = th[order], sh[order]
    cols = _block_arrays(pdf)
    blob = pdf["n_bytes"].to_numpy(np.int64)
    cell = _PCACHE_CELL_BYTES * pdf.shape[1]
    empty = pdf.iloc[0:0]
    out = {h: (empty, _PCACHE_ENTRY_BYTES, {}) for h in hashes}
    for lo, hi in _runs(th):
        rows = order[lo:hi]
        frame = pdf.take(rows)
        frame.index = pd.RangeIndex(hi - lo)
        term_cols = [c[rows] for c in cols]
        term_sh = sh[lo:hi]
        blocks = {int(term_sh[a]): tuple(c[a:b] for c in term_cols)
                  for a, b in _runs(term_sh)}
        nbytes = (_PCACHE_ENTRY_BYTES + cell * (hi - lo)
                  + int(blob[rows].sum()))
        out[int(th[lo])] = (frame, nbytes, blocks)
    return out


def _concat_rows(frames) -> pd.DataFrame:
    """Per-term posting-row frames as one frame (empty ones dropped)."""
    frames = list(frames)
    nonempty = [f for f in frames if len(f)]
    if not nonempty:
        return frames[0] if frames else pd.DataFrame()
    if len(nonempty) == 1:
        return nonempty[0]
    return pd.concat(nonempty, ignore_index=True)


@dataclass
class Index:
    spark: SparkSession
    out_dir: str
    stats: IndexStats
    _dl_bc: object = None
    _lex_map: dict | None = None
    _pads: object = None
    _tomb: object = None
    _tomb_n: int | None = None
    _pcache: object = None
    _pcache_nbytes: int = 0
    _tfc: object = None

    _token_fn: object = None
    _token_fn_set: bool = False

    def token_fn(self):
        """The index's recorded analyzer as a per-token function
        (stopword filter + stemmer, functions.analyzer.make_token_fn),
        or None for unanalyzed indexes — query parsing MUST route
        through this so index and query can never disagree on surface
        forms (the classic analyzer-mismatch bug class)."""
        if not self._token_fn_set:
            from ..functions.analyzer import make_token_fn

            self._token_fn = make_token_fn(
                tuple(getattr(self.stats, "stopwords", ()) or ()),
                getattr(self.stats, "stem", "none") or "none",
                fold=bool(getattr(self.stats, "fold", False)),
                cjk=bool(getattr(self.stats, "cjk", False)),
            )
            self._token_fn_set = True
        return self._token_fn

    def _tf_cache(self):
        """Byte-bounded LRU of decoded (offsets, tf) per (term_hash,
        shard) for driver serving, or None when disabled. Lifetime =
        this Index instance, like the raw-rows LRU."""
        cap = _decode_cache_bytes()
        if cap <= 0:
            return None
        if self._tfc is None:
            self._tfc = _ByteLRU(cap)
        return self._tfc

    @classmethod
    def load(cls, spark: SparkSession, out_dir: str) -> "Index":
        return cls(spark=spark, out_dir=out_dir, stats=read_stats(out_dir))

    _dl_arr: object = None

    def dl_array(self):
        """Dense doc_len array (doc_id-indexed) pinned on the driver,
        or None when the corpus is too large. Loaded once per Index —
        the analog of a search node pinning its doc-norms page."""
        if self.stats.n_docs > DL_BROADCAST_MAX_DOCS:
            return None
        if self._dl_arr is None:
            span = self.stats.shard_span * self.stats.num_shards
            arr = np.zeros(span, dtype=np.float64)
            pdf = self.doc_stats.select("doc_id", "doc_len").toPandas()
            arr[pdf["doc_id"].to_numpy(np.int64)] = pdf["doc_len"].to_numpy(np.float64)
            self._dl_arr = arr
        return self._dl_arr

    def dl_broadcast(self):
        """Spark broadcast of :meth:`dl_array` (executor-side scoring),
        or None when the corpus is too large to broadcast."""
        arr = self.dl_array()
        if arr is None:
            return None
        if self._dl_bc is None:
            self._dl_bc = self.spark.sparkContext.broadcast(arr)
        return self._dl_bc

    _total_tokens: object = None

    def total_tokens(self) -> int:
        """Exact corpus token count (sum of doc lengths), loaded once
        per Index — the LM-Dirichlet collection-model denominator.
        Integer-exact and engine-independent (the DuckDB oracle
        recomputes the identical sum), unlike ``n_docs * avgdl`` which
        would round-trip through a float. Global like every other
        ranking statistic: tombstones don't shift it until vacuum."""
        if self._total_tokens is None:
            row = self.doc_stats.agg(
                F.sum("doc_len").alias("t")).collect()[0]
            self._total_tokens = int(row["t"] or 0)
        return self._total_tokens

    def lexicon_map(self) -> dict | None:
        """Driver-cached term -> {df, idf, bucket, hash} for small
        vocabularies (loaded once per Index), else None. A Zipfian web
        vocabulary fits for a long time (2M terms ≈ a few hundred MB);
        beyond that, per-query lexicon probes stay a pushed-down Spark
        filter."""
        if self._lex_map is None:
            lex = self.lexicon
            has_ctf = "ctf" in lex.columns
            cols = ["term", "term_hash", "df", "idf", "bucket"] + (
                ["ctf"] if has_ctf else []
            )
            pdf = lex.limit(LEXICON_CACHE_MAX_TERMS + 1).select(*cols).toPandas()
            if len(pdf) > LEXICON_CACHE_MAX_TERMS:
                self._lex_map = {}  # sentinel: too big, use Spark probes
            else:
                ctfs = pdf["ctf"] if has_ctf else None
                self._lex_map = {
                    t: {
                        "df": int(d), "idf": float(i), "bucket": int(b),
                        "hash": int(h),
                        "ctf": int(ctfs.iat[j]) if has_ctf else None,
                    }
                    for j, (t, h, d, i, b) in enumerate(zip(
                        pdf["term"], pdf["term_hash"], pdf["df"],
                        pdf["idf"], pdf["bucket"],
                    ))
                }
        return self._lex_map if self._lex_map else None

    _lex_by_len: dict | None = None

    def lexicon_by_length(self) -> dict | None:
        """Length-bucketed view of :meth:`lexicon_map` for the fuzzy
        driver path: ``len(term) -> (terms, dfs, charmasks)`` with the
        dfs/charmasks as NumPy arrays, or None when the vocabulary is
        too large to cache. A Levenshtein match within e edits needs
        ``|len(a) - len(b)| <= e``, so a fuzzy probe scans only 2e+1
        buckets instead of the whole vocabulary; the charmask (chars
        folded to 64 bits) pre-filters a whole bucket in one vectorized
        popcount — one edit flips at most 2 mask bits, so
        ``popcount(mask ^ query_mask) > 2e`` rules a candidate out
        before any DP runs. Built once per Index from the
        already-pinned map."""
        lm = self.lexicon_map()
        if lm is None:
            return None
        if self._lex_by_len is None:
            grouped: dict[int, list] = {}
            for t, v in lm.items():
                mask = 0
                for ch in t:
                    mask |= 1 << (ord(ch) & 63)
                grouped.setdefault(len(t), []).append((t, int(v["df"]), mask))
            self._lex_by_len = {
                length: (
                    [t for t, _, _ in rows],
                    np.array([d for _, d, _ in rows], dtype=np.int64),
                    np.array([m for _, _, m in rows], dtype=np.uint64),
                )
                for length, rows in grouped.items()
            }
        return self._lex_by_len

    def _postings_dataset(self):
        if self._pads is None:
            import pyarrow.dataset as pads

            self._pads = pads.dataset(
                os.path.join(self.out_dir, "postings"),
                format="parquet",
                partitioning="hive",
            )
        return self._pads

    def postings_rows_by_term(self, hit_hashes) -> dict[int, pd.DataFrame]:
        """Posting rows for the probed term hashes, driver-side (no
        Spark job), one frame PER TERM, rows sorted by shard: bucket =
        pmod(hash, B) prunes at the hive file listing, term_hash is a
        row-group min/max filter. Rows are cached per term in a
        byte-bounded LRU (see ``POSTINGS_CACHE_MB_DEFAULT``) so repeated
        probes of hot terms skip parquet entirely; an uncached query
        costs ONE dataset read for all of its missing terms. The
        per-term shape lets the dense scorer iterate terms without
        re-concatenating frames (``pd.concat`` of blob-object columns
        profiled at ~20% of hot query time). Each cache entry is
        ``(frame, nbytes, blocks)``: ``nbytes`` is charged from the blob
        lengths (see :func:`_postings_entries`), ``blocks`` is the
        frame's block columns split by shard (:meth:`_shard_blocks`).
        Cache lifetime is this Index instance — the same snapshot
        semantics as the cached dataset listing itself (vacuum/merge
        return a reloaded Index)."""
        wanted = list(dict.fromkeys(int(h) for h in hit_hashes))
        cap = _postings_cache_bytes()
        if cap <= 0:
            return {h: e[0] for h, e in self._read_postings(wanted).items()}
        if self._pcache is None:
            from collections import OrderedDict

            self._pcache = OrderedDict()
        cache = self._pcache
        out: dict[int, pd.DataFrame] = {}
        missing: list[int] = []
        for h in wanted:
            hit = cache.get(h)
            if hit is not None:
                cache.move_to_end(h)
                out[h] = hit[0]
            else:
                missing.append(h)
        if missing:
            # absent terms cache their empty entry too: a repeated miss
            # (OOV term, stopword-stripped query) must not re-read
            # parquet every time
            for h, entry in self._read_postings(missing).items():
                cache[h] = entry
                self._pcache_nbytes += entry[1]
                out[h] = entry[0]
            # evict least-recent past the byte budget; frames already
            # collected for THIS query stay alive via the local dict
            while self._pcache_nbytes > cap and cache:
                _, entry = cache.popitem(last=False)
                self._pcache_nbytes -= entry[1]
        return out

    def _read_postings(self, hashes: list[int]) -> dict[int, tuple]:
        """ONE pruned pyarrow read of ``hashes`` -> per-term cache
        entries (:func:`_postings_entries`), absent terms included."""
        import pyarrow.dataset as pads

        nb = self.stats.n_buckets
        filt = pads.field("bucket").isin(
            sorted({h % nb for h in hashes})
        ) & pads.field("term_hash").isin(hashes)
        return _postings_entries(
            self._postings_dataset().to_table(filter=filt).to_pandas(), hashes
        )

    def _shard_blocks(self, term_hash: int, frame: pd.DataFrame) -> dict:
        """``frame``'s block columns split by shard (see
        :func:`_postings_entries`), from its postings-cache entry when
        that entry still holds this frame, else split afresh (cache
        disabled, or entry evicted)."""
        hit = self._pcache.get(term_hash) if self._pcache else None
        if hit is not None and hit[0] is frame:
            return hit[2]
        return _postings_entries(frame, [term_hash])[term_hash][2]

    def postings_rows(self, hit_hashes) -> pd.DataFrame:
        """:meth:`postings_rows_by_term` concatenated back into one
        frame — for the WAND / phrase / boolean paths that group by
        shard across terms."""
        return _concat_rows(self.postings_rows_by_term(hit_hashes).values())

    def warm(self, top_terms: int = 0) -> dict:
        """Serving-node startup warm-up — the analog of the reference
        server loading its whole index into memory before accepting
        queries (server/src/utils/index.js), done proportionately: pin
        the doc-norms array, the lexicon map (+ its length-bucketed
        fuzzy view), the postings dataset listing, and optionally the
        ``top_terms`` highest-df terms' posting rows into the hot LRU
        (Zipfian traffic means those terms dominate; the byte budget
        still bounds memory). After ``warm``, first-query latency is
        the hot-path latency. Returns a summary of what got pinned."""
        out: dict = {"docs_pinned": 0, "lexicon_terms": 0,
                     "terms_cached": 0, "postings_cache_bytes": 0}
        arr = self.dl_array()
        if arr is not None:
            out["docs_pinned"] = int(self.stats.n_docs)
        lm = self.lexicon_map()
        if lm is not None:
            out["lexicon_terms"] = len(lm)
            self.lexicon_by_length()
        self._postings_dataset()
        if top_terms and lm:
            hot = sorted(lm.items(), key=lambda kv: (-kv[1]["df"], kv[0]))
            hashes = [int(v["hash"]) for _, v in hot[:top_terms]]
            if hashes:
                self.postings_rows(hashes)
                out["terms_cached"] = (
                    len(self._pcache) if self._pcache is not None else 0
                )
                out["postings_cache_bytes"] = int(self._pcache_nbytes)
        return out

    def tombstone_count(self) -> int:
        """Number of tombstoned (deleted-but-not-vacuumed) doc_ids —
        a driver-side pyarrow row count (parquet footers, no Spark
        job) on first use, then cached next to :meth:`tombstone_array`
        for this Index's lifetime; 0 when the index has no tombstone
        table. :func:`~.index_maint.delete_docs` refreshes both."""
        if self._tomb_n is None:
            d = os.path.join(self.out_dir, "tombstones")
            if not os.path.isdir(d):
                self._tomb_n = 0
            else:
                import pyarrow.dataset as pads

                self._tomb_n = int(
                    pads.dataset(d, format="parquet").count_rows()
                )
        return self._tomb_n

    def tombstone_array(self):
        """Sorted unique tombstoned doc_ids (int64), or None when the
        index has none. pyarrow driver-side load, cached per Index;
        :func:`~.index_maint.delete_docs` invalidates the cache."""
        if self._tomb is None:
            if not self.tombstone_count():
                self._tomb = np.zeros(0, dtype=np.int64)
            else:
                import pyarrow.dataset as pads

                d = os.path.join(self.out_dir, "tombstones")
                t = pads.dataset(d, format="parquet").to_table(
                    columns=["doc_id"]
                )
                self._tomb = np.unique(
                    t.column("doc_id").to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
        return self._tomb if self._tomb.size else None

    @property
    def tombstones(self) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self.out_dir, "tombstones")
        )

    @property
    def postings(self) -> DataFrame:
        from .index_build import POSTINGS_SCHEMA

        return _read_parquet_or_empty(
            self.spark, os.path.join(self.out_dir, "postings"), POSTINGS_SCHEMA
        )

    @property
    def lexicon(self) -> DataFrame:
        return _read_parquet_or_empty(
            self.spark, os.path.join(self.out_dir, "lexicon"), LEXICON_SCHEMA
        )

    @property
    def doc_stats(self) -> DataFrame:
        return _read_parquet_or_empty(
            self.spark, os.path.join(self.out_dir, "doc_stats"), DOC_STATS_SCHEMA
        )

    @property
    def checkpoints(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.out_dir, "checkpoints"))

    def report(self) -> dict:
        """Index size/lineage summary from the committed per-bucket
        counters (one tiny agg — the binary postings are never read):
        docs, terms, postings, blocks, compressed bytes, bytes/posting,
        and the stats header."""
        row = (
            self.checkpoints.where(F.col("bucket") >= 0)
            .agg(
                F.sum("terms").alias("terms"),
                F.sum("blocks").alias("blocks"),
                F.sum("postings").alias("postings"),
                F.sum("tokens").alias("tokens"),
                F.sum("bytes").alias("bytes"),
            )
            .collect()[0]
        )
        postings = int(row["postings"] or 0)
        out = {
            "n_docs": self.stats.n_docs,
            "avgdl": self.stats.avgdl,
            "num_shards": self.stats.num_shards,
            "n_buckets": self.stats.n_buckets,
            "positional": bool(getattr(self.stats, "positions", False)),
            "terms": int(row["terms"] or 0),
            "blocks": int(row["blocks"] or 0),
            "postings": postings,
            "tokens": int(row["tokens"] or 0),
            "compressed_bytes": int(row["bytes"] or 0),
            "bytes_per_posting": (
                round(int(row["bytes"] or 0) / postings, 3) if postings else 0.0
            ),
        }
        return out


def _tombstone_gate(index: Index, driver_alt: str | None = None):
    """Tombstone set for the in-scorer mask: ``(tomb, too_many)`` —
    the sorted doc_id array every scorer masks with (None when the
    index has no tombstones), and whether the set is past
    ``TOMBSTONE_OVERFETCH_MAX``, where it folds into the cogroup
    eligibility page instead. Driver-only callers name their
    distributed alternative in ``driver_alt``; a set past the limit
    then raises, since driver serving has no eligibility page."""
    n = index.tombstone_count()
    if not n:
        return None, False
    if n > TOMBSTONE_OVERFETCH_MAX:
        if driver_alt is not None:
            raise ValueError(
                f"a tombstone set past {TOMBSTONE_OVERFETCH_MAX} needs the "
                f"distributed cogroup scorer; use {driver_alt} or "
                "vacuum_index to shrink the tombstones"
            )
        return None, True
    return index.tombstone_array(), False


def _overfetch_k(index: Index, k: int, what: str) -> int:
    """Per-shard k of a ``pairs_fn`` scorer (phrase, boolean): it
    over-retrieves ``k + |tombstones|`` and :func:`_score_shard`
    filters the tombstoned pairs out. It has no eligibility-page
    variant, so a tombstone set past ``TOMBSTONE_OVERFETCH_MAX``
    refuses."""
    tomb, too_many = _tombstone_gate(index)
    if too_many:
        raise ValueError(
            f"{index.tombstone_count()} tombstones exceed the {what} "
            f"over-retrieve limit ({TOMBSTONE_OVERFETCH_MAX}); run "
            "vacuum_index first"
        )
    return k + (0 if tomb is None else int(tomb.size))


def parse_query(
    query_text: str,
    synonyms: dict[str, str] | None = None,
    token_fn=None,
) -> list[str]:
    """Query string -> deduped canonical terms (reference pipeline:
    tokenize -> synonym rewrite -> first-seen dedup, searchProcessor.ts:4-17).

    ``token_fn`` is the index's analyzer (functions.analyzer.
    make_token_fn — stopword filter + stemmer), applied after the
    synonym rewrite and before dedup so query terms hit the SAME
    surface forms the build indexed; None (unanalyzed index) keeps the
    historical pipeline byte-identical.

    ``query_text`` may instead be a list/tuple of PRE-ANALYZED terms
    (already in lexicon surface form, e.g. lexicon expansions from
    suggest_terms): those skip tokenize/synonyms/token_fn entirely —
    re-applying a stemmer to an already-stemmed term is not a no-op
    (porter('degrees')='degre' but porter('degre')='degr'), so a
    re-analyzed expansion can fall outside the lexicon and silently
    match nothing. Only first-seen dedup applies."""
    if isinstance(query_text, (list, tuple)):
        return list(dict.fromkeys(query_text))
    terms = rewrite_terms(tokenize(query_text), synonyms or {})
    if token_fn is None:
        return terms
    from ..functions.analyzer import apply_token_fn

    out, seen = [], set()
    for a in apply_token_fn(terms, token_fn):
        if a not in seen:
            seen.add(a)
            out.append(a)
    return out


_BOOST_RE = re.compile(r"^(?P<body>.+)\^(?P<boost>\d+(?:\.\d+)?)$")


def parse_query_boosted(
    query_text: str,
    synonyms: dict[str, str] | None = None,
    token_fn=None,
) -> tuple[list[str], dict[str, float]]:
    """Query string with optional per-term boosts -> (terms, boosts).

    Lucene query-string subset: a whitespace chunk ending in
    ``^<number>`` boosts every token that chunk yields, e.g.
    ``"spark^2 query table^0.5"``. Each chunk's body goes through the
    SAME tokenize -> synonym rewrite pipeline as :func:`parse_query`
    (so a boost on a synonym surface form lands on its canonical
    term), and first-seen dedup keeps the first occurrence's boost. A
    chunk without a valid numeric suffix is plain text; a zero boost
    is rejected (it would silently drop the term from scoring while
    still gating ``mode="and"``). ``boosts`` holds only non-1.0
    entries — a boost-free query returns ``({}, parse_query(...))``
    semantics bit-identically.
    """
    syn = synonyms or {}
    if isinstance(query_text, (list, tuple)):
        # pre-analyzed term list (see parse_query) — no boost syntax
        return parse_query(query_text, syn, token_fn), {}
    if "^" not in (query_text or ""):
        return parse_query(query_text, syn, token_fn), {}
    out: list[str] = []
    seen: set[str] = set()
    boosts: dict[str, float] = {}
    for chunk in (query_text or "").split():
        m = _BOOST_RE.match(chunk)
        body, boost = (m["body"], float(m["boost"])) if m else (chunk, 1.0)
        if m and boost <= 0.0:
            raise ValueError(f"boost must be > 0, got {chunk!r}")
        for t in tokenize(body):
            mapped = syn.get(t, t)
            if token_fn is not None:
                mapped = token_fn(mapped)
                if mapped is None:  # stopword chunk — boost and all
                    continue
            for m in ([mapped] if isinstance(mapped, str) else mapped):
                if m in seen:
                    continue
                seen.add(m)
                out.append(m)
                if boost != 1.0:
                    boosts[m] = boost
    return out, boosts


def _lookup_terms(index: Index, terms: list[str]) -> dict[str, dict]:
    """Lexicon probe for the query terms — bucket partition pruning via
    the pushed-down ``term IN (...)`` filter; result is query metadata
    (<= a handful of rows), the one place collect() is legitimate.
    Returns term → {df, idf, bucket, hash}; the hash is the postings
    key (postings never store term strings)."""
    if not terms:
        return {}
    cached = index.lexicon_map()
    if cached is not None:
        return {t: cached[t] for t in terms if t in cached}
    lex = index.lexicon
    has_ctf = "ctf" in lex.columns
    rows = lex.where(F.col("term").isin(terms)).collect()
    return {
        r["term"]: {
            "df": r["df"], "idf": r["idf"], "bucket": r["bucket"],
            "hash": r["term_hash"],
            "ctf": int(r["ctf"]) if has_ctf else None,
        }
        for r in rows
    }


def term_stats(
    index: Index,
    terms_text: str,
    synonyms: dict[str, str] | None = None,
) -> DataFrame:
    """Term-level statistics straight from the index (the ES
    `_termvectors` field-statistics / Lucene TermStates surface):
    ``(term, df, idf)`` for each distinct query term present in the
    lexicon, after the same tokenize + synonym rewrite every query
    runs. Absent terms yield no row. A lexicon probe only (bucket
    pruning / driver cache) — postings untouched."""
    terms = sorted(set(parse_query(terms_text, synonyms, index.token_fn())))
    meta = _lookup_terms(index, terms)
    rows = [
        (t, int(m["df"]), round(float(m["idf"]), 6))
        for t, m in sorted(meta.items())
    ]
    if not rows:
        return _empty_df(index.spark, "term string, df long, idf double")
    return index.spark.createDataFrame(rows, "term string, df long, idf double")


def search_topk(
    index: Index,
    query_text: str,
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    algorithm: str = "auto",
    mode: str = "or",
    serving: str = "auto",
    doc_filter: DataFrame | None = None,
    k1: float | None = None,
    b: float | None = None,
    after: tuple[int, float] | None = None,
    min_should_match: int | None = None,
    similarity=None,
) -> DataFrame:
    """Top-k (doc_id, score) for a free-text query, BM25-ranked.

    ``similarity`` (Lucene/ES similarity-module surface) swaps the
    ranking model for THIS query over the unchanged index: ``None`` /
    ``"bm25"`` (default, the native path), ``"lm_dirichlet"`` /
    ``ranking.LMDirichlet(mu=...)``, ``"tfidf"`` (ClassicSimilarity,
    exact arithmetic), ``"boolean"`` — see ``operators/ranking.py``.
    Every contribution is monotone (tf up, dl down), so WAND's block
    bounds stay exact and all serving paths / algorithms / modes /
    filters compose unchanged. ``k1``/``b`` overrides are
    BM25-specific and rejected with any other similarity.

    Per-term boosts (Lucene query-string subset): ``"spark^2 query
    table^0.5"`` multiplies each boosted term's BM25 contribution —
    folded into the term's idf by the shared front end
    (:func:`parse_query_boosted`), so every serving path and algorithm
    (including WAND's block upper bounds) stays exact. Also honored by
    :func:`search_topk_rows`.

    ``min_should_match`` (Elasticsearch semantics, ``mode="or"``
    only): docs must contain at least this many DISTINCT query terms
    to be eligible; eligible docs score the standard disjunctive BM25
    sum over ALL their matched terms. Composed from existing exact
    machinery: :func:`matched_docs` counts distinct present terms per
    doc from the pruned postings decode (cost ∝ query df, never a
    corpus scan), and the resulting doc set rides the ``doc_filter``
    eligibility page — global statistics, mask applied before top-k
    selection. ``1`` is a no-op; a value above the number of
    lexicon-present query terms short-circuits to empty (an absent
    term can never match, exactly ES's unmatchable-clause behavior).

    ``after``: cursor pagination — the ``(doc_id, score)`` pair of the
    LAST hit of the previous page, exactly as the engine returned it
    (exact float64 score). Returns the next k in the total order (score desc,
    doc_id asc), Elasticsearch ``search_after`` semantics: the mask is
    applied inside every shard scorer BEFORE top-k selection, so page
    n+1 is exact with no deep-paging over-fetch, on every serving
    path and algorithm (WAND's theta then tracks the kth eligible
    doc, keeping the segment-bound pruning exact for the page).

    ``k1`` / ``b`` override the index's build-time BM25 parameters for
    THIS query — relevance tuning with no rebuild. This is free by
    design: blocks store the raw ``(max_tf, min_dl)`` pair rather than
    a precomputed score bound (see ``_TermBlocks``), so WAND's block
    upper bounds — and every scorer's partials — recompute for any
    ``(k1, b)`` at query time. idf depends only on (N, df) and is
    untouched.

    ``algorithm``: ``"wand"`` = segment-vectorized block-max WAND
    (theta-pruned); ``"dense"`` = batch-decode every query-term block
    and accumulate (one vectorized pass, no pruning); ``"auto"``
    (default) picks by measured crossover — dense for disjunctive
    queries (pruning cannot beat the batched decode-all there: 206 ms
    vs 1.5 s on a 1.2M-doc head query), WAND for conjunctive queries
    with a selective term (cover pruning visits only segments every
    term's blocks overlap). All scorers are rank- AND score-identical
    by test.

    ``mode="or"`` is the reference's disjunctive semantics (any term
    matches); ``mode="and"`` is conjunctive — only docs containing
    EVERY query term score (the capability SURVEY §2.6 notes the
    reference lacks). Conjunctive is correct per shard because a doc's
    postings for all its terms live in the doc's own shard; a query
    term absent from the whole index short-circuits to empty.

    ``serving``: ``"spark"`` always runs the distributed scorer job;
    ``"driver"`` serves from the driver — bucket-pruned pyarrow reads
    of the probed postings plus the same NumPy scorer, no Spark job
    (the proper analog of the reference's startup-loaded in-memory
    serving map, search.service.js:12-16, which answered queries
    without touching the cluster). ``"auto"`` (default) picks driver
    serving when the index is small enough for the driver-pinned
    doc-norms array and lexicon (the same thresholds as the broadcast
    fast path); results are score-identical across serving modes by
    construction — the scorer code is shared.

    ``doc_filter``: optional DataFrame with a ``doc_id`` column — the
    eligible-document set (e.g. ``documents.where("lang = 'en'")``).
    Standard filtered-search semantics: BM25 statistics (idf, avgdl,
    n_docs) stay GLOBAL — the filter is an eligibility mask applied
    inside the scorer BEFORE top-k selection (masking after the top-k
    would under-fill k), so scores of surviving docs are identical to
    the unfiltered query's. Runs the cogroup scorer with the filter
    semi-joined into the per-shard doc-length page: "absent from the
    page" ⇒ ineligible, so the mask rides the join that already
    exists and no extra corpus-sized structure is shuffled.

    Tombstones (docs deleted via :func:`~.index_maint.delete_docs`)
    are excluded automatically with the same global-stats semantics:
    a set within ``TOMBSTONE_OVERFETCH_MAX`` is an eligibility mask
    applied inside every shard scorer before top-k selection (like
    ``after``), on every serving path and algorithm and combined with
    ``doc_filter`` — each shard selects exactly k; a larger set folds
    into the cogroup eligibility page. ``vacuum_index`` purges them
    physically and refreshes the statistics.
    """
    if serving not in ("auto", "driver", "spark"):
        raise ValueError(f"serving must be auto|driver|spark, got {serving!r}")
    after = _check_after(after)
    if min_should_match is not None:
        if mode != "or":
            raise ValueError(
                "min_should_match applies to mode='or' only "
                "(mode='and' already requires every term)"
            )
        if min_should_match < 1:
            raise ValueError(
                f"min_should_match must be >= 1, got {min_should_match}"
            )
        if min_should_match > 1:
            eligible = matched_docs(
                index, query_text, synonyms, min_match=min_should_match
            )
            doc_filter = (
                eligible
                if doc_filter is None
                else doc_filter.select("doc_id").join(
                    eligible, "doc_id", "left_semi"
                )
            )
    stats, q = _resolve_query(index, query_text, synonyms, mode, algorithm,
                              k1, b)
    if q is None:
        return _empty_df(index.spark, TOPK_SCHEMA)
    term_fns = _similarity_term_fns(index, similarity, query_text, synonyms,
                                    k1=k1, b=b)
    q = q._replace(after=after, term_fns=term_fns)
    return _execute(index, stats, [q], k, mode, serving, doc_filter)


def _similarity_term_fns(
    index: Index,
    similarity,
    query_text: str,
    synonyms: dict[str, str] | None,
    k1=None,
    b=None,
    boost: float = 1.0,
) -> dict | None:
    """Resolve a ``similarity`` spec into the per-term contribution
    table the scorers consume, or None for the native BM25 path. The
    query re-parses through the same front end (cheap: the lexicon
    probe is driver-cached), keeping :func:`_resolve_query`'s contract
    unchanged for its other callers. ``boost`` scales every term's
    contribution (scored_docs' field weight)."""
    from .ranking import build_term_fns, resolve_similarity

    sim = resolve_similarity(similarity)
    if sim is None:
        return None
    if k1 is not None or b is not None:
        raise ValueError(
            "k1/b are BM25 parameters; they cannot combine with "
            f"similarity={getattr(sim, 'name', sim)!r}"
        )
    terms, boosts = parse_query_boosted(query_text, synonyms,
                                        index.token_fn())
    if boost != 1.0:
        boosts = {t: boosts.get(t, 1.0) * boost for t in terms}
    meta = _lookup_terms(index, terms)
    total = (
        index.total_tokens()
        if getattr(sim, "name", "") == "lm_dirichlet" else 0
    )
    return build_term_fns(sim, meta, boosts, index.stats.n_docs, total)


def scored_docs(
    index: Index,
    query_text: str,
    synonyms: dict[str, str] | None = None,
    mode: str = "or",
    similarity=None,
    doc_filter: DataFrame | None = None,
    boost: float = 1.0,
    k1: float | None = None,
    b: float | None = None,
) -> DataFrame:
    """EVERY matched doc with its exact relevance score — the scored
    match set (doc_id, score), no top-k cut. The composition primitive
    under every rank-free consumer: weighted multi-field fusion
    (:func:`search_topk_fields`, :func:`~.multifield.multi_match`),
    static-prior fusion (:func:`boosted_topk`,
    :func:`~.hybrid.function_score`), score-threshold filters,
    analytics — anything that re-weights or combines scores needs the
    full match set, because a doc outside one ranking's top k can lead
    the combined ranking.

    Cost ∝ the query terms' total df (the same pruned postings decode
    every search runs — never a corpus scan); the dense scorer already
    materializes each shard's full score accumulator, so this just
    skips the per-shard selection (k = corpus bound) and the global
    top-k merge. Distributed output, unordered; tombstones,
    ``doc_filter``, per-query ``similarity``, and ``k1``/``b``
    overrides compose as in :func:`search_topk`. ``boost`` scales
    every score (a field weight, folded driver-side)."""
    stats, q = _scored_docs_query(index, query_text, synonyms, mode,
                                  similarity, boost, k1, b)
    if q is None:
        return _empty_df(index.spark, TOPK_SCHEMA)
    k_all = stats.num_shards * stats.shard_span
    return _execute(index, stats, [q], k_all, mode, "spark", doc_filter,
                    merge=False)


def scored_docs_pairs(
    index: Index,
    query_text: str,
    synonyms: dict[str, str] | None = None,
    mode: str = "or",
    similarity=None,
    boost: float = 1.0,
) -> list[tuple[int, float]]:
    """:func:`scored_docs` served from the driver (no Spark job):
    plain ``[(doc_id, score)]`` for every matched doc, (score desc,
    doc_id asc)-ordered. Same driver-serving constraints as
    :func:`search_topk_rows`."""
    stats, q = _scored_docs_query(index, query_text, synonyms, mode,
                                  similarity, boost)
    if q is None:
        return []
    k_all = stats.num_shards * stats.shard_span
    return _driver_score(index, stats, [q], k_all, mode, "scored_docs")[None]


def _scored_docs_query(index, query_text, synonyms, mode, similarity, boost,
                       k1=None, b=None):
    """The one dense query of :func:`scored_docs` /
    :func:`scored_docs_pairs`, ``boost`` folded into its weights:
    ``(stats, query)``, query None when nothing can match."""
    stats, q = _resolve_query(index, query_text, synonyms, mode, "dense",
                              k1, b)
    if q is None:
        return stats, None
    if boost != 1.0:
        q = q._replace(terms=[(h, t, w * boost) for h, t, w in q.terms])
    term_fns = _similarity_term_fns(index, similarity, query_text, synonyms,
                                    k1=k1, b=b, boost=boost)
    return stats, q._replace(term_fns=term_fns)


def _check_after(after) -> tuple[int, float] | None:
    if after is None:
        return None
    if (not isinstance(after, (tuple, list)) or len(after) != 2):
        raise ValueError(
            f"after must be a (doc_id, score) cursor — the last result "
            f"pair of the previous page — got {after!r}"
        )
    return (int(after[0]), float(after[1]))


class _Query(NamedTuple):
    """One query of a scorer call. ``terms`` are its ``(term_hash,
    term, weight)`` triples in ascending term order (weight = idf, any
    boost folded in). ``algorithm`` is ``"dense"``, ``"wand"``, or a
    ``pairs_fn(left, dl, base) -> [(doc_id, score)]`` over one shard's
    posting rows (phrase, boolean; their ``terms`` then list every
    term whose postings the function reads). ``after`` is the query's
    cursor, ``term_fns`` its similarity table
    (:func:`_similarity_term_fns`)."""

    qid: object
    terms: list
    algorithm: object = "dense"
    after: tuple | None = None
    term_fns: dict | None = None


def _resolve_batch(
    index: Index,
    queries: dict,
    synonyms: dict[str, str] | None,
    mode: str,
    k1: float | None,
    b: float | None,
    algorithm: str = "dense",
) -> tuple[IndexStats, list[_Query]]:
    """The query front end: validate, apply (k1, b) overrides,
    tokenize/rewrite every query, ONE lexicon probe for the union of
    their terms, and per query its term list and algorithm —
    ``"auto"`` picks by measured crossover (see :func:`search_topk`).
    Queries that can produce no hits (no known term; a conjunctive
    query with an absent term) contribute no entry."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    if algorithm not in ("auto", "wand", "dense"):
        raise ValueError(f"algorithm must be auto|wand|dense, got {algorithm!r}")
    stats = index.stats
    if k1 is not None or b is not None:
        import dataclasses

        stats = dataclasses.replace(
            stats,
            k1=stats.k1 if k1 is None else float(k1),
            b=stats.b if b is None else float(b),
        )
    tfn = index.token_fn()
    parsed = {
        qid: parse_query_boosted(text, synonyms, tfn)
        for qid, text in queries.items()
    }
    meta = _lookup_terms(
        index, sorted({t for ts, _ in parsed.values() for t in ts})
    )
    out: list[_Query] = []
    for qid, (ts, boosts) in parsed.items():
        qmeta = {t: meta[t] for t in ts if t in meta}
        if not qmeta or (mode == "and" and len(qmeta) < len(set(ts))):
            continue  # no known term, or a conjunct absent everywhere
        algo = algorithm
        if algo == "auto":
            min_df = min(m["df"] for m in qmeta.values())
            algo = "wand" if (mode == "and" and min_df <= 20_000) else "dense"
        # (hash, term, idf) in ascending TERM-STRING order: every scorer
        # sums per-doc partials in this order, so float results are
        # bit-identical to the oracle's ascending-term summation. A query
        # boost folds into the term's idf — BM25 contributions are linear
        # in idf, so every scorer (dense accumulate, WAND incl. its block
        # upper bounds, driver rows) stays exact with no scorer changes.
        terms = [
            (int(m["hash"]), t, float(m["idf"]) * boosts.get(t, 1.0))
            for t, m in sorted(qmeta.items())
        ]
        out.append(_Query(qid, terms, algo))
    return stats, out


def _resolve_query(
    index: Index,
    query_text: str,
    synonyms: dict[str, str] | None,
    mode: str,
    algorithm: str,
    k1: float | None,
    b: float | None,
) -> tuple[IndexStats, _Query | None]:
    """:func:`_resolve_batch` for a batch of one: ``(stats, query)``,
    the query None when it can produce no hits."""
    stats, qs = _resolve_batch(index, {None: query_text}, synonyms, mode,
                               k1, b, algorithm)
    return stats, (qs[0] if qs else None)


def search_topk_rows(
    index: Index,
    query_text: str,
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    algorithm: str = "auto",
    mode: str = "or",
    k1: float | None = None,
    b: float | None = None,
    after: tuple[int, float] | None = None,
    similarity=None,
) -> list[tuple[int, float]]:
    """:func:`search_topk` with ``serving="driver"``, returning plain
    ``[(doc_id, score)]`` pairs instead of a DataFrame — the serving
    fast path for an online search node. Wrapping k rows into a Spark
    DataFrame costs ~10-20 ms of py4j round trips per query (profiled;
    the scoring itself is sub-millisecond on a hot index), so the
    DataFrame contract dominates latency once the postings LRU is
    warm. Rank- and score-identical to ``search_topk`` on every
    serving path by test.

    Same constraints as driver serving: the index must fit the
    driver-pinned doc-norms array, and tombstone sets past
    ``TOMBSTONE_OVERFETCH_MAX`` need the distributed scorer (use
    :func:`search_topk` / ``vacuum_index``); smaller sets are masked
    inside the shard scorers, which select exactly k. No
    ``doc_filter`` — filtered search is cogroup-only."""
    after = _check_after(after)
    stats, q = _resolve_query(index, query_text, synonyms, mode, algorithm,
                              k1, b)
    if q is None:
        return []
    term_fns = _similarity_term_fns(index, similarity, query_text, synonyms,
                                    k1=k1, b=b)
    q = q._replace(after=after, term_fns=term_fns)
    return _driver_score(index, stats, [q], k, mode,
                         "search_topk(serving='spark')")[None]


SEGMENT_TOPK_SCHEMA = "segment int, doc_id long, score double"
BATCH_TOPK_SCHEMA = "query_id string, doc_id long, score double"
SEGMENT_BATCH_TOPK_SCHEMA = (
    "query_id string, segment int, doc_id long, score double"
)


def search_topk_batch(
    index: Index,
    queries: dict[str, str],
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    mode: str = "or",
    serving: str = "auto",
    k1: float | None = None,
    b: float | None = None,
) -> DataFrame:
    """Serve a whole query set in ONE pass — the offline workload shape
    (evaluation query sets, training-data mining, query-log replay) the
    per-query path can't amortize: at 1000 executors a single
    :func:`search_topk` call is one job whose scan cost is paid per
    query, while here the q queries' term unions prune ONE postings
    scan, each shard task decodes every distinct term's blocks ONCE
    (shared across the queries that contain it — head terms recur
    constantly in real query logs), and per-shard top-k rows for all
    queries come back in one wave. The global merge is a window over
    q·k·num_shards tiny rows, partitioned by query.

    Returns ``(query_id, doc_id, score)`` — per query its exact top-k,
    **bit-identical** to running :func:`search_topk` per query (same
    ascending-term summation, same dense accumulator; the shared
    decode caches the idf-free partial, not the scores). Queries whose
    terms are all absent (or, under ``mode="and"``, missing any term)
    contribute zero rows, exactly like their single-query calls.

    ``serving="driver"`` reads the union filter once via pyarrow and
    scores every query with no Spark job at all; ``"auto"`` picks it
    under the same thresholds as :func:`search_topk`. Tombstones ride
    the same in-scorer mask (sets within ``TOMBSTONE_OVERFETCH_MAX``)
    or cogroup eligibility page (larger sets) as the single-query
    path.
    """
    if serving not in ("auto", "driver", "spark"):
        raise ValueError(f"serving must be auto|driver|spark, got {serving!r}")
    stats, per_q = _resolve_batch(index, queries, synonyms, mode, k1, b)
    if not per_q:
        return _empty_df(index.spark, BATCH_TOPK_SCHEMA)
    return _execute(index, stats, per_q, k, mode, serving, batch=True)


def search_topk_batch_rows(
    index: Index,
    queries: dict[str, str],
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    mode: str = "or",
    k1: float | None = None,
    b: float | None = None,
) -> dict[str, list[tuple[int, float]]]:
    """:func:`search_topk_batch` as the serving fast path: the whole
    query set scored driver-side (one union-pruned postings read via
    the hot LRU, per-shard decode shared across queries) and returned
    as plain ``{query_id: [(doc_id, score)]}`` — no Spark job and no
    DataFrame wrap, the shape an evaluation harness or query-log
    replayer consumes directly. Per-query results are bit-identical to
    :func:`search_topk` / :func:`search_topk_batch` by test. Queries
    that can produce no hits map to no key (exactly the rows they'd
    contribute). Same gates as :func:`search_topk_rows`: driver-sized
    index, tombstone set within ``TOMBSTONE_OVERFETCH_MAX``."""
    stats, per_q = _resolve_batch(index, queries, synonyms, mode, k1, b)
    if not per_q:
        return {}
    return _driver_score(index, stats, per_q, k, mode,
                         "search_topk_batch(serving='spark')")


def _execute(
    index: Index,
    stats: IndexStats,
    queries: list[_Query],
    k: int,
    mode: str,
    serving: str,
    doc_filter: DataFrame | None = None,
    merge: bool = True,
    batch: bool = False,
) -> DataFrame:
    """The DataFrame serving tail of every scorer caller. ``queries``
    carry the idf actually used (per-index or federated-global),
    ``stats`` the avgdl and (k1, b) actually used. Returns ``(doc_id,
    score)`` rows — ``(query_id, doc_id, score)`` with ``batch`` —
    merged to each query's top k, or the unmerged per-shard rows when
    ``merge`` is False.

    Serves on the driver (:func:`_driver_score`, no Spark job) when
    ``serving="driver"``, or under ``"auto"`` when the index fits the
    driver-pinned norms and lexicon and needs no eligibility page.
    Otherwise ONE executor plan: a bucket- and term-pruned postings
    scan grouped by shard into :func:`_shard_udf`, doc lengths from
    the session broadcast, or — past ``DL_BROADCAST_MAX_DOCS``, or to
    carry an eligibility page (``doc_filter`` semi-joined in, a
    tombstone set past ``TOMBSTONE_OVERFETCH_MAX`` anti-joined out) —
    from each probed shard's doc_stats page, cogrouped with its
    blocks."""
    if doc_filter is not None and serving == "driver":
        raise ValueError(
            "doc_filter needs distributed serving (the cogroup "
            "eligibility page); use serving='spark' (or 'auto')"
        )
    spark = index.spark
    schema = BATCH_TOPK_SCHEMA if batch else TOPK_SCHEMA
    tomb, too_many = _tombstone_gate(index)
    if serving == "driver" or (
        serving == "auto"
        and doc_filter is None
        and not too_many
        and index.dl_array() is not None
        and index.lexicon_map() is not None
    ):
        got = _driver_score(index, stats, queries, k, mode,
                            "serving='spark' (or 'auto')")
        if not any(got.values()):
            return _empty_df(spark, schema)
        return spark.createDataFrame(_pairs_frame(got.items(), batch))

    hashes = sorted({h for q in queries for h, _, _ in q.terms})
    # bucket = pmod(term_hash, n_buckets): Python % matches np.mod /
    # Spark pmod sign behavior for a positive modulus
    buckets = sorted({h % stats.n_buckets for h in hashes})
    blocks = index.postings.where(
        F.col("bucket").isin(buckets) & F.col("term_hash").isin(hashes)
    )
    # Size the scorer shuffle to the work, not the session: the
    # grouped-map exchange otherwise inherits spark.sql.shuffle
    # .partitions (= cores), so a bigger cluster launches MORE empty
    # tasks per query and p95 regresses as the cluster grows. An
    # explicit hash repartition on the grouping key satisfies the
    # grouped-map's required ClusteredDistribution, so no second
    # exchange is planned; num_shards bounds real parallelism anyway.
    n_parts = max(1, min(stats.num_shards,
                         spark.sparkContext.defaultParallelism))
    grouped = blocks.repartition(n_parts, "shard").groupBy("shard")
    paged = doc_filter is not None or too_many
    if paged:
        # eligibility can hollow out any segment, so block-max bounds
        # (which ignore the page) stop pruning anything while still
        # costing the visit order: paged queries score dense
        queries = [q._replace(algorithm="dense") if q.algorithm == "wand"
                   else q for q in queries]
    dl_bc = None if paged else index.dl_broadcast()
    scorer = _shard_udf(queries, stats, k, mode, dl_bc, tomb, paged, batch)
    if dl_bc is not None:
        per_shard = grouped.applyInPandas(scorer, schema=schema)
    else:
        shards = blocks.select("shard").distinct()
        dls = index.doc_stats.join(F.broadcast(shards), "shard", "left_semi")
        if doc_filter is not None:
            dls = dls.join(doc_filter.select("doc_id"), "doc_id", "left_semi")
        if too_many:
            dls = dls.join(index.tombstones.select("doc_id"), "doc_id",
                           "left_anti")
        per_shard = grouped.cogroup(
            dls.repartition(n_parts, "shard").groupBy("shard")
        ).applyInPandas(scorer, schema=schema)
    if not merge:
        return per_shard
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    if not batch:
        return per_shard.orderBy(*order).limit(k)
    from pyspark.sql.window import Window

    rn = F.row_number().over(Window.partitionBy("query_id").orderBy(*order))
    return (
        per_shard.withColumn("_rn", rn)
        .where(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("query_id", *order)
    )


def _pairs_frame(scored, batch: bool) -> pd.DataFrame:
    """``[(qid, [(doc_id, score)])]`` as a scorer output frame:
    ``(query_id, doc_id, score)`` for a batch, else ``(doc_id,
    score)``."""
    rows = [(qid, d, s) for qid, pairs in scored for d, s in pairs]
    out = pd.DataFrame(rows, columns=["query_id", "doc_id", "score"]).astype(
        {"doc_id": "int64", "score": "float64"}
    )
    return out if batch else out[["doc_id", "score"]]


def _shard_udf(queries: list[_Query], stats: IndexStats, k: int, mode: str,
               dl_bc, tomb: np.ndarray | None, require_dl: bool,
               batch: bool):
    """:func:`_score_shard` as the executor plan's per-shard function:
    with ``dl_bc`` (broadcast dense doc_len array) a grouped-map
    function over the shard's posting rows; without, a cogroup
    function whose right side is the shard's doc_stats page —
    ``require_dl`` makes that page the eligibility mask. ``tomb``
    rides in the closure."""
    span = stats.shard_span

    def scorer(left: pd.DataFrame, right: pd.DataFrame | None = None):
        scored = []
        if len(left) and (right is None or len(right)):
            base = int(left["shard"].iat[0]) * span
            if right is None:
                dl = _pad_dl(dl_bc.value[base : base + span], span)
            else:
                dl = np.zeros(span, dtype=np.float64)
                dl[right["doc_id"].to_numpy(np.int64) - base] = (
                    right["doc_len"].to_numpy(np.float64)
                )
            scored = _score_shard(queries, stats, k, mode, dl, base,
                                  _block_columns(left), lambda: left,
                                  tomb=tomb, require_dl=require_dl)
        return _pairs_frame(scored, batch)

    if dl_bc is not None:
        # one parameter: applyInPandas reads a two-parameter function
        # as (key, pdf)
        return lambda left: scorer(left)
    return scorer


def _pad_dl(dl: np.ndarray, span: int) -> np.ndarray:
    """One shard's slice of the dense doc_len array, zero-padded to
    ``span`` (the last shard's slice may be short)."""
    if dl.shape[0] < span:
        dl = np.concatenate([dl, np.zeros(span - dl.shape[0])])
    return dl


def _driver_shards(index: Index, hit_hashes: list[int], span: int):
    """Per-shard inputs of the driver loop: yields ``(shard, base, dl,
    rows_for, frame)`` for every shard holding a probed term, where
    ``rows_for(term_hash)`` returns the term's block columns in that
    shard (or None) and ``frame()`` the shard's posting rows of every
    probed term (for WAND and ``pairs_fn``; concatenated and grouped
    on first use). Rows come through :meth:`Index.postings_rows_by_term`
    (the hot LRU) as per-term NumPy columns split by shard — no pandas
    indexing per (term, shard)."""
    frames = index.postings_rows_by_term(hit_hashes)
    blocks = {h: index._shard_blocks(h, f) for h, f in frames.items()}
    arr = index.dl_array()
    groups: dict = {}

    def frame(s):
        if not groups:
            rows = _concat_rows(frames.values())
            groups.update(iter(rows.groupby("shard")))
        return groups[s]

    for s in sorted({s for bs in blocks.values() for s in bs}):
        base = s * span

        def rows_for(th, _s=s):
            bs = blocks.get(th)
            return None if bs is None else bs.get(_s)

        yield (s, base, _pad_dl(arr[base : base + span], span), rows_for,
               lambda _s=s: frame(_s))


def _driver_score(
    index: Index,
    stats: IndexStats,
    queries: list[_Query],
    k: int,
    mode: str,
    alt: str,
) -> dict:
    """The driver loop: ONE bucket-pruned pyarrow read of the union of
    ``queries``' postings (through the hot LRU), then
    :func:`_score_shard` once per shard holding a probed term. Returns
    ``{qid: [(doc_id, score)]}``, each query's top k in (score desc,
    doc_id asc) order — no Spark job, no DataFrame. An index past the
    driver-pinned norms, or a tombstone set past
    ``TOMBSTONE_OVERFETCH_MAX``, raises, naming the distributed
    alternative ``alt``."""
    if index.dl_array() is None:
        raise ValueError(
            f"index has {stats.n_docs} docs (> {DL_BROADCAST_MAX_DOCS}): too "
            f"large for driver serving; use {alt}"
        )
    tomb, _ = _tombstone_gate(index, alt)
    hashes = sorted({h for q in queries for h, _, _ in q.terms})
    tfc = index._tf_cache()
    out: dict = {q.qid: [] for q in queries}
    for s, base, dl, rows_for, frame in _driver_shards(index, hashes,
                                                        stats.shard_span):
        for qid, pairs in _score_shard(queries, stats, k, mode, dl, base,
                                       rows_for, frame, tomb=tomb,
                                       tf_cache=tfc, shard=s):
            out[qid].extend(pairs)
    for pairs in out.values():
        pairs.sort(key=lambda e: (-e[1], e[0]))
        del pairs[k:]
    return out


def _score_shard(
    queries: list[_Query], stats: IndexStats, k: int, mode: str,
    dl: np.ndarray, base: int, rows_for, frame,
    tomb: np.ndarray | None = None,
    require_dl: bool = False,
    tf_cache: "_ByteLRU | None" = None,
    shard: int | None = None,
) -> list[tuple[object, list[tuple[int, float]]]]:
    """The one per-shard scorer, called by the driver loop and the
    executor plan alike: every query of ``queries`` over one shard,
    ``[(qid, pairs)]`` with each query's shard-local top k.
    ``rows_for(term_hash)`` gives a term's block columns here (dense),
    ``frame()`` the shard's posting rows (WAND, ``pairs_fn``). Dense
    queries share one decode cache, so each term's blocks decode, and
    their idf-free partial computes, once per shard (see
    :func:`_score_dense`). ``tomb`` (sorted tombstoned doc_ids) is
    masked inside dense and WAND before top-k selection; a
    ``pairs_fn`` over-retrieves ``k + |tomb|`` itself, and its pairs
    are filtered here — against ``tomb``, and against the eligibility
    page when ``require_dl``."""
    k1, b, avgdl = stats.k1, stats.b, stats.avgdl
    shared: dict = {}
    out = []
    for q in queries:
        required = len(q.terms) if mode == "and" else 0
        if q.algorithm == "dense":
            pairs = _score_dense(
                rows_for, dl, base, q.terms, k1, b, avgdl, k, required,
                require_dl=require_dl,
                decode_cache=shared if q.term_fns is None else None,
                tf_cache=tf_cache, shard=shard, after=q.after,
                term_fns=q.term_fns, tomb=tomb,
            )
        elif q.algorithm == "wand":
            pairs = _score_wand(frame(), dl, base, q.terms, k1, b, avgdl, k,
                                required, after=q.after, term_fns=q.term_fns,
                                tomb=tomb)
        else:
            dead = _shard_tombstones(tomb, base, dl.shape[0])
            dead = set() if dead is None else set(dead.tolist())
            pairs = [
                (d, s) for d, s in q.algorithm(frame(), dl, base)
                if d not in dead and (not require_dl or dl[d - base] > 0)
            ]
        out.append((q.qid, pairs))
    return out


def _partial(tf: np.ndarray, dl: np.ndarray, k1: float, b: float, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _apply_after(
    doc_ids: np.ndarray, scores: np.ndarray, after: tuple[int, float]
) -> tuple[np.ndarray, np.ndarray]:
    """Cursor-pagination eligibility mask: keep docs ranked STRICTLY
    after ``after = (doc_id, score)`` — the last result pair of the
    previous page, in the exact shape the engine returns it — in the
    total order (score desc, doc_id asc). The cursor score must be the
    exact float64 the previous page returned — the mask commutes with
    per-shard top-k selection, so applying it before every shard's
    selection plus the unchanged global merge yields exactly the next
    page (Elasticsearch search_after semantics, no deep-paging
    over-fetch)."""
    d, s = int(after[0]), float(after[1])
    m = (scores < s) | ((scores == s) & (doc_ids > d))
    return doc_ids[m], scores[m]


def _topk_pairs(
    doc_ids: np.ndarray, scores: np.ndarray, k: int,
    after: tuple[int, float] | None = None,
) -> list[tuple[int, float]]:
    """k best by (score desc, doc_id asc).

    O(n) selection, not an O(n log n) full sort: a head-term query
    matches ~the whole shard, and profiling showed the former
    full-array ``np.lexsort`` dominating hot driver serving at 600k
    docs (~9 ms/call, 45% of query time). ``argpartition`` selects the
    k-th score boundary; everything strictly above it belongs in the
    top-k (at most k-1 rows), and ties AT the boundary are broken by
    smallest doc_id via a second partition — bit-identical results to
    the full lexsort by construction (and by test)."""
    if after is not None:
        doc_ids, scores = _apply_after(doc_ids, scores, after)
    n = doc_ids.size
    if n == 0:
        return []
    if n > max(4 * k, 64):
        part = np.argpartition(-scores, k - 1)[:k]
        kth = scores[part].min()
        above = np.flatnonzero(scores > kth)          # < k rows, all in
        need = k - above.size
        at = np.flatnonzero(scores == kth)            # boundary ties
        if at.size > need:
            sel = np.argpartition(doc_ids[at], need - 1)[:need]
            at = at[sel]
        cand = np.concatenate([above, at])
        order = cand[np.lexsort((doc_ids[cand], -scores[cand]))]
    else:
        order = np.lexsort((doc_ids, -scores))[:k]
    return list(zip(doc_ids[order].tolist(), scores[order].tolist()))


def _shard_tombstones(tomb, base: int, span: int) -> np.ndarray | None:
    """The tombstoned doc_ids in ``[base, base + span)`` — one
    searchsorted pair over the sorted tombstone array — or None when
    the shard has none."""
    if tomb is None:
        return None
    lo, hi = np.searchsorted(tomb, (base, base + span))
    return tomb[lo:hi] if hi > lo else None


def _block_columns(left: pd.DataFrame):
    """``rows_for`` over one shard's posting-row frame: the frame's
    columns are pulled out as NumPy arrays once, and each term's rows
    are a boolean take on those arrays — no pandas indexing per term.
    Returns ``term_hash -> (doc_id blobs, tf blobs, n_docs,
    first_doc_id)`` or None for a term with no rows here."""
    hashes = left["term_hash"].to_numpy(np.int64)
    cols = _block_arrays(left)

    def rows_for(th):
        m = hashes == th
        return tuple(c[m] for c in cols) if m.any() else None

    return rows_for


def _score_dense(
    rows_for, dl: np.ndarray, base: int,
    ordered_terms: list[tuple[int, str, float]],
    k1: float, b: float, avgdl: float, k: int,
    required: int = 0,
    require_dl: bool = False,
    decode_cache: dict | None = None,
    tf_cache: "_ByteLRU | None" = None,
    shard: int | None = None,
    after: tuple[int, float] | None = None,
    term_fns: dict | None = None,
    tomb: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Dense accumulator over one shard. ``rows_for(term_hash)``
    returns the term's block columns in this shard
    (:func:`_block_arrays`) or None.
    ``tomb`` (sorted tombstoned doc_ids, whole index) is an
    eligibility mask applied before top-k selection, like ``after``."""
    span = dl.shape[0]
    scores = np.zeros(span, dtype=np.float64)
    nterms = np.zeros(span, dtype=np.int32)

    present = 0
    # ordered_terms is in ascending term-string order => per-doc
    # summation order matches the oracle. All of a term's blocks decode
    # in ONE batched pass (codec.decode_blocks) — block order is
    # irrelevant for the dense accumulator, so no sort either.
    # ``decode_cache`` (term_hash -> (off, partial), one per shard of a
    # scorer call) shares each term's decode + idf-free BM25 partial
    # across the dense queries of that call; the cached partial is the
    # SAME float array the uncached path computes, and scores still
    # accumulate as ``idf * partial`` per term in ascending term order,
    # so batch scores are bit-identical to single-query scores.
    # ``tf_cache`` (driver serving, cross-QUERY: (term_hash, shard) ->
    # decoded (offsets, tf)) additionally skips the varint decode for
    # hot terms; the partial is recomputed per query from the cached
    # tf, so tuned (k1, b) / federated-avgdl parameterizations remain
    # bit-identical to the uncached path.
    for th, _term, idf in ordered_terms:
        got = None if decode_cache is None else decode_cache.get(th)
        if got is None:
            dt = None if tf_cache is None else tf_cache.get((th, shard))
            if dt is None:
                cols = rows_for(th)
                if cols is not None:
                    d, t, _ = codec.decode_blocks(*cols)
                    dt = (d - base, t)
                else:
                    dt = ()
                if tf_cache is not None:
                    tf_cache.put((th, shard), dt)
            if len(dt):
                off = dt[0]
                if term_fns is not None:
                    # pluggable similarity (ranking.py): the per-term
                    # fn returns the FULL contribution (weight folded
                    # in), so no idf multiply below; such a query
                    # gets no shared decode_cache (_score_shard).
                    got = (off, term_fns[th](dt[1], dl[off]))
                else:
                    got = (off, _partial(dt[1], dl[off], k1, b, avgdl))
            else:
                got = ()
            if decode_cache is not None:
                decode_cache[th] = got
        if len(got) == 0:
            continue
        off, part = got
        present += 1
        scores[off] += part if term_fns is not None else idf * part
        nterms[off] += 1
    if required and present < required:
        return []  # a required term has no postings in this shard
    dead = _shard_tombstones(tomb, base, span)
    if dead is not None:
        nterms[dead - base] = 0  # tombstoned: matches nothing
    idx = np.flatnonzero(nterms >= required if required else nterms)
    if require_dl:
        # filtered search: the dl page holds ONLY eligible docs, so a
        # zero entry means "filtered out" (a doc with postings always
        # has dl >= 1) — mask before top-k selection.
        idx = idx[dl[idx] > 0]
    return _topk_pairs(idx + base, scores[idx], k, after=after)


class _TermBlocks:
    """Per-(term, shard) block metadata with lazy, cached decode.

    Block upper bounds are derived at query time from the stored
    ``(max_tf, min_dl)`` pair: ``idf * max_tf*(k1+1)/(max_tf + k1*(1-b+
    b*min_dl/avgdl))`` bounds every doc's partial in the block because
    the BM25 partial is monotone increasing in tf and decreasing in dl.
    Storing the raw pair (instead of a precomputed partial) frees the
    index builder from needing avgdl before encoding."""

    __slots__ = ("term", "idf", "fn", "rows", "firsts", "ends", "ubs",
                 "_cache")

    def __init__(self, term: str, idf: float, grp: pd.DataFrame,
                 k1: float, b: float, avgdl: float, shard_end: int,
                 fn=None):
        grp = grp.sort_values("block_id")
        self.term = term
        self.idf = idf
        self.fn = fn
        self.rows = list(grp.itertuples(index=False))
        self.firsts = grp["first_doc_id"].to_numpy(np.int64)
        # block i's doc range is [firsts[i], firsts[i+1]); the last
        # block is open-ended to the shard boundary
        self.ends = np.append(self.firsts[1:], np.int64(shard_end))
        mt = grp["max_tf"].to_numpy(np.float64)
        md = grp["min_dl"].to_numpy(np.float64)
        if fn is not None:
            # pluggable similarity: the contribution is monotone in
            # (tf up, dl down) by ranking.py's contract, so the same
            # per-term fn evaluated at the stored (max_tf, min_dl)
            # pair IS the exact block upper bound
            self.ubs = np.asarray(fn(mt, md), dtype=np.float64)
        else:
            self.ubs = idf * (mt * (k1 + 1.0)) / (
                mt + k1 * (1.0 - b + b * md / avgdl)
            )
        self._cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def decode(self, bi: int) -> tuple[np.ndarray, np.ndarray]:
        got = self._cache.get(bi)
        if got is None:
            row = self.rows[bi]
            n = int(row.n_docs)
            d = codec.decode_doc_ids(bytes(row.doc_ids), n=n,
                                     base=int(row.first_doc_id))
            t = codec.decode_tfs(bytes(row.tfs), n=n)
            got = self._cache[bi] = (d, t)
        return got


def _score_wand(
    left: pd.DataFrame, dl: np.ndarray, base: int,
    ordered_terms: list[tuple[int, str, float]],
    k1: float, b: float, avgdl: float, k: int,
    required: int = 0,
    after: tuple[int, float] | None = None,
    term_fns: dict | None = None,
    tomb: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Block-max WAND over one shard, segment-vectorized.

    ``after`` (cursor pagination) and ``tomb`` (sorted tombstoned
    doc_ids) mask candidates at insertion — theta then tracks the kth
    best ELIGIBLE doc, so the segment-bound pruning stays exact for
    the page being served (a pruned segment cannot contain an
    eligible doc above theta).

    Classic per-doc DAAT WAND spends microseconds of Python per pivot —
    at web-corpus dfs that is seconds per head-term query. Here the
    pruning stays block-max exact but evaluation is vectorized:

      1. block boundaries of all query terms partition the shard's
         doc-id space into SEGMENTS; within a segment the set of
         covering blocks (hence the score upper bound, the sum of
         covering block maxima) is constant;
      2. segments are visited in DESCENDING upper-bound order; once the
         running top-k threshold theta exceeds the next segment's
         bound, every remaining segment is below theta too — stop
         (this is the WAND pivot test applied at segment granularity);
      3. a visited segment is scored fully vectorized: per term (in
         ascending term order, preserving the oracle's per-doc float
         summation order) decode-once the covering block, slice the
         segment's doc range via searchsorted, and accumulate
         idf-weighted partials into a segment-local dense array.

    Worst case (uniform bounds, e.g. a single head term) degrades to
    dense-scorer throughput, never to per-doc Python.
    """
    hashes = left["term_hash"].to_numpy(np.int64)
    shard_end = base + dl.shape[0]
    terms: list[_TermBlocks] = []
    for th, term, idf in ordered_terms:
        grp = left[hashes == th]
        if len(grp):
            terms.append(_TermBlocks(
                term, idf, grp, k1, b, avgdl, shard_end,
                fn=None if term_fns is None else term_fns[th],
            ))
    if not terms or (required and len(terms) < required):
        return []

    # segment edges = union of all block boundaries
    bounds = np.unique(np.concatenate(
        [t.firsts for t in terms] + [t.ends for t in terms]
    ))
    n_seg = bounds.shape[0] - 1
    if n_seg <= 0:
        return []
    # per-segment upper bound (and covering-term count) via difference
    # arrays over block spans
    diff = np.zeros(n_seg + 1, dtype=np.float64)
    cover = np.zeros(n_seg + 1, dtype=np.int32)
    for t in terms:
        li = np.searchsorted(bounds, t.firsts, side="left")
        ri = np.searchsorted(bounds, t.ends, side="left")
        np.add.at(diff, li, t.ubs)
        np.add.at(diff, ri, -t.ubs)
        np.add.at(cover, li, 1)
        np.add.at(cover, ri, -1)
    seg_ub = np.cumsum(diff)[:n_seg]
    seg_cover = np.cumsum(cover)[:n_seg]
    # visit order: bound desc, segment index asc on ties (determinism);
    # conjunctive mode prunes segments not covered by every query term
    # (a doc there cannot contain all terms — its postings would be in
    # blocks covering its own id)
    eligible = (
        np.flatnonzero(seg_cover >= required) if required
        else np.arange(n_seg)
    )
    if not eligible.size:
        return []
    order = eligible[np.lexsort((eligible, -seg_ub[eligible]))]

    dead = _shard_tombstones(tomb, base, dl.shape[0])
    best_docs = np.empty(0, dtype=np.int64)
    best_scores = np.empty(0, dtype=np.float64)
    theta = -np.inf
    for j in order:
        if best_docs.size >= k and seg_ub[j] < theta:
            break  # ordered desc: every remaining segment is <= this one
        lo, hi = int(bounds[j]), int(bounds[j + 1])
        width = hi - lo
        acc = np.zeros(width, dtype=np.float64)
        ntouch = np.zeros(width, dtype=np.int32)
        for t in terms:  # ascending term order == oracle summation order
            bi = int(np.searchsorted(t.firsts, lo, side="right")) - 1
            if bi < 0 or t.ends[bi] <= lo:
                continue
            d, tf = t.decode(bi)
            s0 = int(np.searchsorted(d, lo, side="left"))
            s1 = int(np.searchsorted(d, hi, side="left"))
            if s0 == s1:
                continue
            dseg = d[s0:s1]
            off = dseg - lo
            if t.fn is not None:
                acc[off] += t.fn(tf[s0:s1], dl[dseg - base])
            else:
                acc[off] += t.idf * _partial(
                    tf[s0:s1], dl[dseg - base], k1, b, avgdl
                )
            ntouch[off] += 1
        if dead is not None:
            d0, d1 = np.searchsorted(dead, (lo, hi))
            ntouch[dead[d0:d1] - lo] = 0  # tombstoned: not a candidate
        idx = np.flatnonzero(ntouch >= required) if required else np.flatnonzero(ntouch)
        if not idx.size:
            continue
        cand_scores = acc[idx]
        cand_docs = idx + lo
        if after is not None:
            cand_docs, cand_scores = _apply_after(
                cand_docs, cand_scores, after
            )
            if not cand_docs.size:
                continue
        if best_docs.size >= k:
            m = cand_scores >= theta  # keep ties: smaller doc_id can win
            if not m.any():
                continue
            cand_scores = cand_scores[m]
            cand_docs = cand_docs[m]
        pool_docs = np.concatenate([best_docs, cand_docs])
        pool_scores = np.concatenate([best_scores, cand_scores])
        sel = np.lexsort((pool_docs, -pool_scores))[:k]
        best_docs = pool_docs[sel]
        best_scores = pool_scores[sel]
        if best_docs.size >= k:
            theta = float(best_scores[-1])
    return [(int(d), float(s)) for d, s in zip(best_docs, best_scores)]








# ---------------------------------------------------------------------------
# Exhaustive DataFrame scorer (no index) — M1 baseline / oracle path
# ---------------------------------------------------------------------------

def bm25_topk_dataframe(
    docs: DataFrame,
    query_text: str,
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    k1: float | None = None,
    b: float | None = None,
    mode: str = "or",
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k computed entirely with built-in DataFrame operators
    over documents(doc_id, text) — tokenize, tf, df, dl, avgdl, score,
    sum, order, limit. Lives fully inside Catalyst/codegen; used both
    as the correctness baseline for the index path and as the
    DuckDB-oracle-comparable query.

    Plan shape: exactly TWO corpus scans (one for the corpus/df
    statistics, one for scoring), each tokenizing once. Query-term tf
    is an array filter count over the token array — the query is a
    handful of driver-side literals, so there is no explode, no
    (term, doc) shuffle, and no tf ⋈ dl ⋈ df join tree (the previous
    formulation re-derived tokens in four scan branches). Per-doc
    score is a fixed expression summing per-term partials in ascending
    term order (left-to-right float64 adds), so results stay
    score-identical to the NumPy oracle; terms absent from a doc
    contribute an exact 0.0, which is an identity for the sum.

    ``doc_filter`` (DataFrame with ``doc_id``): eligibility mask with
    GLOBAL statistics — stats come from scan 1 over the whole corpus,
    the mask semi-joins the matched set before the top-k sort, so a
    filtered query's surviving scores equal the unfiltered ones."""
    from ..functions.tokenizer import tokens_col
    from .. import BM25_B, BM25_K1

    k1 = BM25_K1 if k1 is None else k1
    b = BM25_B if b is None else b
    terms = sorted(parse_query(query_text, synonyms))
    if not terms:
        return _empty_df(docs.sparkSession, TOPK_SCHEMA)

    def _tf_of(term: str):
        # single-arg lambda (Spark inspects arity: two args would be
        # read as the (element, index) variant)
        return F.size(F.filter("toks", lambda t: t == F.lit(term)))

    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    per_doc = toks.select(
        "doc_id",
        F.size("toks").cast("double").alias("doc_len"),
        *[
            _tf_of(term).cast("double").alias(f"tf_{i}")
            for i, term in enumerate(terms)
        ],
    )
    # scan 1: corpus stats (docs with >= 1 token, matching the oracle)
    # and per-term df in ONE aggregation, broadcast back as literals.
    stats = per_doc.where(F.col("doc_len") > 0).agg(
        F.count("*").alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    # scan 2: score docs matching any term ("or") or every term
    # ("and"); summation order = ascending term index, left-to-right.
    if mode == "and":
        pred = F.least(*[F.col(f"tf_{i}") for i in range(len(terms))]) \
            if len(terms) > 1 else F.col("tf_0")
    else:
        pred = F.greatest(*[F.col(f"tf_{i}") for i in range(len(terms))]) \
            if len(terms) > 1 else F.col("tf_0")
    matched = per_doc.where(pred > 0)
    if doc_filter is not None:
        matched = matched.join(doc_filter.select("doc_id"), "doc_id",
                               "left_semi")
    score = F.lit(0.0)
    for i in range(len(terms)):
        score = score + score_col(
            F.col(f"tf_{i}"), F.col("doc_len"),
            idf_col(F.col("n_docs").cast("int"), F.col(f"df_{i}")),
            F.col("avgdl"), k1=k1, b=b,
        )
    scored = matched.crossJoin(F.broadcast(stats)).select(
        "doc_id", score.alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)


# ---------------------------------------------------------------------------
# Reference-compat mode: OR-union, posting order, first-seen dedup
# ---------------------------------------------------------------------------

def or_union_search(
    index: Index,
    query_text: str,
    synonyms: dict[str, str] | None = None,
    limit: int | None = None,
) -> DataFrame:
    """Exact semantics of the reference's performBasicSearch
    (search.service.js:58-90): iterate query terms in order, walk each
    posting list in order (here: doc_id ascending — the index's storage
    order), skip already-seen docs, concatenate. Returned columns:
    (rank, doc_id, matched_term)."""
    spark = index.spark
    terms = parse_query(query_text, synonyms, index.token_fn())
    if not terms:
        return _empty_df(spark, "rank long, doc_id long, matched_term string")
    order = {t: i for i, t in enumerate(terms)}
    meta = _lookup_terms(index, terms)
    hit = [t for t in terms if t in meta]
    if not hit:
        return _empty_df(spark, "rank long, doc_id long, matched_term string")

    hit_hashes = sorted(int(meta[t]["hash"]) for t in hit)
    blocks = index.postings.where(
        F.col("bucket").isin(sorted({meta[t]["bucket"] for t in hit}))
        & F.col("term_hash").isin(hit_hashes)
    ).select("term_hash", "first_doc_id", "n_docs", "doc_ids", "tfs")
    hash_to_term = {int(meta[t]["hash"]): t for t in hit}

    def expand(batches):
        # batched decode of the whole Arrow batch (the matched_docs
        # form) — per-block iterrows costs ~50 µs of dispatch per
        # block, seconds of pure overhead on a head-term query
        for pdf in batches:
            if pdf.empty:
                continue
            ns = pdf["n_docs"].to_numpy(np.int64)
            d, _t, _off = codec.decode_blocks(
                pdf["doc_ids"].tolist(), pdf["tfs"].tolist(), ns,
                pdf["first_doc_id"].to_numpy(np.int64),
            )
            terms = pdf["term_hash"].map(hash_to_term).to_numpy()
            yield pd.DataFrame({"term": np.repeat(terms, ns), "doc_id": d})

    pairs = blocks.mapInPandas(expand, schema="term string, doc_id long")
    order_df = spark.createDataFrame(
        pd.DataFrame({"term": list(order.keys()),
                      "term_pos": list(order.values())}).astype({"term_pos": "int32"})
    )
    from pyspark.sql import Window

    first_seen = (
        pairs.join(F.broadcast(order_df), "term")
        .groupBy("doc_id")
        .agg(
            F.min(F.struct("term_pos", "doc_id")).alias("key"),
            F.min_by("term", F.struct("term_pos", "doc_id")).alias("matched_term"),
        )
    )
    # rank minting needs a global order; the no-partition window would
    # funnel every matched doc (df ≈ N for a head term) through ONE
    # task. With a limit, a TakeOrdered bounds the set to `limit` rows
    # BEFORE the window, so the single-task stage sees k rows, not N.
    if limit:
        first_seen = first_seen.orderBy(
            F.col("key.term_pos").asc(), F.col("key.doc_id").asc()
        ).limit(limit)
    w = Window.orderBy(F.col("key.term_pos").asc(), F.col("key.doc_id").asc())
    ranked = first_seen.select(
        (F.row_number().over(w) - 1).alias("rank"),
        "doc_id",
        "matched_term",
    )
    return ranked


def matched_docs(
    index: Index,
    query_text: str,
    synonyms: dict[str, str] | None = None,
    mode: str = "or",
    min_match: int | None = None,
) -> DataFrame:
    """All doc_ids matching the query — no scoring. The recall side of
    faceting/analytics: a bucket+term_hash-pruned postings scan, one
    batched Arrow decode of the doc_id blobs, then distinct (``or``) or
    an all-terms-present count filter (``and``). Never tokenizes the
    corpus; cost is proportional to the query terms' total df.

    ``min_match``: docs containing at least this many DISTINCT query
    terms (overrides ``mode`` — ``min_match=1`` is ``or``,
    ``min_match=len(terms)`` is ``and``). A query term absent from the
    lexicon can never match, so ``min_match`` greater than the number
    of present terms short-circuits to empty.
    """
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    if min_match is not None and min_match < 1:
        raise ValueError(f"min_match must be >= 1, got {min_match}")
    spark = index.spark
    terms = parse_query(query_text, synonyms, index.token_fn())
    meta = _lookup_terms(index, terms)
    n_required = len(set(terms))
    if (
        not meta
        or (mode == "and" and min_match is None and len(meta) < n_required)
        or (min_match is not None and len(meta) < min_match)
    ):
        return _empty_df(spark, "doc_id long")
    buckets = sorted({m["bucket"] for m in meta.values()})
    hit_hashes = sorted(int(m["hash"]) for m in meta.values())
    blocks = index.postings.where(
        F.col("bucket").isin(buckets) & F.col("term_hash").isin(hit_hashes)
    ).select("term_hash", "first_doc_id", "n_docs", "doc_ids", "tfs")

    def expand(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ns = pdf["n_docs"].to_numpy(np.int64)
            d, _t, _off = codec.decode_blocks(
                pdf["doc_ids"].tolist(), pdf["tfs"].tolist(), ns,
                pdf["first_doc_id"].to_numpy(np.int64),
            )
            yield pd.DataFrame(
                {
                    "term_hash": np.repeat(
                        pdf["term_hash"].to_numpy(np.int64), ns
                    ),
                    "doc_id": d,
                }
            )

    pairs = blocks.mapInPandas(expand, schema="term_hash long, doc_id long")
    if min_match is not None:
        out = (
            pairs.groupBy("doc_id")
            .agg(F.countDistinct("term_hash").alias("nt"))
            .where(F.col("nt") >= min_match)
            .select("doc_id")
        )
    elif mode == "or":
        out = pairs.select("doc_id").distinct()
    else:
        out = (
            pairs.groupBy("doc_id")
            .agg(F.countDistinct("term_hash").alias("nt"))
            .where(F.col("nt") == n_required)
            .select("doc_id")
        )
    if index.tombstone_count():
        out = out.join(F.broadcast(index.tombstones), "doc_id", "left_anti")
    return out


def matched_docs_dataframe(
    docs: DataFrame,
    query_text: str,
    synonyms: dict[str, str] | None = None,
    mode: str = "or",
) -> DataFrame:
    """Exhaustive corpus-scan variant of :func:`matched_docs` —
    tokenize + array_contains per query term, fully inside codegen.
    The correctness baseline for the indexed path and the
    DuckDB-oracle-comparable form."""
    from ..functions.tokenizer import tokens_col

    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    terms = sorted(set(parse_query(query_text, synonyms)))
    if not terms:
        return _empty_df(docs.sparkSession, "doc_id long")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    conds = [F.array_contains("toks", t) for t in terms]
    pred = conds[0]
    for c in conds[1:]:
        pred = (pred & c) if mode == "and" else (pred | c)
    return toks.where(pred).select("doc_id")
















def search_topk_fields(
    fields: list[tuple[Index, float]],
    query_text: str,
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    mode: str = "or",
) -> DataFrame:
    """Weighted multi-field search (BM25F-lite, Lucene's per-field
    boosts): ``score(doc) = Σ_f w_f · BM25_f(query)`` over per-field
    indexes sharing ONE doc_id space (each field of the corpus indexed
    separately — title/body/anchor at web scale). Exactness needs each
    field's FULL matched-doc scores (a doc can be outside every
    field's top-k yet top-k combined), so the per-field frames come
    from :func:`scored_docs` (df-proportional, the facet cost class),
    union, and one keyed groupBy-sum feeds the final top-k — no
    cartesian, no corpus scan. Per-field statistics (df, avgdl, N)
    stay the field's own, the standard per-field-BM25 combination.
    ``mode="and"`` is per-field conjunctive: a doc qualifies through
    any single field containing every term.

    This is the list-based form; the manifest-backed superset —
    ``best_fields`` + tie_breaker, per-query similarity, driver
    serving, build/load — is :func:`~.multifield.multi_match`. Both
    run the same combine (:func:`~.multifield.combine_scored_parts`)."""
    if not fields:
        raise ValueError("need at least one (index, weight) field")
    from .multifield import combine_scored_parts

    parts = [
        scored_docs(ix, query_text, synonyms, mode=mode, boost=float(w))
        for ix, w in fields
    ]
    return combine_scored_parts(parts, "most_fields", 0.0, k)


def boosted_topk(
    index: Index,
    query_text: str,
    boosts: DataFrame,
    k: int = 10,
    boost_weight: float = 1.0,
    synonyms: dict[str, str] | None = None,
    mode: str = "or",
    boost_col: str = "boost",
) -> DataFrame:
    """Top-k with a static document prior fused at query time:
    ``score(doc) = BM25(query, doc) + boost_weight · boost(doc)`` —
    the pagerank / quality-score / freshness signal every web engine
    folds into ranking. Exactness needs the FULL matched-doc frame (a
    boost can promote a doc from outside the BM25 top-k), so this
    rides :func:`scored_docs` (df-proportional) and joins ``boosts``
    (``doc_id``, ``boost_col``) on the matched docs only — the
    corpus-sized boost table is never shuffled against itself, and
    docs absent from ``boosts`` get boost 0. Additive fusion keeps the
    units explicit; for multiplicative priors pre-transform the boost
    column (e.g. ``ln(prior)`` under an exp-score model)."""
    sd = scored_docs(index, query_text, synonyms, mode=mode)
    b = boosts.select("doc_id", F.col(boost_col).cast("double").alias("_b"))
    out = (
        sd.join(b, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.col("score")
                + float(boost_weight) * F.coalesce(F.col("_b"), F.lit(0.0))
            ).alias("score"),
        )
    )
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)


def decay_multiplier(x, origin: float, scale: float, offset: float = 0.0,
                     decay: float = 0.5, fn: str = "gauss"):
    """Elasticsearch function_score decay multiplier as a Column
    expression (public semantics: the ES docs' gauss/exp/linear decay
    functions). ``x`` is a numeric Column (cast dates/timestamps to
    epoch units upstream); a NULL field decays to 1.0 — ES's
    missing-value behavior. All shape constants are folded driver-side
    so the per-row work is one abs/greatest/exp chain in whole-stage
    codegen.

      d      = max(0, |x - origin| - offset)
      gauss  = exp(-d^2 / (2 sigma^2)),  sigma^2 = -scale^2 / (2 ln decay)
      exp    = exp(lambda d),            lambda  = ln(decay) / scale
      linear = max((s - d) / s, 0),      s       = scale / (1 - decay)
    """
    import math

    if not (0.0 < decay < 1.0):
        raise ValueError("decay must be in (0, 1)")
    if scale <= 0:
        raise ValueError("scale must be positive")
    d = F.greatest(
        F.abs(x.cast("double") - F.lit(float(origin))) - F.lit(float(offset)),
        F.lit(0.0),
    )
    if fn == "gauss":
        sigma2 = -(scale * scale) / (2.0 * math.log(decay))
        mult = F.exp(-(d * d) / F.lit(2.0 * sigma2))
    elif fn == "exp":
        lam = math.log(decay) / scale
        mult = F.exp(F.lit(lam) * d)
    elif fn == "linear":
        s = scale / (1.0 - decay)
        mult = F.greatest((F.lit(s) - d) / F.lit(s), F.lit(0.0))
    else:
        raise ValueError(f"unknown decay fn {fn!r} (gauss|exp|linear)")
    return F.when(x.isNull(), F.lit(1.0)).otherwise(mult)


def decay_topk(
    index: Index,
    query_text: str,
    fields: DataFrame,
    origin: float,
    scale: float,
    k: int = 10,
    offset: float = 0.0,
    decay: float = 0.5,
    fn: str = "gauss",
    synonyms: dict[str, str] | None = None,
    mode: str = "or",
    field_col: str = "value",
) -> DataFrame:
    """Top-k with an ES function_score decay fused at query time:
    ``score(doc) = BM25(query, doc) · decay_fn(field(doc))`` — the
    recency/geo/price-proximity ranking shape (freshness boost when
    the field is a timestamp). Multiplicative combination, ES's
    function_score default. Exactness needs the FULL matched-doc frame
    (decay can promote a doc from outside the BM25 top-k), so this
    rides :func:`scored_docs` (df-proportional, never a corpus scan)
    and joins ``fields`` (``doc_id``, ``field_col``) on matched docs
    only; docs absent from ``fields`` keep multiplier 1.0.

    The reference has no ranking function at all (posting order,
    server/src/services/search.service.js:12-16); decay scoring is
    built Spark-first as whole-stage-codegen column arithmetic."""
    sd = scored_docs(index, query_text, synonyms, mode=mode)
    fx = fields.select("doc_id", F.col(field_col).alias("_x"))
    mult = decay_multiplier(F.col("_x"), origin, scale, offset, decay, fn)
    out = sd.join(fx, "doc_id", "left").select(
        "doc_id", (F.col("score") * mult).alias("score")
    )
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)






# byte-popcount lookup table for the fuzzy charmask pre-filter
# (NumPy < 2 has no bitwise_count)
_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


















def sorted_matches(
    index: Index,
    query_text: str,
    sort_fields: DataFrame,
    sort_col: str,
    k: int = 10,
    ascending: bool = False,
    synonyms: dict[str, str] | None = None,
    mode: str = "or",
) -> DataFrame:
    """Field-sorted search (ES ``sort`` replacing ``_score``): the
    docs matching the query ordered by a document field — newest-first
    / largest-first result lists. Matching rides the index
    (:func:`scored_docs`' df-proportional matched frame — never a
    corpus scan); ``sort_fields`` (``doc_id``, ``sort_col``) joins on
    matched docs only, and the final (field, doc_id) ordering + limit
    compiles to TakeOrderedAndProject, not a global sort. Docs missing
    from ``sort_fields`` sort last (ES ``missing: _last``). Returns
    (doc_id, ``sort_col``)."""
    sd = scored_docs(index, query_text, synonyms, mode=mode).select("doc_id")
    fx = sort_fields.select("doc_id", F.col(sort_col).alias("_sv"))
    joined = sd.join(fx, "doc_id", "left")
    key = F.col("_sv").asc_nulls_last() if ascending \
        else F.col("_sv").desc_nulls_last()
    return (
        joined.orderBy(key, F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", F.col("_sv").alias(sort_col))
    )


PINNED_SCORE_BASE = 1.0e9


def pinned_search(
    index: Index,
    pinned_ids: list[int],
    query_text: str,
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    mode: str = "or",
    **search_kwargs,
) -> DataFrame:
    """ES ``pinned`` query: the listed doc ids come FIRST, in the
    given order, then the organic hits (minus the pinned ones) in
    their own rank order, k rows total. Pinned docs appear even when
    they don't match the query; ids not present in the index (or
    tombstoned) are skipped, duplicates keep their first position —
    ES semantics throughout.

    Pinned docs carry artificial scores ``PINNED_SCORE_BASE - rank``
    (ES uses floatMax/2 the same way) so one (score desc, doc_id asc)
    sort realizes "pins first, organic order preserved"; the base is
    1e9 — far above any real BM25 score, yet small enough that
    ``base - rank`` stays exact in a double (floatMax/2 - 1 would
    collapse to floatMax/2 and lose the pin order).

    Cost: the pin list is a k-sized driver literal (broadcast semi
    joins against vocab-sized metadata), organic is the standard
    indexed :func:`search_topk` over-fetched by ``len(pinned_ids)``
    to keep k rows after exclusion. Reference analog: the serving
    layer's hand-ordered result lists (server/src/services/
    search.service.js) — here as one declarative plan."""
    spark = index.spark
    ordered = list(dict.fromkeys(int(d) for d in pinned_ids))
    if not ordered:
        return search_topk(index, query_text, k=k, synonyms=synonyms,
                           mode=mode, **search_kwargs)
    pin = spark.createDataFrame(
        [(d, i) for i, d in enumerate(ordered)], "doc_id long, _rank int"
    )
    live = index.doc_stats.select("doc_id")
    if index.tombstone_count():
        live = live.join(index.tombstones.select("doc_id"),
                         "doc_id", "left_anti")
    pinned_scored = (
        pin.join(live, "doc_id", "left_semi")
        .select(
            "doc_id",
            (F.lit(PINNED_SCORE_BASE) - F.col("_rank")).alias("score"),
        )
    )
    organic = search_topk(
        index, query_text, k=k + len(ordered), synonyms=synonyms,
        mode=mode, **search_kwargs,
    ).join(F.broadcast(pin.select("doc_id")), "doc_id", "left_anti")
    return (
        pinned_scored.unionByName(organic)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )




def term_vectors(
    index: Index,
    doc_ids: list[int],
    positions: bool | None = None,
) -> DataFrame:
    """Per-DOCUMENT term vectors (the ES ``_termvectors`` term/
    position surface; Lucene stored TermVectors): ``(doc_id, term,
    tf[, positions])`` for each requested doc, decoded from the
    INVERTED index — the complement of :func:`term_stats`, which
    serves the field-statistics half.

    Scale shape: a doc's postings all live in its own shard (shard =
    doc_id // shard_span), so the scan prunes to the requested docs'
    SHARDS — S distinct shards touched for S-shard-spread requests,
    never a corpus scan (Lucene pays a stored forward index for this;
    we pay one shard-local decode, the honest trade for an index that
    stores postings only). Per Arrow batch: one ``decode_blocks``
    pass, an ``np.isin`` mask against the (tiny) requested-id set,
    and a Python loop over only the SURVIVING postings — bounded by
    the requested docs' vocabulary, not the shard. Term strings attach
    via a broadcast of the vocab-sized lexicon. Tombstoned docs yield
    no rows (consistent with search).

    ``positions=None`` emits positions when the index stores them;
    ``positions=False`` skips the blob decode; ``positions=True`` on a
    non-positional index raises.
    """
    pos = bool(index.stats.positions) if positions is None else bool(positions)
    if pos and not index.stats.positions:
        raise ValueError(
            "index has no positions; build_index(..., positions=True)"
        )
    schema = "doc_id long, term string, tf long" + (
        ", positions array<int>" if pos else ""
    )
    ids = sorted({int(i) for i in doc_ids})
    if index.tombstone_count():
        dead = set(int(i) for i in index.tombstone_array())
        ids = [i for i in ids if i not in dead]
    if not ids:
        return _empty_df(index.spark, schema)
    span = index.stats.shard_span
    shards = sorted({i // span for i in ids})
    wanted = np.asarray(ids, dtype=np.int64)

    lex = index.lexicon.select("term_hash", "term")
    cols = ["term", "n_docs", "first_doc_id", "doc_ids", "tfs"]
    if pos:
        cols.append("positions")
    post = (
        index.postings.where(F.col("shard").isin(shards))
        .join(F.broadcast(lex), "term_hash")
        .select(*cols)
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ns = pdf["n_docs"].to_numpy(np.int64)
            d, t, _ = codec.decode_blocks(
                pdf["doc_ids"].tolist(), pdf["tfs"].tolist(),
                ns, pdf["first_doc_id"].to_numpy(np.int64),
            )
            hit = np.isin(d, wanted)
            if not hit.any():
                continue
            terms = np.repeat(pdf["term"].to_numpy(object), ns)
            out = {
                "doc_id": d[hit],
                "term": terms[hit],
                "tf": t[hit],
            }
            if pos:
                blob = b"".join(map(bytes, pdf["positions"].tolist()))
                P = codec.decode_positions(blob, t)
                starts = np.zeros(t.shape[0], dtype=np.int64)
                starts[1:] = np.cumsum(t)[:-1]
                out["positions"] = [
                    P[s : s + n].astype(np.int32).tolist()
                    for s, n in zip(starts[hit], t[hit])
                ]
            yield pd.DataFrame(out)

    return post.mapInPandas(gen, schema=schema)




def collapse_topk(
    topk: DataFrame,
    keys: DataFrame,
    key_col: str,
    k: int | None = None,
) -> DataFrame:
    """Collapse a ranked result set to the best-scoring doc per key —
    Elasticsearch-style field collapsing / "similar results omitted".
    ``keys`` maps ``doc_id`` to a collapse key: a metadata field
    (lang, site) for field collapsing, or a duplicate-cluster id (md5
    digest from exact dedup, a minhash-LSH component) for dup-aware
    results. Docs missing from ``keys`` stay as singletons.

    Scale shape: the k-row ``topk`` side is broadcast into the join
    (the corpus-sized ``keys`` table is never shuffled), and the
    row_number window partitions k rows by key — bounded by k, never
    corpus-sized. Corpus-scale canonicalization belongs to the dedup
    operators (digest groupBy), not here.
    """
    from pyspark.sql import Window

    matched = keys.select("doc_id", F.col(key_col).alias("_ckey")).join(
        F.broadcast(topk), "doc_id"
    )
    # result docs with no key row survive as singletons: a k-row
    # anti-join, never a corpus-side outer join
    solo = topk.join(
        F.broadcast(matched.select("doc_id")), "doc_id", "left_anti"
    ).withColumn("_ckey", F.lit(None).cast(matched.schema["_ckey"].dataType))
    hits = matched.unionByName(solo)
    cid = F.coalesce(
        F.col("_ckey").cast("string"),
        F.concat(F.lit("\x00solo:"), F.col("doc_id").cast("string")),
    )
    w = Window.partitionBy(cid).orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    out = (
        hits.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .withColumnRenamed("_ckey", key_col)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )
    return out.limit(k) if k is not None else out


def collapse_inner_hits(
    collapsed: DataFrame,
    scored: DataFrame,
    keys: DataFrame,
    key_col: str,
    n: int = 3,
) -> DataFrame:
    """ES collapse ``inner_hits``: for every collapse key on the
    collapsed page, the group's top-``n`` docs from the FULL scored
    match set (ES computes inner_hits against the whole hit set, not
    the collapse window — "show 3 more from this site"). Output
    ``(<key_col>, rank, doc_id, score)``, rank 1 = the group's best
    (which is the doc the collapsed page shows).

    Scale shape: the page's key set (≤ k rows) broadcasts into the
    corpus-sized key table, pruning it to page groups before the
    scored join; the rank window partitions by key over matched group
    members only — df-proportional worst case, the same bound as
    top_hits. Solo results (docs with no key row) have no group to
    expand and are skipped."""
    from pyspark.sql import Window

    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    page_keys = (
        collapsed.where(F.col(key_col).isNotNull())
        .select(key_col)
        .distinct()
    )
    members = keys.select("doc_id", key_col).join(
        F.broadcast(page_keys), key_col
    )
    sc = scored.select("doc_id", "score").join(members, "doc_id")
    w = Window.partitionBy(key_col).orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        sc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(n))
        .select(key_col, "rank", "doc_id", "score")
        .orderBy(key_col, "rank")
    )


def materialize(topk: DataFrame, documents: DataFrame) -> DataFrame:
    """Join top-k ids back to the corpus — the analog of the reference's
    sequential per-doc HDFS JSON fetch (search.service.js:66-83), as a
    single broadcast semi-materialization instead of k round trips."""
    return documents.join(F.broadcast(topk), "doc_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )


def materialize_with_snippets(
    topk: DataFrame,
    documents: DataFrame,
    query_terms: list[str],
    width: int = 40,
    text_col: str = "text",
    mark: tuple[str, str] | None = None,
) -> DataFrame:
    """Materialize top-k docs with a result snippet around the first
    query-term occurrence — what a search UI renders instead of raw
    text. Pure built-in expressions (instr/substring on the k joined
    rows), no Python: the snippet window is ±``width`` chars around the
    earliest case-insensitive match, or the document head when the
    match came through a synonym/phrase the raw text spells differently.
    Adds ``snippet`` and ``match_pos`` (1-based, 0 = head fallback).

    ``mark=(pre, post)`` additionally wraps every whole-word,
    case-insensitive query-term occurrence inside the snippet — the
    highlight pass stays a single JVM ``regexp_replace`` over the k
    snippet strings, never the corpus.
    """
    lowered = F.lower(F.col(text_col))
    pos_cols = [
        F.nullif(F.instr(lowered, t.lower()), F.lit(0))
        for t in query_terms
        if t
    ]
    if not pos_cols:
        first_pos = F.lit(None).cast("int")
    elif len(pos_cols) == 1:
        first_pos = pos_cols[0]
    else:
        first_pos = F.least(*pos_cols)
    start = F.greatest(F.coalesce(first_pos, F.lit(1)) - F.lit(width), F.lit(1))
    snippet = F.col(text_col).substr(start, F.lit(2 * width))
    if mark is not None:
        import re as _re

        alt = "|".join(
            _re.escape(t.lower()) for t in dict.fromkeys(query_terms) if t
        )
        pre, post = mark
        if alt:
            snippet = F.regexp_replace(
                snippet,
                f"(?i)\\b({alt})\\b",
                f"{pre}$1{post}",
            )
    out = documents.join(F.broadcast(topk), "doc_id").select(
        "*",
        snippet.alias("snippet"),
        F.coalesce(first_pos, F.lit(0)).alias("match_pos"),
    )
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc())


# ---------------------------------------------------------------------------
# More-like-this and score explain
# ---------------------------------------------------------------------------





EXPLAIN_SCHEMA = (
    "term string, tf long, df long, idf double, contribution double"
)










# ---------------------------------------------------------------------------
# Lazy re-exports (round 4): these subsystems moved to sibling modules
# for file-size hygiene; importing them from query_exec keeps working
# (PEP 562). Lazy so the submodules' own `from .query_exec import ...`
# never cycles at import time.
# ---------------------------------------------------------------------------

_LAZY_EXPORTS = {'_federated_plan': 'federated', '_segment_after': 'federated', 'search_topk_segments_rows': 'federated', 'search_topk_segments': 'federated', 'search_topk_segments_batch': 'federated', '_phrase_pairs': 'phrase', 'phrase_search': 'phrase', 'near_search': 'phrase', 'phrase_prefix_search': 'phrase', 'facet_counts': 'facets', 'histogram_facets': 'facets', 'range_facets': 'facets', 'stats_facet': 'facets', 'percentiles_facet': 'facets', 'cardinality_facet': 'facets', 'top_hits_facet': 'facets', 'suggest_terms': 'term_expand', 'suggest_terms_dataframe': 'term_expand', '_edit_distance': 'term_expand', 'fuzzy_terms': 'term_expand', 'fuzzy_terms_dataframe': 'term_expand', 'fuzzy_search_topk': 'term_expand', 'expand_terms': 'term_expand', 'wildcard_search': 'term_expand', 'expand_terms_regexp': 'term_expand', 'regexp_search': 'term_expand', 'prefix_search': 'term_expand', 'more_like_this_terms': 'explain_mlt', 'more_like_this': 'explain_mlt', 'explain_hits': 'explain_mlt', 'explain_score': 'explain_mlt', 'snippet_fragments': 'explain_mlt', 'snippet_fragments_analyzed': 'explain_mlt'}


def __getattr__(name: str):
    target = _LAZY_EXPORTS.get(name)
    if target is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    mod = importlib.import_module(f".{target}", __package__)
    return getattr(mod, name)

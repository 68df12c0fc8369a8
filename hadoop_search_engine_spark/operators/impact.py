"""Impact-ordered champion lists ("top docs") — rank-identical safe
pruning for disjunctive head-term queries.

The 12M-doc query-algorithm audit (BENCH.md, round 4) measured the
honest limit of both existing scorers on disjunctive head-term
queries: dense decodes EVERY posting of every query term (cost ∝
total df — ~1 s/query at 12M docs), and block-max WAND degrades to
worse-than-dense because head terms have near-uniform block maxima
(theta never clears a segment bound). The classical fix — impact
ordering / static index pruning (Anh & Moffat's impact-sorted
indexes; Lucene's index-time ``top docs`` used by
``IndexSearcher``'s early-exit) — is a build-time sidecar holding,
per head term, the M postings with the LARGEST possible score
contribution plus a certified upper bound on every posting it left
out. A query then scores only the union of its terms' champions
(O(M · terms) instead of O(df · terms)) and uses the stored bounds to
PROVE the result equals the exhaustive ranking — falling back to the
dense scorer whenever the proof fails, so the path is rank- AND
score-identical to ``search_topk`` by construction, never "usually
right".

Reference parity note: the reference engine scores nothing (posting-
order results, server/src/services/search.service.js:62-83), so this
is pure capability headroom on the SURVEY §2.6 ranking path; the
north rule's rank-identical contract is what forces the safe (proof-
or-fallback) formulation.

Exactness argument (why the pruned result is bit-identical):

* Every term contribution the sidecar can produce is computed by the
  SAME float ops as the dense scorer (``idf * _partial(tf, dl)``
  elementwise, accumulated in ascending term order), on (tf, dl)
  pairs read from the index — so any doc whose full term set is
  resolved scores bit-identically to the dense accumulator.
* For each champion term, ``rest_bound`` ≥ the BM25 partial of every
  NON-champion posting of that term (monotone in tf up / dl down, so
  the stored ``(rest_max_tf, rest_min_dl)`` pair also bounds a
  query-time (k1, b) override WITHIN the model's defined range —
  k1 ≥ 0, 0 ≤ b ≤ 1; out-of-range tunings break the monotonicity the
  bound rests on and fall back to the dense scorer).
* Let theta = the k-th best lower-bound score among seen docs (docs
  on ≥ 1 champion/full list; LB sums their known contributions).
  A doc on NO list scores ≤ Σ_t idf_t · rest_bound_t = rest_sum; if
  rest_sum < theta (strict), no unseen doc can reach the top k.
  A seen doc's score ≤ UB = LB + Σ over champion terms it is absent
  from of idf · rest_bound; docs with UB < theta cannot reach the
  top k either. Every surviving candidate gets its unknown (doc,
  term) pairs resolved EXACTLY by probing the posting block covering
  that doc_id (one block decode per probe — the postings are doc_id-
  sorted with block-level ``first_doc_id`` fences, the same seek WAND
  uses). The exact top k over candidates then dominates theta, which
  strictly dominates everything excluded — so it IS the global top k,
  with exact scores. Any failed precondition returns ``None`` and the
  caller runs the dense scorer.

Scale shape (the 100 TB question): the sidecar build is one pass over
the already-built postings (never the corpus), cogrouped by shard —
per-(term, shard) work is bounded by ``shard_span`` exactly like the
encode wave, local top-M selection happens map-side, and only
``min(df, M)``-sized candidate sets shuffle on ``term_hash`` (the
head terms that NEED champions are ≤ total_tokens / df_min many, so
the sidecar is vocabulary-head-sized, not corpus-sized). Query cost
is O(M · terms) decode-free driver work plus a handful of single-
block probes — independent of df, which is the point: at 10^12 docs
a head term's df grows 10^6× but M stays fixed.

No reference-code correspondence: the reference has no ranking or
pruning layer at all (README.md:338-436 builds word counts; the JS
server replays posting order).
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import codec
from .index_build import POSTINGS_SCHEMA, read_parquet_tolerant
from .query_exec import (
    DOC_STATS_SCHEMA,
    TOPK_SCHEMA,
    Index,
    _empty_df,
    _partial,
    _postings_entries,
    _resolve_query,
    _topk_pairs,
)

__all__ = [
    "build_impact_lists",
    "ImpactLists",
    "ImpactRefused",
    "impact_topk",
    "impact_topk_batch_rows",
    "impact_topk_rows",
]


class ImpactRefused(ValueError):
    """The champion-list proof could not certify this query AND no
    driver fallback exists (index past the driver norms limit). The
    distributed dense scorer (``search_topk(serving='spark')``) is
    the exact path left. A dedicated type so callers — including
    :func:`impact_topk` — never confuse this deliberate refusal with
    a genuine error (malformed query, corrupt block) that must
    propagate."""


def _member(sorted_arr: np.ndarray, targets: np.ndarray):
    """Membership of ``targets`` in ``sorted_arr`` (both int64,
    sorted-unique arr): returns ``(mask, pos)`` where ``mask[i]``
    says targets[i] is present and ``pos[i]`` is its searchsorted
    slot (clamp-guarded — an out-of-range slot compares against the
    last element, never indexes past it). One definition for the
    clamped-searchsorted idiom this module leans on everywhere."""
    n = sorted_arr.shape[0]
    pos = np.searchsorted(sorted_arr, targets)
    if n == 0:
        return np.zeros(targets.shape[0], dtype=bool), pos
    mask = (pos < n) & (sorted_arr[np.minimum(pos, n - 1)] == targets)
    return mask, pos


class _TermEntry(NamedTuple):
    """One query term's resolved state inside the proof loop."""

    docs: np.ndarray      # doc_ids ascending
    contrib: np.ndarray   # exact idf-weighted BM25 contributions
    rest: float           # certified cap on any posting NOT in docs
    tf: np.ndarray
    full: bool            # docs IS the complete posting list
    th: int               # term hash
    idf: float
    dl: np.ndarray        # float64 doc lengths aligned to docs
    df: int

# Sidecar layout: {out_dir}/impact/bucket=*/part-*.parquet — one row
# per head term, champion postings as parallel arrays sorted by
# doc_id so the query side can searchsorted-join them. bucket =
# pmod(term_hash, n_buckets) mirrors the postings layout, so the
# driver's pyarrow reads prune at the file listing the same way.
IMPACT_SCHEMA = (
    "term_hash long, df long, n_stored int, rest_bound double, "
    "rest_max_tf long, rest_min_dl long, doc_ids array<long>, "
    "tfs array<long>, dls array<long>, bucket int"
)

_LOCAL_SCHEMA = (
    "term_hash long, is_sum int, doc_id long, tf long, dl long, "
    "impact double, rest_local double, max_tf long, min_dl long, "
    "df_local long"
)

# underscore-prefixed so both Spark's parquet reader and pyarrow
# dataset discovery (ignore_prefixes ["_", "."]) skip it as data
_META_NAME = "_impact_meta.json"


def _meta_path(out_dir: str) -> str:
    return os.path.join(out_dir, "impact", _META_NAME)


def build_impact_lists(
    index: Index,
    m: int = 1024,
    df_min: int | None = None,
) -> dict:
    """Build the champion-list sidecar for ``index`` (overwrites any
    prior one). ``m`` = champions kept per term; ``df_min`` = only
    terms with df ≥ df_min get a sidecar row (default ``4 * m`` —
    below that the dense decode is already cheaper than any pruning
    bookkeeping, and the full posting list rides the postings LRU).

    One distributed pass over the postings table (the corpus is never
    touched): cogroup postings × doc_stats by shard, decode each head
    term's blocks, select the shard-local top-M postings by BM25
    partial (idf-free — idf is a per-term constant, so per-term
    ranking by partial equals ranking by contribution), then reduce
    the ≤ M·num_shards candidates per term to the global top M. The
    per-shard pass also records the max partial it EXCLUDED plus the
    term's (max_tf, min_dl) over the whole shard; the global
    ``rest_bound`` is the max over excluded candidates and every
    shard's excluded max — the certified cap on what any non-champion
    posting of the term can contribute.

    Returns a summary dict (terms, rows, path).
    """
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    df_min = 4 * m if df_min is None else int(df_min)
    spark = index.spark
    stats = index.stats
    out_dir = index.out_dir
    span = stats.shard_span
    k1, b, avgdl = stats.k1, stats.b, stats.avgdl

    head = index.lexicon.where(F.col("df") >= df_min).select("term_hash")
    post = read_parquet_tolerant(
        spark, os.path.join(out_dir, "postings"), POSTINGS_SCHEMA
    ).select(
        "term_hash", "shard", "block_id", "first_doc_id", "doc_ids",
        "tfs", "n_docs",
    )
    # the head-term set is vocabulary-head-sized (≤ total_tokens /
    # df_min distinct terms can have df ≥ df_min) — broadcast it so
    # the postings scan prunes map-side with no shuffle
    post = post.join(F.broadcast(head), "term_hash")
    ds = read_parquet_tolerant(
        spark, os.path.join(out_dir, "doc_stats"), DOC_STATS_SCHEMA
    ).select("doc_id", "doc_len", "shard")

    def _local(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = [
            "term_hash", "is_sum", "doc_id", "tf", "dl", "impact",
            "rest_local", "max_tf", "min_dl", "df_local",
        ]
        if left.empty or right.empty:
            return pd.DataFrame(columns=cols)
        base = int(left["shard"].iat[0]) * span
        dl = np.zeros(span, dtype=np.float64)
        ridx = right["doc_id"].to_numpy(np.int64) - base
        dl[ridx] = right["doc_len"].to_numpy(np.float64)
        frames: list[pd.DataFrame] = []
        for th, grp in left.groupby("term_hash"):
            d, t, _ = codec.decode_blocks(
                grp["doc_ids"].tolist(), grp["tfs"].tolist(),
                grp["n_docs"].to_numpy(np.int64),
                grp["first_doc_id"].to_numpy(np.int64),
            )
            dls = dl[d - base]
            imp = _partial(t, dls, k1, b, avgdl)
            n = d.shape[0]
            if n > m:
                # local top-M by (impact desc, doc_id asc); the max
                # excluded partial is the (M+1)-th largest VALUE,
                # independent of the tie order
                order = np.lexsort((d, -imp))[:m]
                rest_local = float(np.sort(imp)[::-1][m])
            else:
                order = np.arange(n)
                rest_local = -1.0
            nf = order.shape[0]
            frames.append(pd.DataFrame({
                "term_hash": np.full(nf + 1, int(th), dtype=np.int64),
                "is_sum": np.concatenate(
                    [np.zeros(nf, dtype=np.int32), np.ones(1, np.int32)]
                ),
                "doc_id": np.concatenate([d[order], [-1]]),
                "tf": np.concatenate([t[order], [0]]),
                # champion doc lengths ride along so serving needs NO
                # driver-pinned doc-norms array (the sidecar is self-
                # contained past DL_BROADCAST_MAX_DOCS)
                "dl": np.concatenate(
                    [dls[order].astype(np.int64), [0]]
                ),
                "impact": np.concatenate([imp[order], [0.0]]),
                "rest_local": np.concatenate(
                    [np.zeros(nf), [rest_local]]
                ),
                "max_tf": np.concatenate(
                    [np.zeros(nf, np.int64), [int(t.max())]]
                ),
                "min_dl": np.concatenate(
                    [np.zeros(nf, np.int64), [int(dls.min())]]
                ),
                "df_local": np.concatenate(
                    [np.zeros(nf, np.int64), [n]]
                ),
            }))
        return pd.concat(frames, ignore_index=True) if frames else (
            pd.DataFrame(columns=cols)
        )

    local = (
        post.groupBy("shard")
        .cogroup(ds.groupBy("shard"))
        .applyInPandas(_local, _LOCAL_SCHEMA)
    )

    n_buckets = stats.n_buckets

    def _merge(g: pd.DataFrame) -> pd.DataFrame:
        th = int(g["term_hash"].iat[0])
        sums = g[g["is_sum"] == 1]
        cand = g[g["is_sum"] == 0]
        d = cand["doc_id"].to_numpy(np.int64)
        t = cand["tf"].to_numpy(np.int64)
        dls = cand["dl"].to_numpy(np.int64)
        imp = cand["impact"].to_numpy(np.float64)
        df_total = int(sums["df_local"].sum())
        if d.shape[0] > m:
            order = np.lexsort((d, -imp))[:m]
            rest_cand = float(np.sort(imp)[::-1][m])
        else:
            order = np.arange(d.shape[0])
            rest_cand = -1.0
        rest = max(rest_cand, float(sums["rest_local"].max()))
        if rest < 0.0:
            rest = 0.0  # every posting is a champion (df_total <= m)
        d, t, dls = d[order], t[order], dls[order]
        ds_order = np.argsort(d)  # store doc_id-ascending
        return pd.DataFrame({
            "term_hash": [th],
            "df": [df_total],
            "n_stored": [int(d.shape[0])],
            "rest_bound": [rest],
            "rest_max_tf": [int(sums["max_tf"].max())],
            "rest_min_dl": [int(sums["min_dl"].min())],
            "doc_ids": [d[ds_order].tolist()],
            "tfs": [t[ds_order].tolist()],
            "dls": [dls[ds_order].tolist()],
            "bucket": [th % n_buckets],
        })

    out_path = os.path.join(out_dir, "impact")
    (
        local.groupBy("term_hash")
        .applyInPandas(_merge, IMPACT_SCHEMA)
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_path)
    )
    # metadata-only row count (parquet footers), no Spark job — the
    # same pattern Index.tombstone_count uses
    try:
        import pyarrow.dataset as pads

        n_terms = int(
            pads.dataset(out_path, format="parquet",
                         partitioning="hive").count_rows()
        )
    except Exception:  # noqa: BLE001 - zero-row write leaves no files
        n_terms = 0
    meta = {
        "m": int(m),
        "df_min": int(df_min),
        "k1": float(k1),
        "b": float(b),
        "avgdl": float(avgdl),
        "n_docs": int(stats.n_docs),
        "num_shards": int(stats.num_shards),
        "shard_span": int(stats.shard_span),
        "n_terms": int(n_terms),
    }
    tmp = _meta_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, _meta_path(out_dir))
    # a prior load may have cached "no sidecar" / an old sidecar on
    # this Index instance — invalidate so the next query sees this one
    index._impact_cache = None
    return {"terms": int(n_terms), "m": m, "df_min": df_min,
            "path": out_path}


class ImpactLists:
    """Driver-side view of the champion sidecar: per-term rows read
    through a bucket-pruned pyarrow dataset and cached (the sidecar's
    head-term working set is tiny — min(df, M) ints per term)."""

    def __init__(self, index: Index, meta: dict):
        self.index = index
        self.meta = meta
        self._rows: dict[int, object] = {}
        self._ds = None

    @classmethod
    def load(cls, index: Index) -> "ImpactLists | None":
        """The index's sidecar, or None when absent or STALE. Validity
        is keyed to the index statistics the bounds were computed
        under — any doc added/vacuumed changes (n_docs, avgdl) and
        invalidates the proof, so a stale sidecar is ignored (the
        query path then falls back to dense), never trusted."""
        cached = getattr(index, "_impact_cache", None)
        if cached is not None:
            return cached if cached is not False else None
        p = _meta_path(index.out_dir)
        out = None
        if os.path.exists(p):
            with open(p) as f:
                meta = json.load(f)
            s = index.stats
            if (
                meta.get("n_docs") == s.n_docs
                and meta.get("num_shards") == s.num_shards
                and meta.get("shard_span") == s.shard_span
                and meta.get("avgdl") == s.avgdl
            ):
                out = cls(index, meta)
        index._impact_cache = out if out is not None else False
        return out

    def _dataset(self):
        if self._ds is None:
            import pyarrow.dataset as pads

            self._ds = pads.dataset(
                os.path.join(self.index.out_dir, "impact"),
                format="parquet",
                partitioning="hive",
            )
        return self._ds

    def rows_for(self, hashes) -> dict[int, object]:
        """{term_hash: sidecar row (pandas namedtuple)} for the probed
        hashes; absent terms (df < df_min at build) map to None and
        are cached as misses too."""
        import pyarrow.dataset as pads

        wanted = list(dict.fromkeys(int(h) for h in hashes))
        if not self.meta.get("n_terms"):
            # no term cleared df_min at build — an empty (hence
            # schema-less) parquet dir that cannot be filter-read
            return {h: None for h in wanted}
        missing = [h for h in wanted if h not in self._rows]
        if missing:
            nb = self.index.stats.n_buckets
            filt = pads.field("bucket").isin(
                sorted({h % nb for h in missing})
            ) & pads.field("term_hash").isin(missing)
            pdf = self._dataset().to_table(filter=filt).to_pandas()
            got = {
                int(r.term_hash): r
                for r in pdf.itertuples(index=False)
            }
            for h in missing:
                self._rows[h] = got.get(h)
        return {h: self._rows[h] for h in wanted}


def _dl_lookup(index: Index, doc_ids: np.ndarray) -> np.ndarray:
    """doc_len (float64) for ``doc_ids`` (sorted ascending) straight
    from the doc_stats parquet — shard dirs pruned at the listing,
    doc_id a row-group min/max filter. The beyond-driver-limit analog
    of ``Index.dl_array()`` for the few docs a query actually touches
    (full-decoded low-df terms; champions carry their dl in the
    sidecar)."""
    out = np.zeros(doc_ids.shape[0], dtype=np.float64)
    if doc_ids.shape[0] == 0:
        return out
    import pyarrow.dataset as pads

    ds = pads.dataset(
        os.path.join(index.out_dir, "doc_stats"),
        format="parquet",
        partitioning="hive",
    )
    span = index.stats.shard_span
    shards = sorted({int(s) for s in np.unique(doc_ids // span)})
    filt = pads.field("shard").isin(shards) & pads.field("doc_id").isin(
        [int(x) for x in doc_ids]
    )
    t = ds.to_table(filter=filt, columns=["doc_id", "doc_len"]).to_pandas()
    if len(t):
        pos = np.searchsorted(doc_ids, t["doc_id"].to_numpy(np.int64))
        out[pos] = t["doc_len"].to_numpy(np.float64)
    return out


def _probe_tf(
    index: Index, th: int, want: np.ndarray, direct: bool = False
) -> np.ndarray:
    """Exact tf of ``want`` doc_ids (sorted ascending) in term
    ``th``'s postings — 0 where the doc does not contain the term.
    Decodes ONLY the blocks whose ``[first_doc_id, next_first)`` fence
    covers a probed id (the same doc_id-sorted seek WAND's block
    iterator uses), so a probe costs one ~block_size varint decode,
    not a df-sized one.

    ``direct`` (the beyond-norms-limit serving mode): fetch posting
    rows through a shard-filtered pyarrow read — the files are sorted
    by term_hash, so row-group statistics limit it to the row groups
    holding the term, only the rows of the shards a probed doc lives
    in are kept, and ``positions`` (on a positional index the largest
    column, never needed for a tf) is projected away as a null column
    — split by the same :func:`~.query_exec._postings_entries`,
    instead of the per-term LRU (which pulls the term's WHOLE
    df-sized postings and its row-group range; fine on a hot serving
    node with pinned norms, wrong past the driver limit where df can
    be corpus-scale)."""
    out = np.zeros(want.shape[0], dtype=np.int64)
    if want.shape[0] == 0:
        return out
    if direct:
        import pyarrow as pa
        import pyarrow.dataset as pads

        nb = index.stats.n_buckets
        wshards = sorted(
            {int(s) for s in np.unique(want // index.stats.shard_span)}
        )
        filt = (
            (pads.field("bucket") == int(th) % nb)
            & (pads.field("term_hash") == int(th))
            & pads.field("shard").isin(wshards)
        )
        t = index._postings_dataset().to_table(
            filter=filt,
            columns=["term_hash", "shard", "block_id", "n_bytes",
                     "first_doc_id", "n_docs", "doc_ids", "tfs",
                     "max_tf", "min_dl"],
        )
        t = t.append_column("positions", pa.nulls(t.num_rows))
        p = _postings_entries(t, [int(th)])[int(th)]
    else:
        p = index.postings_rows_by_term([th])[int(th)]
    wshard = want // index.stats.shard_span
    for s in np.unique(wshard):
        blocks = p.shards.get(int(s))
        if blocks is None:
            continue
        fi = blocks.first_doc_id  # (shard, block_id) order: ascending
        wmask = wshard == s
        w = want[wmask]
        widx = np.flatnonzero(wmask)
        bi = np.searchsorted(fi, w, side="right") - 1
        for blk in np.unique(bi):
            if blk < 0:
                continue
            n = int(blocks.n_docs[blk])
            d = codec.decode_doc_ids(
                bytes(blocks.doc_ids[blk]), n=n, base=int(fi[blk])
            )
            t = codec.decode_tfs(bytes(blocks.tfs[blk]), n=n)
            wb = np.flatnonzero(bi == blk)
            ok, pos = _member(d, w[wb])
            out[widx[wb[ok]]] = t[pos[ok]]
    return out


def _impact_pairs(
    index: Index,
    ordered_terms: list[tuple[int, str, float]],
    k: int,
    stats,
    imp: ImpactLists,
    exclude: np.ndarray | None = None,
    info: dict | None = None,
) -> list[tuple[int, float]] | None:
    """The safe pruned top-k, or None when the proof fails (caller
    falls back to dense). See the module docstring for the exactness
    argument; every returned score is computed by the dense scorer's
    own float ops in the same per-doc accumulation order."""
    arr = index.dl_array()  # None past DL_BROADCAST_MAX_DOCS
    if k < 1:
        return None
    k1, b, avgdl = stats.k1, stats.b, stats.avgdl
    meta = imp.meta
    params_match = (k1 == meta["k1"] and b == meta["b"])
    if not params_match and not (k1 >= 0.0 and 0.0 <= b <= 1.0):
        # the parameter-free (rest_max_tf, rest_min_dl) bound relies
        # on the BM25 partial being monotone tf-up / dl-down, which
        # holds for k1 >= 0 and b in [0, 1] (the model's defined
        # range) — b > 1 can flip the denominator's sign and break
        # the bound silently. Out-of-range tunings fall back to the
        # dense scorer, which computes whatever was asked exactly.
        return None
    rows = imp.rows_for([h for h, _, _ in ordered_terms])
    need_full = [h for h, _, _ in ordered_terms if rows.get(h) is None]
    full_postings = (
        index.postings_rows_by_term(need_full) if need_full else {}
    )

    def _full_entry(th: int, idf: float, p) -> "_TermEntry | None":
        """A term's complete posting list as a per_term entry (exact,
        rest = 0) — the initial shape for sub-df_min terms and the
        progressive-expansion shape for champion terms whose bound
        blocked the proof."""
        if p is None or not p.shards:
            return None
        # blocks in (shard, block_id) order: doc_ids already ascend
        d, t, _ = p.blocks.decode()
        dl_vec = arr[d] if arr is not None else _dl_lookup(index, d)
        contrib = idf * _partial(t, dl_vec, k1, b, avgdl)
        return _TermEntry(d, contrib, 0.0, t, True, th, idf, dl_vec,
                          int(d.shape[0]))

    # per-term entries in ascending term order (= ordered_terms order)
    per_term: list[_TermEntry] = []
    for th, _term, idf in ordered_terms:
        r = rows.get(th)
        if r is None:
            e = _full_entry(th, idf, full_postings.get(th))
            if e is not None:
                per_term.append(e)
            continue  # absent: lexicon hit with no postings rows
        d = np.asarray(r.doc_ids, dtype=np.int64)
        t = np.asarray(r.tfs, dtype=np.int64)
        if arr is not None:
            dl_vec = arr[d]
        elif hasattr(r, "dls"):
            # self-contained serving past the driver norms limit:
            # champion doc lengths ship in the sidecar (exact ints,
            # identical float64s to the dl array they substitute)
            dl_vec = np.asarray(r.dls, dtype=np.float64)
        else:
            return None  # pre-dls sidecar and no dl array
        full = int(r.n_stored) >= int(r.df)
        if full:
            rest = 0.0
        else:
            rest_part = (
                float(r.rest_bound) if params_match
                else float(_partial(
                    np.asarray([r.rest_max_tf], dtype=np.int64),
                    np.asarray([float(r.rest_min_dl)]),
                    k1, b, avgdl,
                )[0])
            )
            rest = idf * rest_part
        contrib = idf * _partial(t, dl_vec, k1, b, avgdl)
        per_term.append(_TermEntry(d, contrib, rest, t, full, th, idf,
                                   dl_vec, int(r.df)))

    if not per_term:
        # champion path DID serve this (empty) answer: every term was
        # absent or had no postings — no fallback ran
        if info is not None:
            info.update(used=True, seen=0, candidates=0, probes=0,
                        expanded=0, mode="full")
        return []

    # proof loop with PROGRESSIVE EXPANSION: when the bounds cannot
    # certify the page (rest_sum too big vs theta, or fewer seen docs
    # than k), fully decode the champion term with the LARGEST rest —
    # its rest drops to 0 exactly — and retry. Each expansion costs
    # what the dense scorer would have paid for that one term anyway,
    # so the worst case (every term expanded) converges to the exact
    # full-match-set evaluation instead of abandoning the work done;
    # the best case stays champion-only. Expansion needs the driver
    # norms array (a df-sized dl probe would defeat the point past
    # the driver limit), so the beyond-limit mode keeps strict
    # proof-or-refuse semantics.
    expansions = 0
    while True:
        all_docs = np.unique(np.concatenate([e.docs for e in per_term]))
        if exclude is not None and exclude.size:
            dead, _ = _member(exclude, all_docs)
            all_docs = all_docs[~dead]
        n = all_docs.shape[0]
        all_full = all(e.full for e in per_term)
        if n == 0:
            if all_full:
                # genuinely nothing matches (or every match is
                # tombstoned) — an exact empty page
                if info is not None:
                    info.update(used=True, seen=0, candidates=0,
                                probes=0, expanded=expansions,
                                mode="full" if not expansions
                                else "pruned")
                return []
            # tombstones can cover every CHAMPION of a term while
            # live non-champion postings still match — no seen doc
            # to anchor a proof, so this page MUST NOT be answered
            # from champions (returning [] here was a silent-wrong-
            # empty bug). Expand below, or concede to dense.
            theta = None
        else:
            LB = np.zeros(n, dtype=np.float64)
            # rest of the UB accumulates ADDITIVELY over the terms a
            # doc is absent from — never as rest_sum minus the
            # present ones: fl((a+b) - a - b) is one ULP of NEGATIVE,
            # which once put the top-1 doc's UB an ULP below its own
            # LB (= theta) and excluded it
            rest_absent = np.zeros(n, dtype=np.float64)
            rest_sum = 0.0
            # doc -> dl map aligned to all_docs, needed only when no
            # driver norms array exists (candidate probes below)
            dl_all = None if arr is not None else np.zeros(n, np.float64)
            for e in per_term:
                ok, pos = _member(all_docs, e.docs)
                p = pos[ok]
                LB[p] += e.contrib[ok]
                if dl_all is not None:
                    dl_all[p] = e.dl[ok]
                if e.rest > 0.0:
                    rest_sum += e.rest
                    absent = np.ones(n, dtype=bool)
                    absent[p] = False
                    rest_absent[absent] += e.rest
        if n and all_full:
            # every posting of every term is decoded: LB IS the exact
            # dense score for the complete match set
            if info is not None:
                info.update(used=True, seen=int(n), candidates=int(n),
                            probes=0, expanded=expansions,
                            mode="full" if not expansions else "pruned")
            return _topk_pairs(all_docs, LB, k)
        theta = None
        if n and n >= k:
            sel = np.lexsort((all_docs, -LB))[:k]
            theta = float(LB[sel[-1]])
            # deterministic safety slack: a doc's true float score
            # folds its term contributions INTERLEAVED in ascending
            # term order, while the bounds here fold known
            # contributions first and absent-term rests after — float
            # reordering can differ by ULPs, so every bound comparison
            # concedes a margin vastly above that error
            # (≤ ~n_terms² · eps · score). Slack only widens the
            # candidate set / forces expansion — exactness never
            # depends on it.
            slack = 1e-9 * (1.0 + abs(theta))
            if rest_sum + slack < theta:
                # proof holds. Before probing, bound the probe bill: a
                # barely-passing proof on head terms can admit a
                # candidate set of hundreds of thousands of docs, and
                # per-candidate block probes then cost FAR more than
                # finishing the decode (measured at 12M docs: 800k
                # probes → 16 s vs 1.8 s dense). If the estimated
                # probe count exceeds the budget, expand the worst
                # term instead — each expansion removes that term
                # from the probe bill entirely and the loop converges
                # to the exact zero-probe full evaluation.
                cand = (LB + rest_absent + slack) >= theta
                cdocs = all_docs[cand]
                est = 0
                for e in per_term:
                    if e.full:
                        continue
                    present, _ = _member(e.docs, cdocs)
                    est += int((~present).sum())
                if est <= max(4096, 64 * k) or arr is None:
                    # arr is None: beyond-limit mode cannot expand (a
                    # df-sized dl probe defeats the point) — probing
                    # is the exact path available, whatever it costs
                    break
        # proof failed (or passed too probe-heavy): expand, or concede.
        # Expansion is only a win when the term is CHEAP to finish —
        # decoding a multi-million-df head term builds a sorted union
        # the dense scorer's direct-address accumulators beat 8x
        # (measured at 12M), so past the df cap the honest move is the
        # dense fallback (the round-4 audit's measured optimum for
        # disjunctive head queries). Within the cap (mid/tail terms
        # whose decode costs about a champion pass), killing the
        # term's rest often certifies the head terms' champions.
        if arr is None:
            return None  # beyond-limit mode: proof-or-refuse
        cap = 16 * int(meta["m"])
        eligible = [
            i for i, e in enumerate(per_term)
            if not e.full and e.df <= cap
        ]
        if not eligible:
            return None  # only expensive terms left: dense wins there
        worst = max(eligible, key=lambda i: per_term[i].rest)
        th_w, idf_w = per_term[worst].th, per_term[worst].idf
        e = _full_entry(th_w, idf_w,
                        index.postings_rows_by_term([th_w]).get(th_w))
        if e is None:
            return None  # sidecar/postings disagree — refuse, not guess
        per_term[worst] = e
        expansions += 1

    cand_mask = (LB + rest_absent + slack) >= theta
    cand_docs = all_docs[cand_mask]
    cand_dl = None if dl_all is None else dl_all[cand_mask]
    nc = cand_docs.shape[0]
    score = np.zeros(nc, dtype=np.float64)
    probes = 0
    if nc and arr is not None:
        # warm the per-term postings LRU in ONE dataset read for every
        # term the probe loop below may touch (the same batching the
        # sub-df_min path uses), instead of one read per term
        probe_ths = [e.th for e in per_term if not e.full]
        if probe_ths:
            index.postings_rows_by_term(probe_ths)
    for e in per_term:
        present, pos = _member(e.docs, cand_docs)
        score[present] += e.contrib[pos[present]]
        if not e.full:
            miss_idx = np.flatnonzero(~present)
            if miss_idx.size:
                miss_docs = cand_docs[miss_idx]
                tf_m = _probe_tf(index, e.th, miss_docs,
                                 direct=arr is None)
                probes += int(miss_idx.size)
                nz = tf_m > 0
                if nz.any():
                    dl_m = (
                        arr[miss_docs[nz]] if cand_dl is None
                        else cand_dl[miss_idx[nz]]
                    )
                    score[miss_idx[nz]] += e.idf * _partial(
                        tf_m[nz], dl_m, k1, b, avgdl
                    )
    if info is not None:
        info.update(used=True, seen=int(n), candidates=int(nc),
                    probes=probes, expanded=expansions, mode="pruned")
    return _topk_pairs(cand_docs, score, k)


def impact_topk_rows(
    index: Index,
    query_text: str,
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    k1: float | None = None,
    b: float | None = None,
    info: dict | None = None,
) -> list[tuple[int, float]]:
    """Driver-served disjunctive top-k through the champion sidecar.
    When the champion bounds cannot certify the page, the proof loop
    EXPANDS (fully decodes the worst-bounded term and retries — each
    expansion costs what dense would have paid for that term, so the
    degenerate case converges to the exact full evaluation, not to
    wasted work), and only drops to the dense driver scorer for
    structural reasons (no/stale sidecar, tombstone set past the
    driver limit, pre-dls sidecar past the norms limit). Rank- and
    score-identical to ``search_topk_rows`` always — the sidecar
    changes the work, never the answer.

    Past ``DL_BROADCAST_MAX_DOCS`` (no driver doc-norms array — the
    10^12-doc serving-node regime where the dense rows path must
    refuse) the sidecar serves self-contained: champion doc lengths
    ship in its rows, sub-df_min terms resolve theirs through a
    pruned doc_stats read, and expansion is disabled (proof-or-
    refuse) because a df-sized dl probe would defeat the point; an
    uncertified query raises with the distributed alternative named.

    ``info`` (optional dict) reports what happened: ``used``,
    ``mode`` ("pruned" / "full" / "fallback"), ``seen`` /
    ``candidates`` / ``probes`` / ``expanded`` counters."""
    from .query_exec import search_topk_rows

    if info is not None:
        info.clear()
        info.update(used=False, mode="fallback", seen=0, candidates=0,
                    probes=0)
    pairs = _try_impact_rows(index, query_text, k, synonyms, k1=k1, b=b,
                             info=info)
    if pairs is not None:
        return pairs
    if info is not None:
        info.update(used=False, mode="fallback")
    if index.dl_array() is None:
        raise ImpactRefused(
            f"index has {index.stats.n_docs} docs (> driver norms "
            "limit) and the champion-list proof did not certify this "
            "query: use search_topk(serving='spark') (distributed "
            "dense scorer), or rebuild the sidecar with a larger m"
        )
    return search_topk_rows(index, query_text, k, synonyms,
                            algorithm="dense", k1=k1, b=b)


def _try_impact_rows(
    index: Index,
    query_text: str,
    k: int,
    synonyms: dict[str, str] | None,
    k1: float | None = None,
    b: float | None = None,
    info: dict | None = None,
) -> list[tuple[int, float]] | None:
    """The champion ATTEMPT alone: the served page (possibly an exact
    empty one) when the proof certifies, None when it cannot — the
    caller picks the fallback (single-query dense, the shared-decode
    dense batch, or a refusal). Works with OR without the driver
    doc-norms array: champion dls ship in the sidecar, full-decoded
    sub-df_min terms resolve theirs through a pruned doc_stats
    read."""
    from .query_exec import TOMBSTONE_OVERFETCH_MAX

    stats, q = _resolve_query(index, query_text, synonyms, "or", "dense",
                              k1, b)
    if q is None:
        # no known term: the exact empty page, like dense — served
        # here, not by a fallback
        if info is not None:
            info.update(used=True, mode="full", seen=0, candidates=0,
                        probes=0, expanded=0)
        return []
    imp = ImpactLists.load(index)
    if imp is None:
        return None
    if index.tombstone_count() > TOMBSTONE_OVERFETCH_MAX:
        return None
    tomb = index.tombstone_array()
    return _impact_pairs(index, q.terms, k, stats, imp,
                         exclude=tomb, info=info)


def impact_topk_batch_rows(
    index: Index,
    queries: dict[str, str],
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    info: dict | None = None,
) -> dict[str, list[tuple[int, float]]]:
    """Batch serving through the champion sidecar: each query costs
    one O(M · terms) certification attempt; the UNCERTIFIED remainder
    is served as ONE shared-decode dense batch
    (:func:`~.query_exec.search_topk_batch_rows` — union-pruned
    postings read, per-shard decode shared across those queries), so
    the hard queries amortize each other instead of each paying a
    full dense pass. Per-query results are bit-identical to
    :func:`search_topk_rows` on either branch; queries with no hits
    map to no key (the batch-rows contract). ``info`` (optional)
    reports ``certified`` / ``dense_batch`` counts. Same driver
    gates as the dense batch for the fallback portion.

    Past the driver norms limit there is no dense fallback: if any
    query fails certification, :class:`ImpactRefused` names the
    refused query_ids (``.refused``) and carries the certified pages
    (``.certified``, ``{query_id: pairs}``), so neither is lost and a
    refused query never reads as a no-hit one."""
    from .query_exec import search_topk_batch_rows

    out: dict[str, list[tuple[int, float]]] = {}
    miss: dict[str, str] = {}
    certified = 0
    for qid, q in queries.items():
        got = _try_impact_rows(index, q, k, synonyms)
        if got is None:
            miss[qid] = q
            continue
        certified += 1
        if got:
            out[qid] = got
    if info is not None:
        info.clear()
        info.update(certified=certified, dense_batch=len(miss))
    if miss and index.dl_array() is None:
        err = ImpactRefused(
            f"index has {index.stats.n_docs} docs (> driver norms limit) "
            f"and the champion-list proof did not certify query_ids "
            f"{list(miss)}: use search_topk_batch(serving='spark') for "
            "them, or rebuild the sidecar with a larger m"
        )
        err.refused = list(miss)
        err.certified = out
        raise err
    if miss:
        out.update(search_topk_batch_rows(index, miss, k, synonyms))
    return out


def impact_topk(
    index: Index,
    query_text: str,
    k: int = 10,
    synonyms: dict[str, str] | None = None,
    k1: float | None = None,
    b: float | None = None,
    info: dict | None = None,
) -> DataFrame:
    """:func:`impact_topk_rows` wrapped back into the DataFrame
    contract (the ``search_topk`` shape). Indexes past the driver
    doc-norms limit fall back to the distributed dense scorer."""
    from .query_exec import search_topk

    try:
        pairs = impact_topk_rows(index, query_text, k, synonyms,
                                 k1=k1, b=b, info=info)
    except ImpactRefused:
        # beyond the driver norms limit AND the proof failed: the
        # distributed dense scorer is the only exact path left. ONLY
        # the deliberate refusal is caught — a malformed query or a
        # corrupt posting block must propagate, not be masked by a
        # silent distributed retry.
        if info is not None:
            info.clear()
            info.update(used=False, mode="fallback", seen=0,
                        candidates=0, probes=0)
        return search_topk(index, query_text, k, synonyms,
                           algorithm="dense", k1=k1, b=b)
    if not pairs:
        return _empty_df(index.spark, TOPK_SCHEMA)
    out = pd.DataFrame(pairs, columns=["doc_id", "score"]).astype(
        {"doc_id": "int64", "score": "float64"}
    )
    return index.spark.createDataFrame(out)

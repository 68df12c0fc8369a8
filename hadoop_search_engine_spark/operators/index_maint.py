"""Index maintenance: tombstone deletes and physical vacuum.

The reference engine has no delete path at all — removing a document
means rebuilding the whole index (its index is a one-shot MapReduce
artifact, README.md:423-427, served from an in-memory map). Here the
lifecycle follows the standard segment-index design (Lucene's
liveDocs-then-merge):

* :func:`delete_docs` records doc_ids in a small ``tombstones``
  parquet under the index dir. Queries exclude tombstoned docs at
  serving time; BM25 statistics (idf, avgdl, n_docs) stay those of
  the original build until vacuum — stale-stats-until-merge is the
  standard trade, and it keeps a delete O(|delete set|), never a
  corpus-sized job.
* :func:`vacuum_index` physically rewrites the posting blocks without
  the deleted docs and recomputes every statistic (doc_stats, stats
  header, term_stats, lexicon, checkpoint counters), after which
  query results are identical to a fresh build over the surviving
  corpus (tested rank- and score-identical).

Scale notes: the vacuum ships the tombstone set to executors as a
sorted int64 broadcast (8 bytes/id — fine to tens of millions of
deletes; vacuum regularly so the set stays "deletes since last
vacuum", not "all deletes ever"). Block rewrite is embarrassingly
parallel (mapInPandas over posting rows; one batched decode + one
sorted searchsorted probe per Arrow batch — O(B·log T), flat in the
tombstone count); untouched blocks are passed through without
re-encoding. The
rewritten tables land in ``<table>.vacuum`` staging dirs and are
swapped in with directory renames — single-writer maintenance, same
filesystem; on an object store you would write a new index generation
dir instead.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import codec
from .index_build import (
    _POSTINGS_COLUMNS,
    POSTINGS_SCHEMA,
    IndexStats,
    _commit_checkpoint,
    _write_lexicon,
    read_stats,
    write_stats,
)
from .query_exec import Index


def _tomb_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "tombstones")


def _swap_dir(tmp: str, dst: str) -> None:
    """Replace ``dst`` with ``tmp`` via renames (same filesystem)."""
    old = dst + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(dst):
        os.rename(dst, old)
    os.rename(tmp, dst)
    if os.path.exists(old):
        shutil.rmtree(old)


def _link_tree(src: str, dst: str, prefix: str) -> None:
    """Metadata-only ingest of a partitioned parquet dir: hardlink every
    data file into ``dst`` preserving the partition subdirs (copy2
    fallback across filesystems). ``prefix`` disambiguates file names
    across source segments. On an object store this would be a
    server-side copy / manifest append instead."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        tdir = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(tdir, exist_ok=True)
        for f in files:
            if f.startswith(("_", ".")):
                continue  # _SUCCESS / hidden markers
            s, t = os.path.join(root, f), os.path.join(tdir, prefix + f)
            try:
                os.link(s, t)
            except OSError:
                shutil.copy2(s, t)


def delete_docs(index: Index, doc_ids: DataFrame | Iterable[int]) -> int:
    """Tombstone ``doc_ids`` in the index. Returns the total tombstone
    count after the merge. O(|tombstones|) — no corpus or postings
    scan; queries on this Index exclude the set immediately."""
    spark = index.spark
    if isinstance(doc_ids, DataFrame):
        new = doc_ids.select(F.col("doc_id").cast("long"))
    else:
        ids = np.fromiter((int(i) for i in doc_ids), dtype=np.int64)
        new = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
    d = _tomb_dir(index.out_dir)
    if os.path.exists(d):
        # parquet can't be overwritten while the plan still reads it:
        # stage the merged set next to it and swap directories.
        merged = spark.read.parquet(d).unionByName(new).distinct()
        tmp = d + ".tmp"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        _swap_dir(tmp, d)
    else:
        new.distinct().coalesce(1).write.mode("overwrite").parquet(d)
    index._tomb = index._tomb_n = None  # cached tombstone array + count
    total = int(spark.read.parquet(d).count())
    return total


def delete_by_query(
    index: Index,
    query_text: str,
    mode: str = "or",
    synonyms: dict[str, str] | None = None,
) -> dict:
    """ES ``_delete_by_query``: tombstone every doc the query matches.

    The match set is the FULL scored set (:func:`~.query_exec.
    scored_docs` — no top-k cut), which already excludes previously
    tombstoned docs, so ``deleted`` is exactly this request's count
    (ES response semantics) and a repeated call deletes 0. Cost =
    one pruned postings probe + an O(|matched|) tombstone merge — the
    corpus and the posting blobs are untouched until vacuum.

    Returns ``{"deleted": n, "total_tombstones": m}``.
    """
    from .query_exec import scored_docs

    d = _tomb_dir(index.out_dir)
    prior = (
        int(index.spark.read.parquet(d).count()) if os.path.exists(d) else 0
    )
    matched = scored_docs(
        index, query_text, mode=mode, synonyms=synonyms
    ).select("doc_id")
    total = delete_docs(index, matched)
    return {"deleted": total - prior, "total_tombstones": total}


def _make_vacuum_rewriter(positions: bool, tomb_bc):
    """mapInPandas rewriter: drop tombstoned doc_ids from every posting
    block. Per Arrow batch, ALL blocks decode in one batched varint
    pass (``codec.decode_blocks``) and the tombstone membership test is
    ONE ``np.searchsorted`` probe of the flat doc_id array against the
    already-sorted broadcast tombstone array — O(B·log T) for B batch
    postings and T tombstones. (The previous per-block
    ``np.isin(..., assume_unique=True)`` re-sorted the T-element array
    once per block — O((B+T)·log T) *per block*, hours of pure sort
    overhead at T = 10^7 over millions of blocks.) Blocks untouched by
    the delete set pass through with their original encoded bytes
    (sliced wholesale from the input frame); only touched blocks
    re-encode. ``min_dl`` is kept as-is: the stored minimum is over a
    superset of the surviving docs, so the derived block-max WAND bound
    stays a valid (merely less tight) upper bound until the next full
    build tightens it.
    """

    def rewrite(batches):
        tomb = tomb_bc.value  # sorted unique int64
        for pdf in batches:
            if pdf.empty:
                continue
            ns = pdf["n_docs"].to_numpy(np.int64)
            ids, tfs, offsets = codec.decode_blocks(
                pdf["doc_ids"].tolist(), pdf["tfs"].tolist(), ns,
                pdf["first_doc_id"].to_numpy(np.int64),
            )
            j = np.searchsorted(tomb, ids)
            dead = (j < tomb.size) & (
                tomb[np.minimum(j, tomb.size - 1)] == ids
            )
            # posting blocks are never empty (n_docs >= 1), so the
            # reduceat segments are all non-degenerate
            ndead = np.add.reduceat(dead, offsets[:-1])
            untouched = ndead == 0
            if untouched.all():
                yield pdf
                continue
            if untouched.any():
                yield pdf.iloc[np.flatnonzero(untouched)]
            rows: list = []
            for bi in np.flatnonzero(~untouched):
                s, e = int(offsets[bi]), int(offsets[bi + 1])
                mask = ~dead[s:e]
                if not mask.any():
                    continue  # whole block deleted
                kept = ids[s:e][mask]
                kept_tf = tfs[s:e][mask]
                row = pdf.iloc[bi]
                enc_d = codec.encode_doc_ids(kept, base=int(kept[0]))
                enc_t = codec.encode_tfs(kept_tf)
                if positions and row["positions"] is not None:
                    block_tfs = tfs[s:e]
                    pos = codec.decode_positions(
                        bytes(row["positions"]), block_tfs
                    )
                    occ_mask = np.repeat(mask, block_tfs)
                    enc_p = codec.encode_positions(pos[occ_mask], kept_tf)
                else:
                    enc_p = None
                rows.append(
                    (
                        int(row["term_hash"]), int(row["shard"]),
                        int(row["block_id"]), int(kept[0]), enc_d, enc_t,
                        int(kept.shape[0]), int(kept_tf.sum()),
                        len(enc_d) + len(enc_t)
                        + (len(enc_p) if enc_p else 0),
                        int(kept_tf.max()), int(row["min_dl"]), enc_p,
                        int(row["bucket"]),
                    )
                )
            if rows:
                yield pd.DataFrame(rows, columns=_POSTINGS_COLUMNS)

    return rewrite


def vacuum_index(index: Index) -> Index:
    """Physically purge tombstoned docs: rewrite posting blocks and
    doc_stats without them, recompute n_docs/avgdl/df/idf and the
    per-bucket lineage counters, drop the tombstone set, and return the
    reloaded Index. After vacuum, queries are rank- and score-identical
    to a fresh :func:`~.index_build.build_index` over the surviving
    corpus (by test) — deleted docs no longer dilute idf/avgdl the way
    they do during the tombstone phase."""
    spark = index.spark
    out_dir = index.out_dir
    stats = index.stats
    tomb = index.tombstone_array()
    if tomb is None:
        return index
    tomb_bc = spark.sparkContext.broadcast(np.sort(np.unique(tomb)))

    # 1. posting blocks: decode -> mask -> re-encode, original layout
    postings_dir = os.path.join(out_dir, "postings")
    tmp_postings = postings_dir + ".vacuum"
    rewriter = _make_vacuum_rewriter(bool(stats.positions), tomb_bc)
    (
        # column order pinned to the schema: the rewriter's fast path
        # passes untouched rows through positionally
        spark.read.parquet(postings_dir)
        .select(*_POSTINGS_COLUMNS)
        .mapInPandas(rewriter, schema=POSTINGS_SCHEMA)
        .repartition("bucket", "term_hash")
        .sortWithinPartitions("term_hash", "shard", "block_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp_postings)
    )

    # 2. doc_stats minus tombstones (same partitionBy(shard) layout)
    ds_dir = os.path.join(out_dir, "doc_stats")
    tmp_ds = ds_dir + ".vacuum"
    tomb_df = spark.read.parquet(_tomb_dir(out_dir))
    (
        spark.read.parquet(ds_dir)
        .join(F.broadcast(tomb_df), "doc_id", "left_anti")
        .repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(tmp_ds)
    )

    _swap_dir(tmp_postings, postings_dir)
    _swap_dir(tmp_ds, ds_dir)

    # 3. corpus statistics from the surviving docs (doc_len >= 1 only,
    # matching build_index's oracle-aligned semantics)
    row = (
        spark.read.parquet(ds_dir)
        .where(F.col("doc_len") >= 1)
        .agg(F.count("*").alias("n"), F.avg("doc_len").alias("avgdl"))
        .collect()[0]
    )
    new_stats = type(stats)(
        **{
            **stats.__dict__,
            "n_docs": int(row["n"]),
            "avgdl": float(row["avgdl"] or 0.0),
        }
    )
    write_stats(out_dir, new_stats)

    # 4. term_stats + checkpoint counters + lexicon, all from ONE
    # metadata-column scan of the rewritten postings (binary columns
    # pruned away) — the same derivation chain the build uses.
    _derive_term_stats_and_checkpoints(spark, out_dir, stats.n_buckets)

    _write_lexicon(spark, out_dir, new_stats)

    shutil.rmtree(_tomb_dir(out_dir))
    tomb_bc.unpersist()
    return Index.load(spark, out_dir)


def _derive_term_stats_and_checkpoints(
    spark, out_dir: str, n_buckets: int
) -> None:
    """Recompute ``term_stats`` and the per-bucket lineage counters /
    checkpoint rows from ONE metadata-column scan of the postings
    (binary blob columns pruned away at the parquet reader) — the same
    derivation chain the build uses. Shared by :func:`vacuum_index`
    and :func:`merge_indexes`."""
    postings_dir = os.path.join(out_dir, "postings")
    term_stats_dir = os.path.join(out_dir, "term_stats")
    stats_df = (
        spark.read.parquet(postings_dir)
        .groupBy("term_hash", "bucket")
        .agg(
            F.sum("n_docs").alias("df"),
            F.count("*").alias("n_blocks"),
            F.sum("tf_sum").alias("tokens"),
            F.sum("n_bytes").alias("bytes"),
        )
        .persist()
    )
    tmp_ts = term_stats_dir + ".derive"
    (
        stats_df.write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp_ts)
    )
    per_bucket = {
        int(r["bucket"]): r
        for r in (
            stats_df.groupBy("bucket")
            .agg(
                F.count("*").alias("terms"),
                F.sum("n_blocks").alias("blocks"),
                F.sum("df").alias("postings"),
                F.sum("tokens").alias("tokens"),
                F.sum("bytes").alias("bytes"),
            )
            .collect()
        )
    }
    stats_df.unpersist()
    _swap_dir(tmp_ts, term_stats_dir)

    ckpt_dir = os.path.join(out_dir, "checkpoints")
    if os.path.exists(ckpt_dir):
        shutil.rmtree(ckpt_dir)
    # every bucket is marked done (a bucket whose terms all vanished
    # still must not look resumable), plus the -1 completion row
    _commit_checkpoint(
        spark, ckpt_dir,
        buckets=[-1] + list(range(n_buckets)),
        per_bucket=per_bucket,
    )


def shift_doc_ids(docs: DataFrame, offset: int) -> DataFrame:
    """Remap a segment's documents table into a merged index's doc_id
    space: ``doc_id += offset`` (offsets from :func:`segment_offsets`).
    Use before :func:`~.query_exec.materialize` against a merged
    index's results."""
    return docs.withColumn(
        "doc_id", (F.col("doc_id") + F.lit(int(offset))).cast("long")
    )


def segment_offsets(out_dir: str) -> list[dict]:
    """Per-source-segment remap metadata written by
    :func:`merge_indexes` (``src``, ``doc_offset``, ``shard_offset``,
    ``num_shards``, ``n_docs``)."""
    import json

    with open(os.path.join(out_dir, "segments.json")) as f:
        return json.load(f)


def merge_indexes(spark, index_dirs: list[str], out_dir: str) -> Index:
    """Physically merge built index segments into ONE index — the
    external posting-list merge of the classic segment lifecycle
    (Lucene's segment merge; the reference engine, whose index is a
    single one-shot MapReduce artifact README.md:423-427, has no
    equivalent): base + compacted streaming deltas, or
    time-partitioned generations, become a single segment so serving
    no longer pays :func:`~.query_exec.search_topk_segments`'s
    per-segment probe overhead.

    The merge never re-tokenizes, never decodes a posting blob, and
    never shuffles. Shards are contiguous doc_id ranges (``shard =
    doc_id // shard_span``) and blob bytes are delta-encoded relative
    to the stored ``first_doc_id`` column, so giving segment *i* a
    doc_id offset that is a multiple of the (shared) shard span makes
    the remap pure column arithmetic: ``shard += shard_offset_i``,
    ``first_doc_id += doc_offset_i``, ``doc_id += doc_offset_i`` —
    with every compressed blob byte-unchanged. All segments already
    share the target layout (bucket = pmod(term_hash, B) partition
    dirs, files sorted by (term_hash, shard, block_id)), so:

    * the zero-offset segment's parquet files are HARDLINKED into the
      merged layout — metadata-only, no bytes move;
    * each offset segment gets a NARROW per-file rewrite (scan ->
      project the two offset additions -> write into the shared
      ``bucket=`` dirs): no exchange, no sort — each task rewrites its
      own already-bucketed, already-sorted files. (The previous
      formulation re-shuffled and re-sorted ALL index bytes to
      re-establish a layout the inputs already had — at 100 TB that
      shuffle is the difference between linking/streaming files and a
      full index copy through the network.)

    Global per-term doc_id order stays intact because all of segment
    *i*'s shards precede segment *i+1*'s. The vocab-sized term_dict /
    term_stats / lexicon recompute is unchanged; no Python on any row
    path. Pass the LARGEST segment first: the first segment is the
    zero-offset one, so the common lifecycle shape — a huge base plus
    small compacted streaming deltas — ingests the base for free and
    rewrites only the delta bytes (measured at 600k docs, 2 x 300k:
    link 0.0 s + delta rewrite 2.1 s + vocab-sized stats 3.1 s vs a
    108 s fresh union build; BENCH.md).

    Requirements (validated): identical ``shard_span``, ``n_buckets``,
    ``block_size``, ``k1``, ``b`` and ``positions`` across segments —
    build merge-ready segments with ``build_index(...,
    shard_span=...)``. Tombstones carry forward remapped; statistics
    (n_docs, avgdl, df, idf) are recomputed globally, so post-merge
    queries are rank- and score-identical to a fresh build over the
    remapped union corpus (by test, including blob byte-identity).

    doc_id spaces shift: remap each segment's documents table with
    :func:`shift_doc_ids` (offsets in ``segments.json`` /
    :func:`segment_offsets`) before materializing.
    """
    import json

    if not index_dirs:
        raise ValueError("need at least one index dir")
    stats_list = [read_stats(d) for d in index_dirs]
    s0 = stats_list[0]
    for d, s in zip(index_dirs[1:], stats_list[1:]):
        mism = {
            name: (getattr(s0, name), getattr(s, name))
            for name in (
                "shard_span", "n_buckets", "block_size", "k1", "b",
                "positions", "stopwords", "stem", "fold", "cjk",
            )
            if getattr(s0, name) != getattr(s, name)
        }
        if mism:
            raise ValueError(
                f"segment {d} layout differs from {index_dirs[0]}: "
                f"{mism}; build merge-compatible segments with "
                "build_index(..., shard_span=...) and matching params"
            )
    span = int(s0.shard_span)
    shard_offs: list[int] = []
    acc = 0
    for s in stats_list:
        shard_offs.append(acc)
        acc += int(s.num_shards)
    total_shards = acc
    doc_offs = [so * span for so in shard_offs]

    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)

    # postings + doc_stats: zero-offset segments hardlink in
    # (metadata-only); offset segments take a narrow no-shuffle
    # per-file rewrite of the two remap columns, blobs byte-unchanged.
    postings_out = os.path.join(out_dir, "postings")
    ds_out = os.path.join(out_dir, "doc_stats")
    os.makedirs(postings_out, exist_ok=True)
    os.makedirs(ds_out, exist_ok=True)
    tomb_parts = []
    for i, (d, soff, doff) in enumerate(zip(index_dirs, shard_offs, doc_offs)):
        if soff == 0 and doff == 0:
            _link_tree(os.path.join(d, "postings"), postings_out, f"seg{i}-")
            _link_tree(os.path.join(d, "doc_stats"), ds_out, f"seg{i}-")
        else:
            (
                spark.read.parquet(os.path.join(d, "postings"))
                .select(*_POSTINGS_COLUMNS)
                .withColumn(
                    "shard", (F.col("shard") + F.lit(soff)).cast("int")
                )
                .withColumn(
                    "first_doc_id", F.col("first_doc_id") + F.lit(doff)
                )
                .write.mode("append")
                .partitionBy("bucket")
                .parquet(postings_out)
            )
            (
                spark.read.parquet(os.path.join(d, "doc_stats"))
                .select("doc_id", "doc_len", "shard")
                .withColumn("doc_id", F.col("doc_id") + F.lit(doff))
                .withColumn(
                    "shard", (F.col("shard") + F.lit(soff)).cast("int")
                )
                .write.mode("append")
                .partitionBy("shard")
                .parquet(ds_out)
            )
        td = os.path.join(d, "tombstones")
        if os.path.isdir(td):
            tomb_parts.append(
                spark.read.parquet(td)
                .select((F.col("doc_id") + F.lit(doff)).alias("doc_id"))
            )

    # vocab: union-distinct of the (term, term_hash) dictionaries
    tds = [
        spark.read.parquet(os.path.join(d, "term_dict"))
        for d in index_dirs
    ]
    td = tds[0]
    for t in tds[1:]:
        td = td.unionByName(t)
    td.distinct().write.mode("overwrite").parquet(
        os.path.join(out_dir, "term_dict")
    )

    if tomb_parts:
        t = tomb_parts[0]
        for p in tomb_parts[1:]:
            t = t.unionByName(p)
        t.distinct().coalesce(1).write.mode("overwrite").parquet(
            _tomb_dir(out_dir)
        )

    # global statistics from the merged doc_stats (doc_len >= 1 only,
    # the build's oracle-aligned semantics) — NOT a weighted average
    # of per-segment floats, so idf/avgdl match a fresh union build.
    row = (
        spark.read.parquet(os.path.join(out_dir, "doc_stats"))
        .where(F.col("doc_len") >= 1)
        .agg(F.count("*").alias("n"), F.avg("doc_len").alias("avgdl"))
        .collect()[0]
    )
    new_stats = IndexStats(
        n_docs=int(row["n"]),
        avgdl=float(row["avgdl"] or 0.0),
        shard_span=span,
        num_shards=total_shards,
        n_buckets=int(s0.n_buckets),
        block_size=int(s0.block_size),
        k1=float(s0.k1),
        b=float(s0.b),
        positions=bool(s0.positions),
        stopwords=tuple(s0.stopwords),
        stem=str(s0.stem),
        fold=bool(s0.fold),
        cjk=bool(s0.cjk),
    )
    write_stats(out_dir, new_stats)

    _derive_term_stats_and_checkpoints(spark, out_dir, new_stats.n_buckets)
    _write_lexicon(spark, out_dir, new_stats)

    seg_tmp = os.path.join(out_dir, "segments.json.tmp")
    with open(seg_tmp, "w") as f:
        json.dump(
            [
                {
                    "src": d,
                    "doc_offset": doff,
                    "shard_offset": soff,
                    "num_shards": int(s.num_shards),
                    "n_docs": int(s.n_docs),
                }
                for d, s, soff, doff in zip(
                    index_dirs, stats_list, shard_offs, doc_offs
                )
            ],
            f,
        )
    # atomic like write_stats: never leave a torn manifest, never
    # mutate an inode a snapshot may share
    os.replace(seg_tmp, os.path.join(out_dir, "segments.json"))
    return Index.load(spark, out_dir)


# ----------------------------------------------------------------------
# Compaction policy


def _segment_profile(d: str) -> dict:
    """Driver-side segment profile, no Spark job: committed size from
    the lineage counters (one tiny checkpoints read), doc/tombstone
    counts, and the merge-compatibility key."""
    import pyarrow.dataset as pads

    s = read_stats(d)
    ck = (
        pads.dataset(os.path.join(d, "checkpoints"), format="parquet")
        .to_table(columns=["bucket", "bytes"])
        .to_pandas()
    )
    size = int(ck.loc[ck["bucket"] >= 0, "bytes"].sum())
    tomb = 0
    td = _tomb_dir(d)
    if os.path.isdir(td):
        tomb = int(pads.dataset(td, format="parquet").count_rows())
    return {
        "dir": d,
        "size_bytes": size,
        "n_docs": int(s.n_docs),
        "tombstones": tomb,
        "key": (s.shard_span, s.n_buckets, s.block_size, s.k1, s.b,
                bool(s.positions), tuple(s.stopwords), s.stem,
                bool(s.fold), bool(s.cjk)),
    }


def plan_compaction(
    segment_dirs: list[str],
    *,
    max_width: int = 10,
    tier_ratio: float = 3.0,
    min_merge: int = 2,
    tombstone_ratio: float = 0.2,
) -> dict:
    """Size-tiered merge scheduling over index segments — the policy
    layer above :func:`merge_indexes` (Lucene's TieredMergePolicy
    analog; the reference has one immutable index and no lifecycle).
    A streaming deployment accretes segments (base + per-epoch
    compacted deltas); merging everything into the base on every epoch
    rewrites the base repeatedly (write amplification ~O(total/delta)),
    while tiering only merges segments of SIMILAR size, so each byte
    is rewritten O(log(total/delta)) times — at 100 TB the difference
    between continuous full-index rewrites and a bounded background
    task.

    Pure driver-side planning (pyarrow metadata reads, no Spark job):

    * segments group only with MERGE-COMPATIBLE peers (identical
      shard_span/n_buckets/block_size/k1/b/positions — the
      :func:`merge_indexes` precondition);
    * within a compatibility group, ascending-size sweep: a segment
      joins the current tier while its committed postings size is
      <= ``tier_ratio`` x the tier's smallest member; tiers with
      >= ``min_merge`` members become merges, capped at ``max_width``;
    * each planned merge lists its inputs LARGEST FIRST — segment 0 is
      merge_indexes' zero-offset hardlinked segment, so the biggest
      input ingests for free and only the smaller tiers' bytes move;
    * segments whose tombstone fraction is >= ``tombstone_ratio`` are
      routed to ``vacuum`` instead (vacuum reclaims in place; merging
      first would rewrite bytes that vacuum is about to drop).

    Returns ``{"merges": [[dir, ...], ...], "vacuum": [dir, ...],
    "profiles": [...]}`` — deterministic for a given input. Apply with
    ``merge_indexes(spark, group, out_dir)`` per group (or
    ``jobs/maintain.py --merge``) and :func:`vacuum_index` per vacuum
    entry; re-plan after applying."""
    profiles = [_segment_profile(d) for d in segment_dirs]
    vacuum = [
        p["dir"] for p in profiles
        if p["n_docs"] and p["tombstones"] / p["n_docs"] >= tombstone_ratio
    ]
    skip = set(vacuum)
    compat: dict[tuple, list[dict]] = {}
    for p in profiles:
        if p["dir"] not in skip:
            compat.setdefault(p["key"], []).append(p)
    merges: list[list[dict]] = []
    for key in sorted(compat, key=str):
        tier: list[dict] = []
        for p in sorted(compat[key],
                        key=lambda q: (q["size_bytes"], q["dir"])):
            if not tier or p["size_bytes"] <= tier_ratio * max(
                1, tier[0]["size_bytes"]
            ):
                tier.append(p)
                if len(tier) == max_width:
                    merges.append(tier)
                    tier = []
            else:
                if len(tier) >= min_merge:
                    merges.append(tier)
                tier = [p]
        if len(tier) >= min_merge:
            merges.append(tier)
    return {
        "merges": [
            [p["dir"] for p in sorted(g, key=lambda q: (-q["size_bytes"],
                                                        q["dir"]))]
            for g in merges
        ],
        "vacuum": vacuum,
        "profiles": profiles,
    }


def index_to_events(index: Index, positions: bool | None = None) -> DataFrame:
    """Decode an index's postings back into the token-event shape the
    builder accepts (``doc_id, doc_len, term[, pos]`` — one row per
    occurrence): the reverse of the encode path, enabling REINDEX
    WITHOUT RE-TOKENIZING the corpus (relayout, vacuum-included
    migration, analyzer-free schema changes). Tombstoned docs are
    excluded (so any rebuild from these events has vacuum semantics).

    Scale shape: a distributed ``mapInPandas`` over posting rows — one
    batched ``decode_blocks`` per Arrow batch (the scorers' decode
    primitive), term strings attached by broadcasting the vocab-sized
    lexicon, ``doc_len`` attached by an equi-join against doc_stats
    (sum-of-tf rows shuffle once, the same cost class as the build's
    own event shuffle). No driver materialization anywhere.
    """
    pos = bool(index.stats.positions) if positions is None else positions
    if pos and not index.stats.positions:
        raise ValueError(
            "index has no positions; cannot emit positional events"
        )
    lex = index.lexicon.select("term_hash", "term")
    cols = ["term", "n_docs", "first_doc_id", "doc_ids", "tfs"]
    if pos:
        cols.append("positions")
    post = index.postings.join(F.broadcast(lex), "term_hash").select(*cols)
    schema = "doc_id long, term string" + (", pos int" if pos else "")

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ns = pdf["n_docs"].to_numpy(np.int64)
            d, t, _ = codec.decode_blocks(
                pdf["doc_ids"].tolist(), pdf["tfs"].tolist(),
                ns, pdf["first_doc_id"].to_numpy(np.int64),
            )
            terms = np.repeat(pdf["term"].to_numpy(object), ns)
            out = {
                "doc_id": np.repeat(d, t),
                "term": np.repeat(terms, t),
            }
            if pos:
                blob = b"".join(map(bytes, pdf["positions"].tolist()))
                out["pos"] = codec.decode_positions(blob, t).astype(np.int32)
            yield pd.DataFrame(out)

    ev = post.mapInPandas(gen, schema=schema)
    ev = ev.join(index.doc_stats.select("doc_id", "doc_len"), "doc_id")
    if index.tombstone_count():
        ev = ev.join(index.tombstones, "doc_id", "left_anti")
    keep = ["doc_id", "doc_len", "term"] + (["pos"] if pos else [])
    return ev.select(*keep)


def reshard_index(
    spark,
    src_dir: str,
    out_dir: str,
    *,
    shard_span: int | None = None,
    n_buckets: int = 16,
    block_size: int | None = None,
    positions: bool | None = None,
    k1: float | None = None,
    b: float | None = None,
) -> IndexStats:
    """Rebuild ``src_dir``'s index at ``out_dir`` with a NEW physical
    layout (shard span, bucket count, block size) from its own
    postings — the corpus is never read or re-tokenized. The cluster-
    growth operation: an index sharded for N executors relayouts for
    4N with one decode+encode pass over index bytes (typically ~5% of
    corpus bytes), tombstones vacuumed on the way. Queries on the
    resharded index are rank- and score-identical (by test).

    ``positions=False`` drops positions from a positional index (a
    pure relayout can't ADD positions — the blocks never stored them;
    asking for that raises)."""
    from .index_build import BLOCK_SIZE, build_index

    if os.path.abspath(src_dir) == os.path.abspath(out_dir):
        raise ValueError(
            "reshard_index cannot write over its own source (the build "
            "reads the source postings lazily while writing): pick a "
            "different out_dir, then swap directories"
        )
    src = Index.load(spark, src_dir)
    pos = bool(src.stats.positions) if positions is None else positions
    ev = index_to_events(src, positions=pos)
    return build_index(
        spark, ev, out_dir,
        docs_are_events=True,
        positions=pos,
        shard_span=shard_span,
        n_buckets=n_buckets,
        block_size=block_size if block_size is not None else BLOCK_SIZE,
        k1=float(k1 if k1 is not None else src.stats.k1),
        b=float(b if b is not None else src.stats.b),
        stopwords=tuple(src.stats.stopwords),
        stem=str(src.stats.stem),
        fold=bool(src.stats.fold),
        cjk=bool(src.stats.cjk),
    )


def prune_index(
    spark,
    src_dir: str,
    out_dir: str,
    *,
    min_df: int | None = None,
    max_df: int | None = None,
    max_df_ratio: float | None = None,
    shard_span: int | None = None,
    n_buckets: int | None = None,
    block_size: int | None = None,
) -> "IndexStats":
    """Static index pruning (the classic 100-TB index-size lever):
    rebuild ``src_dir`` at ``out_dir`` WITHOUT the terms outside the
    df band — ``min_df`` drops hapax noise, ``max_df`` /
    ``max_df_ratio`` (fraction of n_docs) drops stop-like head terms
    whose posting lists dominate index bytes yet contribute ~no BM25
    signal. Same machinery as :func:`reshard_index` (postings decoded
    to events, corpus never re-tokenized, tombstones vacuumed), with a
    vocab-sized broadcast semi-join filtering the event stream.

    Scoring contract: per-doc lengths are CARRIED (not recomputed), so
    queries over surviving terms score IDENTICALLY to the source index
    (by test) as long as every doc retains at least one term (a doc
    whose every term was pruned drops out of doc_stats, shifting
    n_docs/avgdl — the standard static-pruning caveat). Positions are
    carried at their ORIGINAL token offsets, so phrase slop behaves
    like Lucene position increments across pruned terms.
    """
    from .index_build import BLOCK_SIZE, build_index

    if os.path.abspath(src_dir) == os.path.abspath(out_dir):
        raise ValueError(
            "prune_index cannot write over its own source: pick a "
            "different out_dir, then swap directories"
        )
    if min_df is None and max_df is None and max_df_ratio is None:
        raise ValueError("pass at least one of min_df/max_df/max_df_ratio")
    src = Index.load(spark, src_dir)
    cap = None
    if max_df is not None:
        cap = int(max_df)
    if max_df_ratio is not None:
        r_cap = int(float(max_df_ratio) * int(src.stats.n_docs))
        cap = r_cap if cap is None else min(cap, r_cap)
    keep = src.lexicon.select("term", "df")
    if min_df is not None:
        keep = keep.where(F.col("df") >= int(min_df))
    if cap is not None:
        keep = keep.where(F.col("df") <= cap)
    ev = index_to_events(src).join(
        F.broadcast(keep.select("term")), "term", "left_semi"
    )
    return build_index(
        spark, ev, out_dir,
        docs_are_events=True,
        positions=bool(src.stats.positions),
        shard_span=(shard_span if shard_span is not None
                    else src.stats.shard_span),
        n_buckets=(n_buckets if n_buckets is not None
                   else src.stats.n_buckets),
        block_size=block_size if block_size is not None else BLOCK_SIZE,
        k1=float(src.stats.k1),
        b=float(src.stats.b),
        stopwords=tuple(src.stats.stopwords),
        stem=str(src.stats.stem),
        fold=bool(src.stats.fold),
        cjk=bool(src.stats.cjk),
    )


# ------------------------------------------------------------------ snapshot

SNAPSHOT_MANIFEST = "snapshot.json"


def _file_crc32(path: str, chunk: int = 1 << 20) -> int:
    import zlib

    crc = 0
    with open(path, "rb") as f:
        while True:
            buf = f.read(chunk)
            if not buf:
                return crc
            crc = zlib.crc32(buf, crc)


def _walk_index_files(root: str):
    """Every file under an index tree, manifest-relative, sorted for a
    deterministic manifest. `_SUCCESS` markers ARE included — a
    restored index must be loadable (Index.load and the entry caches
    key on them)."""
    out = []
    for r, _dirs, files in os.walk(root):
        rel = os.path.relpath(r, root)
        for f in files:
            # .tmp: a crashed atomic write's leftover, never index state
            if f == SNAPSHOT_MANIFEST or f.endswith(".tmp"):
                continue
            out.append(f if rel == "." else os.path.join(rel, f))
    return sorted(out)


def snapshot_index(index_dir: str, snap_dir: str) -> dict:
    """Point-in-time snapshot of a built index: hardlink every file
    into ``snap_dir`` (copy fallback across filesystems) and write a
    ``snapshot.json`` manifest of per-file sizes + CRC32s — the
    ES snapshot / Lucene commit-point analog, restorable and
    verifiable offline. No Spark job; cost is metadata-only on one
    filesystem.

    Hardlinks are SAFE against later maintenance because no operation
    mutates index bytes in place: vacuum/reshard/prune write a temp
    tree and rename (``_swap_dir``), merge writes a new dir, and
    deletes append new tombstone files — old inodes (the snapshot's)
    are never rewritten. On an object store this maps to a manifest
    of immutable object versions (server-side copy / Iceberg
    snapshot), same contract.
    """
    if not os.path.isdir(index_dir):
        raise FileNotFoundError(index_dir)
    if os.path.exists(snap_dir) and os.listdir(snap_dir):
        raise FileExistsError(f"snapshot dir not empty: {snap_dir}")
    files = _walk_index_files(index_dir)
    if not files:
        raise ValueError(f"no index files under {index_dir}")
    entries = []
    for rel in files:
        s = os.path.join(index_dir, rel)
        t = os.path.join(snap_dir, rel)
        os.makedirs(os.path.dirname(t), exist_ok=True)
        try:
            os.link(s, t)
        except OSError:
            shutil.copy2(s, t)
        entries.append(
            {"path": rel, "bytes": os.path.getsize(t),
             "crc32": _file_crc32(t)}
        )
    manifest = {
        "source": os.path.abspath(index_dir),
        "n_files": len(entries),
        "total_bytes": int(sum(e["bytes"] for e in entries)),
        "files": entries,
    }
    import json

    with open(os.path.join(snap_dir, SNAPSHOT_MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def verify_snapshot(snap_dir: str) -> dict:
    """Re-checksum a snapshot against its manifest. Returns
    ``{"ok": bool, "n_files": int, "errors": [str, ...]}`` —
    missing files, size drift, CRC mismatches, and files present but
    not in the manifest are all reported."""
    import json

    mpath = os.path.join(snap_dir, SNAPSHOT_MANIFEST)
    if not os.path.exists(mpath):
        return {"ok": False, "n_files": 0,
                "errors": [f"missing {SNAPSHOT_MANIFEST}"]}
    with open(mpath) as f:
        manifest = json.load(f)
    errors = []
    listed = {e["path"] for e in manifest["files"]}
    for e in manifest["files"]:
        p = os.path.join(snap_dir, e["path"])
        if not os.path.exists(p):
            errors.append(f"missing file: {e['path']}")
            continue
        n = os.path.getsize(p)
        if n != e["bytes"]:
            errors.append(f"size mismatch: {e['path']} "
                          f"({n} != {e['bytes']})")
            continue
        if _file_crc32(p) != e["crc32"]:
            errors.append(f"crc mismatch: {e['path']}")
    for rel in _walk_index_files(snap_dir):
        if rel not in listed:
            errors.append(f"unmanifested file: {rel}")
    return {"ok": not errors, "n_files": manifest["n_files"],
            "errors": errors}


def restore_snapshot(snap_dir: str, dst_dir: str, verify: bool = True) -> str:
    """Restore a snapshot into ``dst_dir`` (refused if non-empty):
    verify the manifest (unless ``verify=False``), then hardlink/copy
    the files back. The restored tree is a full, loadable index —
    ``Index.load(spark, dst_dir)`` serves it directly."""
    if verify:
        v = verify_snapshot(snap_dir)
        if not v["ok"]:
            raise ValueError(
                f"snapshot failed verification: {v['errors'][:5]}"
            )
    if os.path.exists(dst_dir) and os.listdir(dst_dir):
        raise FileExistsError(f"restore dir not empty: {dst_dir}")
    for rel in _walk_index_files(snap_dir):
        s = os.path.join(snap_dir, rel)
        t = os.path.join(dst_dir, rel)
        os.makedirs(os.path.dirname(t), exist_ok=True)
        try:
            os.link(s, t)
        except OSError:
            shutil.copy2(s, t)
    return dst_dir


# ---------------------------------------------------------------------------
# Aliases (ES index aliases): atomic name -> index-dir indirection
# ---------------------------------------------------------------------------

ALIASES_FILE = "aliases.json"


def _aliases_path(root: str) -> str:
    return os.path.join(root, ALIASES_FILE)


def read_aliases(root: str) -> dict[str, str]:
    p = _aliases_path(root)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)["aliases"]


def set_alias(root: str, name: str, index_dir: str) -> dict[str, str]:
    """Point ``name`` at ``index_dir`` (ES alias-swap semantics): the
    zero-downtime reindex primitive — build the new generation beside
    the old, flip the alias, readers loading by alias atomically see
    the new index, then retire the old directory at leisure. The
    aliases file is the ONLY mutable state and is written temp+rename
    (atomic under crashes, new inode — snapshot-safe like stats.json);
    the index directories themselves stay immutable. ``index_dir``
    must hold a servable index (stats.json present)."""
    if not os.path.exists(os.path.join(index_dir, "stats.json")):
        raise ValueError(f"{index_dir!r} is not a built index (no stats.json)")
    os.makedirs(root, exist_ok=True)
    aliases = read_aliases(root)
    aliases[name] = os.path.abspath(index_dir)
    tmp = _aliases_path(root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"aliases": aliases}, f)
    os.replace(tmp, _aliases_path(root))
    return aliases


def drop_alias(root: str, name: str) -> dict[str, str]:
    aliases = read_aliases(root)
    if name not in aliases:
        raise KeyError(f"no alias {name!r} (have {sorted(aliases)})")
    del aliases[name]
    tmp = _aliases_path(root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"aliases": aliases}, f)
    os.replace(tmp, _aliases_path(root))
    return aliases


def load_alias(spark, root: str, name: str) -> Index:
    """Load the index an alias currently points at — the reader half
    of the swap. One manifest read + the normal Index.load; a flip
    between two loads is invisible to the old Index object (it holds
    its own paths), exactly the point."""
    aliases = read_aliases(root)
    if name not in aliases:
        raise KeyError(f"no alias {name!r} (have {sorted(aliases)})")
    return Index.load(spark, aliases[name])


def index_usage(index, top: int = 20):
    """Per-term disk-usage breakdown (the ES ``_disk_usage`` analog at
    term grain): the ``top`` terms by compressed posting bytes, with
    df, block count, and each term's share of total index bytes — the
    report that drives ``prune_index`` df-band decisions ("three stop
    words are 18% of the index"). One postings-metadata aggregation
    (binary blob LENGTHS, no decode) + a vocab-sized lexicon join for
    the term strings + a 1-row broadcast total; output is ``top``
    rows. Positional indexes include position-blob bytes."""
    from pyspark.sql import functions as F

    if top < 1:
        raise ValueError("top must be >= 1")
    p = index.postings
    bytes_col = (
        F.length("doc_ids").cast("long")
        + F.length("tfs").cast("long")
        + F.coalesce(F.length("positions").cast("long"), F.lit(0))
    )
    per = p.groupBy("term_hash").agg(
        F.sum(bytes_col).alias("bytes"),
        F.count("*").alias("n_blocks"),
        F.sum("n_docs").cast("long").alias("df"),
    )
    total = per.agg(F.sum("bytes").alias("_total"))
    lex = index.lexicon.select("term_hash", "term")
    return (
        per.join(lex, "term_hash")
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            "df",
            "n_blocks",
            "bytes",
            F.round(F.col("bytes") / F.col("_total"), 6).alias(
                "bytes_share"
            ),
        )
        .orderBy(F.col("bytes").desc(), F.col("term").asc())
        .limit(int(top))
    )

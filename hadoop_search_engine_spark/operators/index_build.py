"""Inverted-index build: documents -> sharded compressed posting blocks.

The reference builds its index as ``distinct -> groupBy(entity) ->
collect_list(video_name) -> saveAsTable`` (/root/reference/README.md:
423-436) — raw string arrays, no tf, no compression, no skew handling.
This builder keeps the same logical shape (tokenize -> dedup-to-tf ->
group-by-term -> materialize posting lists) but re-engineers the
physical design for 10^12 documents:

  * tokenize with JVM-side expressions (whole-stage codegen), not
    per-row Python — the analog of the reference's
    ``explode(split(lower(col)))`` branches (README.md:372-402);
  * terms are hashed to int64 (``xxhash64``) at the map side, so the
    corpus-sized shuffle moves only fixed-width columns; the one place
    term strings shuffle is the vocab-sized term_dict (map-side dedup);
  * **sharding = salting**: every posting carries
    ``shard = doc_id // shard_span`` (a contiguous doc_id range, span
    fixed — never a function of cluster size). Posting runs are
    ``(term, shard)``, so a Zipf head term with df ≈ N is split across
    all shards into bounded groups (the skew salt), while blocks remain
    globally sorted by doc_id within a term (ORDER BY term, shard,
    block_id == ORDER BY term, doc_id) — no post-hoc external merge of
    salted runs is needed, and the query side gets document-sharded
    parallelism for free;
  * the corpus is shuffled EXACTLY ONCE per wave: token events
    hash-repartition on (term_hash, shard), Tungsten-sort within
    partitions, and stream through a ``mapInPandas`` encoder that cuts
    (term, shard) runs at NumPy change points, aggregates tf with
    ``np.unique``, and emits 128-doc blocks: delta+varint doc_ids,
    varint tfs, and an idf-independent per-block WAND bound
    ``max(tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)))`` (multiplied by idf
    at query time, so df statistics are not needed inside the encoder);
  * postings are written partitioned by ``bucket = hash(term) % B``
    so a query's term lookups prune to B^-1 of the files, and each
    file is sorted by (term_hash, shard, block_id), so its row-group
    term_hash min/max statistics prune a lookup to the row groups
    that hold the term;
  * the build runs in ``n_waves`` bucket waves, each an independent
    distributed job that commits its partition directories plus a
    checkpoint row (terms/blocks/postings/tokens/bytes counters) —
    killing the build between waves loses only the in-flight wave and
    ``resume=True`` rebuilds exactly the missing buckets (anti-join
    against committed checkpoints).

Storage is plain Parquet in an Iceberg-like layout (partition dirs +
stats + lineage tables); the Iceberg catalog itself is swapped in via
``sources.catalog`` when its jars are on the classpath.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import BLOCK_SIZE, BM25_B, BM25_K1
from ..functions import codec
from ..functions.bm25 import idf_col
from ..functions.tokenizer import tokens_col

def _phase_timer():
    """Opt-in phase timing: SPARK_GRAFT_PROFILE=1 prints per-phase secs."""
    import time

    enabled = os.environ.get("SPARK_GRAFT_PROFILE") == "1"
    state = {"t": time.time()}

    def mark(name: str) -> None:
        now = time.time()
        if enabled:
            print(f"[build-phase] {name}: {now - state['t']:.2f}s", flush=True)
        state["t"] = now

    return mark


# Postings are keyed by xxhash64(term), not the term string: the
# corpus-sized shuffle then moves only fixed-width ints (Tungsten radix
# sort; no corpus-sized Python-string materialization on the Arrow
# boundary) and the string→metadata mapping lives once per distinct
# term in the lexicon (term, term_hash, df, idf, ...). A 64-bit hash
# collision would merge two terms' postings; the probability is
# ~n²/2^65 (≈3e-6 for a 10M-term vocabulary) and the term_dict makes
# collisions detectable at build time.
POSTINGS_SCHEMA = (
    "term_hash long, shard int, block_id int, first_doc_id long, "
    "doc_ids binary, tfs binary, n_docs int, tf_sum long, n_bytes int, "
    "max_tf long, min_dl long, positions binary, bucket int"
)
TERM_STATS_SCHEMA = (
    "term_hash long, df long, n_blocks long, tokens long, bytes long, "
    "bucket int"
)
TERM_DICT_SCHEMA = "term string, term_hash long"


def read_parquet_tolerant(spark, path: str, schema: str):
    """Read an index table, tolerating the legitimately-EMPTY case: a
    zero-row (possibly partitioned) write leaves only _SUCCESS, so a
    later read dies on schema inference. Found by the differential
    fuzzer with a corpus whose every document tokenizes to nothing.
    The try/except keeps the happy path free and stays correct on
    remote filesystems where a driver-side listing would lie."""
    from pyspark.errors.exceptions.captured import AnalysisException
    from pyspark.sql import functions as _F

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" not in str(e):
            raise
        cols = []
        for field in schema.split(","):
            name, typ = field.strip().split(" ", 1)
            cols.append(_F.lit(None).cast(typ.strip()).alias(name))
        return spark.range(0).select(*cols)


@dataclass(frozen=True)
class IndexStats:
    n_docs: int
    avgdl: float
    shard_span: int
    num_shards: int
    n_buckets: int
    block_size: int
    k1: float
    b: float
    positions: bool = False
    # analyzer config (functions/analyzer.py) — recorded at build time
    # so the query side ALWAYS analyzes with the index's own chain
    # (stopword filter + stemmer); identity by default.
    stopwords: tuple = ()
    stem: str = "none"
    fold: bool = False
    cjk: bool = False


def _stats_path(out_dir: str) -> str:
    return os.path.join(out_dir, "stats.json")


def write_stats(out_dir: str, stats: IndexStats) -> None:
    # write-temp + rename: atomic under crashes, and a NEW inode —
    # snapshots hardlink the old stats.json and must never see an
    # in-place truncate/rewrite (index data files already behave this
    # way: Spark overwrites and _swap_dir renames create new inodes)
    os.makedirs(out_dir, exist_ok=True)
    tmp = _stats_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats.__dict__, f)
    os.replace(tmp, _stats_path(out_dir))


def read_stats(out_dir: str) -> IndexStats:
    with open(_stats_path(out_dir)) as f:
        d = json.load(f)
    # JSON has no tuple; pre-analyzer stats.json has no key at all
    d["stopwords"] = tuple(d.get("stopwords", ()))
    return IndexStats(**d)


def term_frequencies(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text) -> (term, doc_id, tf).

    One wide-dependency: the (term, doc_id) hash aggregation, with
    map-side partial aggregation supplied by Catalyst. This subsumes
    the reference's ``.distinct()`` dedup (README.md:424) — duplicate
    (term, doc) pairs become the tf count instead of being dropped.
    """
    terms = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    return terms.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))


def doc_stats(tf: DataFrame) -> DataFrame:
    """(term, doc_id, tf) -> (doc_id, doc_len)."""
    return tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))


_POSTINGS_COLUMNS = [
    "term_hash", "shard", "block_id", "first_doc_id", "doc_ids",
    "tfs", "n_docs", "tf_sum", "n_bytes", "max_tf", "min_dl",
    "positions", "bucket",
]


# --- Arrow-side corpus passes ------------------------------------------------
#
# Tokenization is the single largest CPU cost of the whole build
# (measured at 200k docs / local[8]: the JVM regex tokenize+explode
# alone is ~9 s wall ≈ 70 core-seconds, while pyarrow's RE2 +
# vectorized utf8proc does the same 42M tokens in ~6 core-seconds).
# When enabled, all three corpus passes — the event source, doc_stats,
# term_dict — run tokenize_arrow inside mapInArrow and hand fixed-width
# / pre-deduped columns back to the JVM; xxhash64 and the shuffle
# stay JVM-side, so hashes, layout, and all downstream semantics are
# unchanged (tokenize_arrow is parity-tested byte-identical to
# tokens_col, including the \x0B / İ / final-sigma regex-engine
# divergences).
#
# The path is switchable (``build_index(arrow_tokenize=...)``, env
# ``SPARK_GRAFT_ARROW_TOKENIZE``) because the two have opposite
# bottlenecks: the JVM path pays java.util.regex CPU but never moves
# token strings across a process boundary (hash-before-boundary); the
# Arrow path tokenizes ~10x cheaper but ships every token string
# JVM-ward through the mapInArrow socket before xxhash64. Which wins
# is corpus- and host-dependent — BENCH.md records the interleaved A/B
# that set the default below.


def _arrow_tokenize_default() -> bool:
    return os.environ.get("SPARK_GRAFT_ARROW_TOKENIZE", "1") == "1"


def _arrow_event_gen(positions: bool):
    """mapInArrow generator: documents(doc_id, text) -> flat token
    events (term, packed[, pos]); packed = doc_id << 20 | capped
    doc_len, identical to the JVM projection it replaces."""
    cap = (1 << 20) - 1

    def gen(batches):
        import pyarrow as pa

        from ..functions.tokenizer import tokenize_arrow

        for batch in batches:
            doc_ids = (
                batch.column("doc_id")
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            toks = tokenize_arrow(batch.column("text"))
            counts = np.asarray(toks.value_lengths(), dtype=np.int64)
            flat = toks.flatten()
            packed = np.repeat(
                (doc_ids << 20) | np.minimum(counts, cap), counts
            )
            if positions:
                starts = np.zeros(len(counts), dtype=np.int64)
                starts[1:] = np.cumsum(counts)[:-1]
                pos = np.arange(len(packed), dtype=np.int64) - np.repeat(
                    starts, counts
                )
                keep = pos < (1 << 20)
                if not keep.all():
                    flat = flat.filter(pa.array(keep))
                    packed, pos = packed[keep], pos[keep]
                yield pa.RecordBatch.from_arrays(
                    [
                        flat,
                        pa.array(packed, type=pa.int64()),
                        pa.array(pos.astype(np.int32), type=pa.int32()),
                    ],
                    ["term", "packed", "pos"],
                )
            else:
                yield pa.RecordBatch.from_arrays(
                    [flat, pa.array(packed, type=pa.int64())],
                    ["term", "packed"],
                )

    return gen


def _arrow_doc_len_gen(batches):
    """mapInArrow generator: (doc_id, text) -> (doc_id, doc_len)."""
    import pyarrow as pa

    from ..functions.tokenizer import tokenize_arrow

    for batch in batches:
        toks = tokenize_arrow(batch.column("text"))
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id"),
                pa.array(
                    np.asarray(toks.value_lengths(), dtype=np.int64),
                    type=pa.int64(),
                ),
            ],
            ["doc_id", "doc_len"],
        )


def _arrow_terms_gen(batches):
    """mapInArrow generator: (text) -> batch-deduped (term) rows.

    The per-batch unique() is a map-side pre-dedup: the JVM distinct
    that follows sees ~|vocab| rows per batch instead of every token
    occurrence."""
    import pyarrow as pa

    from ..functions.tokenizer import tokenize_arrow

    for batch in batches:
        toks = tokenize_arrow(batch.column("text"))
        yield pa.RecordBatch.from_arrays(
            [toks.flatten().unique()], ["term"]
        )


def _make_encoder(stats: IndexStats, positions: bool = False):
    """Streaming encoder for :func:`mapInPandas` over SORTED partitions.

    Input: raw token events (term, shard, bucket, doc_id, doc_len) —
    duplicates included — hash-repartitioned on (term, shard) and
    sorted within each partition by (term, shard, doc_id). This is the
    classic sort-based index build: the one corpus shuffle is a
    Tungsten sort shuffle, and the encoder streams Arrow batches,
    slicing complete (term, shard) runs with NumPy change-point
    detection and carrying the trailing incomplete run into the next
    batch. No ``groupBy().applyInPandas`` (measured ~0.7 ms dispatch
    per group — more than the entire JVM shuffle at Zipf vocab sizes)
    and no ``collect_list`` packing (ObjectHashAggregate falls back to
    sort-based aggregation past 128 distinct keys and degrades
    catastrophically at corpus volume).

    tf is aggregated here with ``np.unique`` over each sorted run, so
    there is no separate ``groupBy(term, doc_id)`` stage. Memory per
    task is bounded: one Arrow batch plus the largest single (term,
    shard) run (<= shard_span docs × per-doc tf) — the reference's
    collect()-to-driver mistake (process.py:223) is structurally
    impossible here.

    Block WAND metadata is stored as ``(max_tf, min_dl)`` instead of a
    precomputed BM25 partial: the query side derives the upper bound
    ``idf * max_tf*(k1+1)/(max_tf + k1*(1-b+b*min_dl/avgdl))`` (valid —
    the partial is monotone increasing in tf, decreasing in dl), which
    means the encoder needs NO corpus statistics, so the avgdl/doc_stats
    pass runs CONCURRENTLY with the encode wave instead of before it.
    """
    block_size = stats.block_size

    def encode_run(term_hash: int, shard: int, bucket: int,
                   ids: np.ndarray, dls_occ: np.ndarray,
                   pos_occ: np.ndarray | None, rows: list) -> None:
        # ids are pre-sorted (partition sort order); np.unique keeps it.
        doc_ids, first_idx, counts = np.unique(
            ids, return_index=True, return_counts=True
        )
        tfs = counts.astype(np.int64)
        dls = dls_occ[first_idx]
        for blk, start in enumerate(range(0, len(doc_ids), block_size)):
            d = doc_ids[start : start + block_size]
            t = tfs[start : start + block_size]
            dl = dls[start : start + block_size]
            enc_d = codec.encode_doc_ids(d, base=int(d[0]))
            enc_t = codec.encode_tfs(t)
            if pos_occ is not None:
                # the block's occurrence slice is contiguous: the run is
                # sorted (doc, pos) and docs in the block are contiguous
                occ0 = int(first_idx[start])
                last = start + len(d) - 1
                occ1 = int(first_idx[last]) + int(counts[last])
                enc_p = codec.encode_positions(pos_occ[occ0:occ1], t)
            else:
                enc_p = None
            rows.append(
                (
                    term_hash, shard, blk, int(d[0]), enc_d, enc_t,
                    len(d), int(t.sum()),
                    len(enc_d) + len(enc_t) + (len(enc_p) if enc_p else 0),
                    int(t.max()), int(dl.min()), enc_p, bucket,
                )
            )

    span = stats.shard_span
    n_buckets = stats.n_buckets

    def encode_complete(terms: np.ndarray, packed: np.ndarray,
                        pos: np.ndarray | None, rows: list) -> None:
        ids = packed >> 20
        shards = (ids // span).astype(np.int64)
        n = terms.shape[0]
        # run boundaries: change points of (term_hash, shard)
        change = np.flatnonzero(
            (terms[1:] != terms[:-1]) | (shards[1:] != shards[:-1])
        )
        starts = np.concatenate([[0], change + 1])
        ends = np.concatenate([change + 1, [n]])
        dls = packed & np.int64((1 << 20) - 1)
        # pmod(term_hash, B): np.mod matches Spark's pmod sign rule
        buckets = np.mod(terms, n_buckets)
        for s, e in zip(starts, ends):
            encode_run(int(terms[s]), int(shards[s]), int(buckets[s]),
                       ids[s:e], dls[s:e],
                       pos[s:e] if pos is not None else None, rows)

    def encode_stream(batches):
        carry_t = np.zeros(0, dtype=np.int64)
        carry_p = np.zeros(0, dtype=np.int64)
        carry_pos = np.zeros(0, dtype=np.int64) if positions else None
        for pdf in batches:
            terms = pdf["term_hash"].to_numpy(np.int64)
            packed = pdf["packed"].to_numpy(np.int64)
            pos = pdf["pos"].to_numpy(np.int64) if positions else None
            if carry_t.size:
                terms = np.concatenate([carry_t, terms])
                packed = np.concatenate([carry_p, packed])
                if positions:
                    pos = np.concatenate([carry_pos, pos])
            if not terms.size:
                continue
            # hold back the trailing (possibly incomplete) run
            last_shard = (packed[-1] >> 20) // span
            tail_mask = (terms == terms[-1]) & ((packed >> 20) // span == last_shard)
            not_tail = np.flatnonzero(~tail_mask)
            cut = int(not_tail[-1]) + 1 if not_tail.size else 0
            carry_t, carry_p = terms[cut:], packed[cut:]
            if positions:
                carry_pos = pos[cut:]
            if cut:
                rows: list = []
                encode_complete(terms[:cut], packed[:cut],
                                pos[:cut] if positions else None, rows)
                yield pd.DataFrame(rows, columns=_POSTINGS_COLUMNS)
        if carry_t.size:
            rows = []
            encode_complete(carry_t, carry_p, carry_pos, rows)
            yield pd.DataFrame(rows, columns=_POSTINGS_COLUMNS)

    return encode_stream


def _bucket_col(term_hash: F.Column, n_buckets: int) -> F.Column:
    return F.pmod(term_hash, F.lit(n_buckets)).cast("int")


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    num_shards: int | None = None,
    shard_span: int | None = None,
    n_buckets: int = 16,
    block_size: int = BLOCK_SIZE,
    k1: float = BM25_K1,
    b: float = BM25_B,
    n_waves: int = 1,
    resume: bool = False,
    fail_after_waves: int | None = None,
    docs_are_events: bool = False,
    positions: bool = False,
    arrow_tokenize: bool | None = None,
    stopwords: tuple = (),
    stem: str = "none",
    fold: bool = False,
    cjk: bool = False,
) -> IndexStats:
    """Build the full index at ``out_dir`` from documents(doc_id, text).

    ``n_waves`` > 1 splits the bucket range into that many sequential
    distributed jobs, each committing postings + a checkpoint row;
    ``resume=True`` skips buckets already committed. ``fail_after_waves``
    is a test hook that raises after N committed waves (kill/resume test).

    ``docs_are_events=True`` accepts pre-tokenized occurrence rows
    ``(doc_id long, doc_len long, term string)`` — one row per token
    occurrence (tf = multiplicity) — instead of raw documents. Used by
    streaming-delta compaction, where tokenization already happened in
    the micro-batches. Combined with ``positions=True`` the events
    must also carry ``pos int`` (the occurrence's 0-based token
    position, the positional sink's delta shape) and the compacted
    index serves :func:`~..operators.query_exec.phrase_search` exactly
    like a batch positional build.

    ``positions=True`` builds a positional index: each block gains a
    ``positions`` varint blob (per-doc gap-encoded token positions),
    enabling :func:`operators.query_exec.phrase_search`. The event
    shuffle grows from 16 to 24 bytes/row; the default index layout is
    byte-identical to ``positions=False`` builds apart from the null
    ``positions`` column.

    ``arrow_tokenize`` selects the tokenizer engine for the three
    corpus passes (``None`` -> env ``SPARK_GRAFT_ARROW_TOKENIZE``,
    default on): pyarrow RE2+utf8proc via ``mapInArrow`` vs JVM regex
    expressions. Both are parity-tested byte-identical; the resulting
    index is the same either way.
    """
    if arrow_tokenize is None:
        arrow_tokenize = _arrow_tokenize_default()
    stopwords = tuple(sorted(set(stopwords)))
    if stem not in ("none", "s", "porter"):
        raise ValueError(f"stem must be none|s|porter, got {stem!r}")
    fold, cjk = bool(fold), bool(cjk)
    if stopwords or stem != "none" or fold or cjk:
        # Analysis chain (functions/analyzer.py): rewrite the text
        # column through stopword filter + stemmer BEFORE the tokenize
        # passes — the rewritten text round-trips through the canonical
        # tokenizer exactly (module docstring), so every downstream
        # pass (JVM or Arrow, events, doc_stats, term_dict) indexes
        # analyzed terms unchanged. doc_len therefore counts
        # POST-analysis tokens (Lucene norms semantics) and positions
        # are contiguous post-removal. Event inputs are already
        # post-analysis by definition (decoded from an analyzed index
        # or analyzed in the micro-batch) — config is recorded, not
        # re-applied.
        if not docs_are_events:
            from ..functions.analyzer import analyzed_text_col

            docs = docs.withColumn(
                "text",
                analyzed_text_col(F.col("text"), stopwords, stem, fold, cjk),
            )
    if positions and docs_are_events and "pos" not in docs.columns:
        raise ValueError(
            "positional build from events needs a 'pos' column (one row "
            "per token occurrence with its 0-based position — the shape "
            "streaming.incremental's positional sink writes); these "
            "events carry only aggregated tf"
        )
    mark = _phase_timer()
    postings_dir = os.path.join(out_dir, "postings")
    term_stats_dir = os.path.join(out_dir, "term_stats")
    ckpt_dir = os.path.join(out_dir, "checkpoints")
    if not resume and os.path.isdir(out_dir):
        # fresh-build semantics are overwrite (the reference's
        # DROP TABLE IF EXISTS / mode("overwrite"), README.md:433-436);
        # appending postings over an existing index would silently
        # duplicate blocks and double scores.
        import shutil

        shutil.rmtree(out_dir)
    done: set[int] = set()
    if resume and os.path.exists(ckpt_dir):
        done = {
            r["bucket"]
            for r in spark.read.parquet(ckpt_dir).select("bucket").collect()
        }

    phase0_done = resume and os.path.exists(_stats_path(out_dir)) and -1 in done
    if resume and os.path.exists(_stats_path(out_dir)):
        # a crashed run's stats (provisional or final) define the
        # committed layout — a resume with different builder params
        # would silently mix layouts (e.g. half-positional postings),
        # so validate and REUSE the prior layout fields.
        prior = read_stats(out_dir)
        mismatches = {
            name: (got, want)
            for name, got, want in [
                ("n_buckets", prior.n_buckets, n_buckets),
                ("block_size", prior.block_size, block_size),
                ("k1", prior.k1, k1),
                ("b", prior.b, b),
                ("positions", prior.positions, positions),
                ("stopwords", tuple(prior.stopwords), stopwords),
                ("stem", prior.stem, stem),
                ("fold", bool(prior.fold), fold),
                ("cjk", bool(prior.cjk), cjk),
            ]
            if got != want
        } | (
            {"num_shards": (prior.num_shards, num_shards)}
            if num_shards is not None and prior.num_shards != num_shards
            else {}
        ) | (
            {"shard_span": (prior.shard_span, shard_span)}
            if shard_span is not None and prior.shard_span != shard_span
            else {}
        )
        if mismatches:
            raise ValueError(
                f"resume=True with builder params differing from the "
                f"committed run's: {mismatches}; rebuild fresh or pass "
                "matching params"
            )
    if phase0_done:
        stats = read_stats(out_dir)
    elif resume and os.path.exists(_stats_path(out_dir)):
        # mid-build resume: reuse the prior provisional layout (same
        # shard math by construction) and skip the max_id scan.
        stats = read_stats(out_dir)
    else:
        # max_id from a doc_id-only scan — no tokenize (at parquet
        # sources this reads one column's stats).
        max_row = docs.agg(F.max("doc_id").alias("max_id")).collect()[0]
        max_id = int(max_row["max_id"]) if max_row["max_id"] is not None else 0
        # doc_id headroom guard: events pack doc_id << 20 | doc_len into
        # one signed int64, so doc_id must stay below 2^43 (packed would
        # go negative and the partitioner's shiftrightunsigned would
        # disagree with the encoder's arithmetic >> — silently splitting
        # runs). 2^43 ≈ 8.8e12 docs, ~8x the 10^12-doc design target.
        if max_id >= (1 << 43):
            raise ValueError(
                f"max doc_id {max_id} >= 2^43: doc_id<<20 packing would "
                "overflow int64; re-mint doc_ids densely (operators."
                "doc_ids.assign_doc_ids) before indexing"
            )
        mark("max_id")
        if shard_span is not None:
            # Explicit span: segments built with the SAME span are
            # merge-compatible (operators.index_maint.merge_indexes
            # remaps shard/first_doc_id by pure column arithmetic —
            # valid only when every segment's shards cover identical
            # doc_id-range widths).
            if num_shards is not None:
                raise ValueError(
                    "pass num_shards or shard_span, not both"
                )
            num_shards = max(1, -(-(max_id + 1) // shard_span))
        else:
            if num_shards is None:
                # Fixed shard span (~128k docs), NOT a function of the
                # session's parallelism: tying shards to core count makes
                # the number of (term, shard) encode groups — i.e. total
                # work — grow with the cluster, which inverts scaling
                # (4x cores -> 4x groups -> flat wall-clock). A fixed span
                # also makes the index layout invariant across parallelism
                # levels, which the determinism tests assert.
                num_shards = max(1, (max_id + 1 + (1 << 17) - 1) >> 17)
            shard_span = max(1, -(-(max_id + 1) // num_shards))
        # Provisional stats: the encoder stores (max_tf, min_dl) block
        # bounds, not BM25 partials, so NO corpus statistic is needed
        # before encoding. n_docs/avgdl are finalized after the
        # doc_stats job (running concurrently with the encode wave)
        # completes, before the lexicon (idf needs n_docs) is written.
        stats = IndexStats(
            n_docs=0, avgdl=0.0, shard_span=shard_span,
            num_shards=num_shards, n_buckets=n_buckets,
            block_size=block_size, k1=k1, b=b, positions=positions,
            stopwords=stopwords, stem=stem, fold=fold, cjk=cjk,
        )
        write_stats(out_dir, stats)

    import threading

    # Concurrent job threads: Spark schedules multiple jobs at once and
    # the skewed encode stage always leaves scheduler slack that these
    # corpus-pass siblings fill (at N cores they serialize — at 4N they
    # overlap — which is exactly how a real multi-executor cluster
    # behaves). Both side jobs are JVM-only (no Python workers), so
    # they don't contend for the encode wave's Arrow workers.
    side_errs: list = []
    side_threads: list[threading.Thread] = []

    # doc_stats: ONE tokenize pass writes (doc_id, doc_len) sharded.
    # doc_stats carries the shard key so the query side can cogroup
    # posting blocks with the doc-length page of the same doc_id range;
    # partitionBy("shard") on disk means a query touching S shards
    # reads exactly S directories. n_docs/avgdl are derived from docs
    # with doc_len >= 1 only — matching the BM25 oracles, which compute
    # corpus statistics from docs that produced at least one token.
    doc_stats_res: dict = {}
    if not phase0_done:
        span = stats.shard_span

        def _build_doc_stats() -> None:
            try:
                ds_dir = os.path.join(out_dir, "doc_stats")
                # a crashed run may have completed this pass — resume
                # skips the corpus-sized tokenize+write (like term_dict)
                # and re-runs only the tiny n_docs/avgdl aggregation
                if not (
                    resume
                    and os.path.exists(os.path.join(ds_dir, "_SUCCESS"))
                ):
                    if docs_are_events:
                        ds = docs.select("doc_id", "doc_len").distinct()
                    elif arrow_tokenize:
                        ds = docs.select("doc_id", "text").mapInArrow(
                            _arrow_doc_len_gen, "doc_id long, doc_len long"
                        )
                    else:
                        # greatest(.., 0) maps null-text docs (NULL or
                        # -1 size depending on ANSI mode) to doc_len 0,
                        # matching the Arrow path's empty-list count.
                        ds = docs.select(
                            "doc_id",
                            F.greatest(
                                F.size(tokens_col(F.col("text"))), F.lit(0)
                            ).cast("long").alias("doc_len"),
                        )
                    (
                        ds.withColumn(
                            "shard", F.expr(f"doc_id div {span}").cast("int")
                        )
                        .repartition("shard")
                        .write.mode("overwrite")
                        .partitionBy("shard")
                        .parquet(ds_dir)
                    )
                row = (
                    spark.read.parquet(ds_dir)
                    .where(F.col("doc_len") >= 1)
                    .agg(F.count("*").alias("n"), F.avg("doc_len").alias("avgdl"))
                    .collect()[0]
                )
                doc_stats_res["n_docs"] = int(row["n"])
                doc_stats_res["avgdl"] = float(row["avgdl"] or 0.0)
            except Exception as exc:  # noqa: BLE001 - re-raised on join
                side_errs.append(exc)

        t = threading.Thread(target=_build_doc_stats, daemon=True)
        t.start()
        side_threads.append(t)

    # term dictionary: the only place term STRINGS are shuffled —
    # map-side partial dedup shrinks it to ~|vocab| rows before the
    # exchange. The lexicon joins stats back to strings through it.
    # Nothing reads it until _write_lexicon, so it also runs
    # concurrently with the encode wave.
    term_dict_path = os.path.join(out_dir, "term_dict")
    if not (resume and os.path.exists(os.path.join(term_dict_path, "_SUCCESS"))):

        def _build_term_dict() -> None:
            try:
                if docs_are_events:
                    t = docs.select("term")
                elif arrow_tokenize:
                    t = docs.select("text").mapInArrow(
                        _arrow_terms_gen, "term string"
                    )
                else:
                    t = docs.select(
                        F.explode(tokens_col(F.col("text"))).alias("term")
                    )
                (
                    t.distinct()
                    .select("term", F.xxhash64("term").alias("term_hash"))
                    .write.mode("overwrite")
                    .parquet(term_dict_path)
                )
            except Exception as exc:  # noqa: BLE001 - re-raised on join
                side_errs.append(exc)

        t = threading.Thread(target=_build_term_dict, daemon=True)
        t.start()
        side_threads.append(t)

    # Raw token events, two int64 columns — duplicates included. The
    # term is hashed to int64 at the map side and (doc_id, doc_len)
    # pack into one long (doc_id << 20 | min(doc_len, 2^20-1)): the
    # corpus-sized shuffle then moves exactly 16 bytes/row, the
    # in-partition sort is (long, long) radix-friendly, and the Arrow
    # boundary carries two fixed-width columns. shard (= doc_id //
    # span) and bucket (= pmod(term_hash, B)) are DERIVED, never
    # shuffled: the bucket only exists pre-shuffle for wave filtering
    # and the shard only inside the repartition expression. tf
    # aggregation happens in the encoder after the one corpus shuffle;
    # there is no join against doc_stats and no groupBy(term, doc_id)
    # stage. doc_len saturates at 2^20-1 tokens (BM25 is insensitive
    # at that length).
    if docs_are_events:
        occ = docs.select(
            "doc_id",
            F.least(F.col("doc_len").cast("long"), F.lit((1 << 20) - 1)).alias(
                "doc_len"
            ),
            "term",
            *(["pos"] if positions else []),
        )
        if positions:
            # same tail-truncation regime as the tokenize branches: the
            # phrase scorer packs positions into 21 bits (doc_len was
            # counted BEFORE this filter, so it still matches size(toks))
            occ = occ.where(F.col("pos") < F.lit(1 << 20))
        event_cols = [
            F.xxhash64("term").alias("term_hash"),
            (F.shiftleft(F.col("doc_id"), 20) + F.col("doc_len")).alias(
                "packed"
            ),
            *([F.col("pos").cast("int")] if positions else []),
        ]
        flat = occ.select(*event_cols)
    elif arrow_tokenize:
        # positional builds index at most the first 2^20 tokens per
        # doc (the same saturation regime as the doc_len cap): the
        # phrase scorer packs (doc, pos) into int64 with 21 position
        # bits, and a >1M-token web doc is tail-truncated rather than
        # allowed to silently corrupt the packed keys. The tokenize +
        # flatten + pack runs Arrow-side (_arrow_event_gen); only
        # xxhash64 stays JVM so term_hash is bit-identical to every
        # other xxhash64(term) site (term_dict, lexicon, queries).
        ev_schema = "term string, packed long" + (
            ", pos int" if positions else ""
        )
        flat = (
            docs.select("doc_id", "text")
            .mapInArrow(_arrow_event_gen(positions), ev_schema)
            .select(
                F.xxhash64("term").alias("term_hash"),
                "packed",
                *(["pos"] if positions else []),
            )
        )
    else:
        # JVM tokenize path: same saturation/truncation regime as the
        # Arrow branch above, expressed as codegen'd expressions — no
        # process boundary, tokens are hashed before leaving the stage.
        toks = docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
        if positions:
            occ = toks.select(
                "doc_id",
                F.least(
                    F.size("toks").cast("long"), F.lit((1 << 20) - 1)
                ).alias("doc_len"),
                F.posexplode("toks").alias("pos", "term"),
            ).where(F.col("pos") < F.lit(1 << 20))
        else:
            occ = toks.select(
                "doc_id",
                F.least(
                    F.size("toks").cast("long"), F.lit((1 << 20) - 1)
                ).alias("doc_len"),
                F.explode("toks").alias("term"),
            )
        flat = occ.select(
            F.xxhash64("term").alias("term_hash"),
            (F.shiftleft(F.col("doc_id"), 20) + F.col("doc_len")).alias(
                "packed"
            ),
            *([F.col("pos").cast("int")] if positions else []),
        )
    enriched = flat.withColumn(
        "bucket", _bucket_col(F.col("term_hash"), stats.n_buckets)
    )

    encoder = _make_encoder(stats, positions=positions)
    waves = _bucket_waves(stats.n_buckets, n_waves)
    try:
        _run_waves(
            spark, stats, waves, done, enriched, encoder, postings_dir,
            term_stats_dir, ckpt_dir, mark, fail_after_waves,
        )
    finally:
        # always join the side threads — if a wave raises (including
        # the injected-failure test hook) an orphaned writer racing a
        # subsequent resume's overwrite would corrupt its table. Only
        # raise a side-job error when NO wave exception is already
        # propagating: replacing the wave's traceback would misreport
        # the failure cause (both commonly die of the same root event).
        import sys as _sys

        for t in side_threads:
            t.join()
        if side_errs:
            if _sys.exc_info()[0] is None:
                raise side_errs[0]
            print(
                f"[build] side job also failed during wave error: "
                f"{side_errs[0]!r}",
                flush=True,
            )
        if side_threads:
            mark("side_jobs_join")

    if not phase0_done:
        import dataclasses

        stats = dataclasses.replace(
            stats, n_docs=doc_stats_res["n_docs"], avgdl=doc_stats_res["avgdl"]
        )
        write_stats(out_dir, stats)
        _commit_checkpoint(spark, ckpt_dir, buckets=[-1])
        mark("final_stats")

    _write_lexicon(spark, out_dir, stats)
    mark("lexicon")
    return stats


def _run_waves(
    spark: SparkSession,
    stats: IndexStats,
    waves: list[list[int]],
    done: set[int],
    enriched: DataFrame,
    encoder,
    postings_dir: str,
    term_stats_dir: str,
    ckpt_dir: str,
    mark,
    fail_after_waves: int | None,
) -> None:
    committed = 0
    for wave_id, bucket_range in enumerate(waves):
        todo = [bk for bk in bucket_range if bk not in done]
        if not todo:
            continue
        with_pos = "pos" in enriched.columns
        cols = ["term_hash", "packed"] + (["pos"] if with_pos else [])
        wave_df = enriched.where(F.col("bucket").isin(todo)).select(*cols)
        # ONE shuffle of the corpus: hash-repartition token events on
        # (term_hash, shard) — every run lands whole in one partition —
        # then a Tungsten in-partition sort on two longs puts runs in
        # (term, doc_id) order (packed's high bits ARE doc_id) and the
        # streaming encoder consumes them as Arrow batches.
        # 4x-cores encode partitions: Zipf head terms make the hash
        # partitions' loads uneven, and with exactly one partition per
        # core the slowest (head-heavy) partition runs ~2x the mean and
        # caps scaling. Finer granularity lets the scheduler even the
        # load; run boundaries stay intact (hash partitioning by key).
        n_encode_parts = spark.sparkContext.defaultParallelism * 4
        # integer `div`, NOT double division: the partitioner's shard
        # value must agree bit-for-bit with the encoder's `ids // span`
        # or a (term, shard) run could split across two partitions and
        # emit colliding block_ids.
        shard_expr = F.expr(
            f"shiftrightunsigned(packed, 20) div {stats.shard_span}"
        )
        sorted_events = wave_df.repartition(
            n_encode_parts, F.col("term_hash"), shard_expr
        ).sortWithinPartitions(*(["term_hash", "packed"] + (["pos"] if with_pos else [])))
        blocks = sorted_events.mapInPandas(encoder, schema=POSTINGS_SCHEMA)
        mark(f"wave{wave_id}_plan")
        # `bucket` leads the sort so it satisfies partitionBy's required
        # ordering: otherwise Spark plans its own bucket-only sort in
        # place of this one and each file is interleaved term_hash runs,
        # whose row-group min/max statistics then never prune.
        (
            blocks.repartition("bucket", "term_hash")
            .sortWithinPartitions("bucket", "term_hash", "shard", "block_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(postings_dir)
        )
        mark(f"wave{wave_id}_encode_write")
        # per-(term, bucket) stats from the committed files — a
        # column-pruned, partition-pruned scan over the small int
        # columns only (n_bytes is precomputed in the encoder so the
        # binary posting columns are never re-read). This table then
        # serves both the lineage counters and the final lexicon, so
        # the full postings are scanned zero extra times.
        # term_stats is persisted across its two actions (write + the
        # per-bucket counter rollup) so the postings metadata columns
        # are scanned once per wave, not twice.
        stats_df = (
            read_parquet_tolerant(spark, postings_dir, POSTINGS_SCHEMA)
            .where(F.col("bucket").isin(todo))
            .groupBy("term_hash", "bucket")
            .agg(
                F.sum("n_docs").alias("df"),
                F.count("*").alias("n_blocks"),
                F.sum("tf_sum").alias("tokens"),
                F.sum("n_bytes").alias("bytes"),
            )
            .persist()
        )
        (
            stats_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(term_stats_dir)
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
        mark(f"wave{wave_id}_term_stats+counters")
        _commit_checkpoint(spark, ckpt_dir, buckets=todo, per_bucket=per_bucket)
        committed += 1
        if fail_after_waves is not None and committed >= fail_after_waves:
            raise RuntimeError(f"injected failure after {committed} committed wave(s)")


def _bucket_waves(n_buckets: int, n_waves: int) -> list[list[int]]:
    n_waves = max(1, min(n_waves, n_buckets))
    per = -(-n_buckets // n_waves)
    return [list(range(i, min(i + per, n_buckets))) for i in range(0, n_buckets, per)]


_EMPTY_COUNTERS = {"terms": 0, "blocks": 0, "postings": 0, "tokens": 0, "bytes": 0}


def _commit_checkpoint(
    spark: SparkSession,
    ckpt_dir: str,
    buckets: Iterable[int],
    per_bucket: dict | None = None,
) -> None:
    per_bucket = per_bucket or {}
    rows = []
    for bk in buckets:
        c = per_bucket.get(int(bk), _EMPTY_COUNTERS)
        rows.append(
            (
                int(bk), "done",
                int(c["terms"]), int(c["blocks"]),
                int(c["postings"]), int(c["tokens"]), int(c["bytes"]),
            )
        )
    # pandas input → Arrow path: a plain-Python-list createDataFrame
    # routes every evaluation through a fresh (non-reused) Python
    # worker — measured ~5 s per tiny job vs ~0.2 s via Arrow.
    pdf = pd.DataFrame(
        rows,
        columns=["bucket", "status", "terms", "blocks",
                 "postings", "tokens", "bytes"],
    ).astype({"bucket": "int32", "terms": "int64", "blocks": "int64",
              "postings": "int64", "tokens": "int64", "bytes": "int64"})
    df = spark.createDataFrame(pdf).withColumn(
        "committed_at", F.current_timestamp()
    )
    df.coalesce(1).write.mode("append").parquet(ckpt_dir)


def _write_lexicon(spark: SparkSession, out_dir: str, stats: IndexStats) -> None:
    # derived from the per-wave term_stats rollup (one row per
    # (term_hash, bucket)) joined back to term strings through the
    # term_dict — never a re-scan of the binary postings. Both sides
    # are vocab-sized; the join key is the hash both are bucketed by.
    term_stats = read_parquet_tolerant(
        spark, os.path.join(out_dir, "term_stats"), TERM_STATS_SCHEMA
    )
    term_dict = read_parquet_tolerant(
        spark, os.path.join(out_dir, "term_dict"), TERM_DICT_SCHEMA
    )
    # 64-bit hash-collision detection (probability ~n²/2^65, ≈3e-6 for
    # a 10M-term vocabulary): a collision would silently merge two
    # terms' postings and double-count df through the lexicon join.
    # The check is one agg over the vocab-sized term_dict — cheap.
    cnt = term_dict.agg(
        F.countDistinct("term").alias("nt"),
        F.countDistinct("term_hash").alias("nh"),
    ).collect()[0]
    if int(cnt["nt"]) != int(cnt["nh"]):
        raise RuntimeError(
            f"xxhash64 term collision: {int(cnt['nt'])} distinct terms map to "
            f"{int(cnt['nh'])} distinct hashes; rebuild with a salted hash "
            "(e.g. xxhash64(term, seed)) for the colliding vocabulary"
        )
    lex = term_stats.join(term_dict, "term_hash").select(
        "term", "term_hash", "bucket", "df", "n_blocks",
        idf_col(stats.n_docs, F.col("df")).alias("idf"),
        # collection term frequency (sum of tf over the whole corpus) —
        # free here (term_stats already aggregates it as `tokens` for
        # the lineage counters); ranking.LMDirichlet's collection
        # language model reads it per query term from the lexicon probe
        F.col("tokens").alias("ctf"),
    )
    lex.write.mode("overwrite").parquet(os.path.join(out_dir, "lexicon"))

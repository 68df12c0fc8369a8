"""Time-partitioned indexes: ES data-stream / ILM rollover shape.

A web crawl is time-partitioned by nature (the input table carries
``warc_ts``), and at 10^12 docs the only viable index lifecycle is
per-period generations: new periods append (rollover), old periods
drop wholesale (retention), and a time-filtered query must touch ONLY
the overlapping generations — at 100 TB, "last week" over a 3-year
corpus is ~1% of segments, so routing is a 100× cost lever before a
single posting is read. The reference engine has one monolithic index
and no lifecycle at all (README.md's 4-line Scala job; the serving
map reloads whole, server/src/services/search.service.js:12-16).

Layout under ``out_dir``:

  periods/<name>/          one COMPLETE sub-index per calendar period
                           (same block/posting format; phrase/fuzzy/
                           facets all work per period)
  periods/<name>/doc_ts/   (doc_id, ts_us) sidecar — 16 bytes/doc,
                           the boundary-period eligibility source
  periods.json             manifest: per period the ACTUAL min/max
                           doc timestamp (tighter than the calendar
                           bounds) + doc count; written temp+rename
                           LAST, so its presence marks completion and
                           snapshots never see a torn manifest

Query semantics (``search_time_range``, ES range-filter semantics):
statistics are GLOBAL over the SELECTED periods (N, avgdl, df summed
across them — exactly :func:`~.query_exec.search_topk_segments`'s
federation, which is what ES does when the router picks the backing
indexes of a data stream), and the time range is a NON-SCORING
eligibility filter: periods fully inside the range serve as-is;
boundary periods mask per-doc via the sidecar BEFORE top-k selection.
Rank- and score-identical to filtering the union corpus by test.

Scale shape: routing reads the manifest only; interior periods run
the unchanged per-segment scorers (cost ∝ query df in that period);
a boundary period's mask is its sidecar pruned to the period — never
a corpus scan; the cross-period merge is k rows per period. Rollover
appends never rewrite existing periods (append-only, snapshot-safe);
retention drops are manifest-first then directory removal, so a crash
leaves only an orphan directory, never a manifest pointing at deleted
bytes.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index_build import build_index
from .query_exec import (
    DL_BROADCAST_MAX_DOCS,
    Index,
    _driver_search_pairs,
    _empty_df,
    _execute_topk,
    _federated_plan,
)

_MANIFEST = "periods.json"
_INTERVALS = ("year", "quarter", "month", "week", "day", "hour")

TIME_TOPK_SCHEMA = "period string, doc_id long, score double"


def _ts_us(col):
    # NTZ-safe epoch micros under the pinned-UTC session (same idiom
    # as sessions.py)
    return F.unix_micros(col.cast("timestamp"))


def _period_name(interval: str):
    fmt = {
        "year": "yyyy", "quarter": "yyyy-MM", "month": "yyyy-MM",
        "week": "yyyy-MM-dd", "day": "yyyy-MM-dd",
        "hour": "yyyy-MM-dd-HH",
    }[interval]
    return fmt


def _write_manifest(out_dir: str, interval: str, periods: list[dict]) -> None:
    tmp = os.path.join(out_dir, _MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(
            {"interval": interval,
             "periods": sorted(periods, key=lambda p: p["name"])},
            f,
        )
    os.replace(tmp, os.path.join(out_dir, _MANIFEST))


def _build_periods(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    ts_col: str,
    interval: str,
    build_kw: dict,
    concurrency: int = 1,
) -> list[dict]:
    """One sub-index + sidecar per calendar period present in
    ``docs``; returns the new manifest entries. The period list is a
    small collect (bounded by the corpus' calendar span, never its
    row count); each slice build prunes by the period key.
    ``concurrency`` > 1 runs period builds as concurrent Spark jobs
    (see multifield.build_multifield_index — same trade: sequential
    saturates a real cluster per period, concurrency amortizes fixed
    costs at small scale; bytes identical either way)."""
    key = F.date_format(
        F.date_trunc(interval, F.col(ts_col).cast("timestamp")),
        _period_name(interval),
    )
    tagged = docs.withColumn("_period", key)
    rows = (
        tagged.groupBy("_period")
        .agg(
            F.min(_ts_us(F.col(ts_col))).alias("min_us"),
            F.max(_ts_us(F.col(ts_col))).alias("max_us"),
            F.count("*").alias("n_docs"),
        )
        .collect()
    )
    def _one(r) -> dict:
        name = r["_period"]
        pdir = os.path.join(out_dir, "periods", name)
        part = tagged.where(F.col("_period") == name)
        build_index(spark, part.select("doc_id", "text"), pdir, **build_kw)
        (
            part.select(
                "doc_id", _ts_us(F.col(ts_col)).alias("ts_us")
            )
            .repartition(1)
            .write.mode("overwrite")
            .parquet(os.path.join(pdir, "doc_ts"))
        )
        return {"name": name, "min_us": int(r["min_us"]),
                "max_us": int(r["max_us"]), "n_docs": int(r["n_docs"])}

    ordered = sorted(rows, key=lambda r: r["_period"])
    if concurrency > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=concurrency) as ex:
            return list(ex.map(_one, ordered))
    return [_one(r) for r in ordered]


def build_time_partitioned_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    ts_col: str = "warc_ts",
    interval: str = "month",
    concurrency: int = 1,
    **build_kw,
) -> "TimePartitionedIndex":
    """``docs``: (doc_id, text, <ts_col>). One complete sub-index per
    calendar period of ``ts_col``."""
    if interval not in _INTERVALS:
        raise ValueError(f"interval must be one of {_INTERVALS}")
    entries = _build_periods(spark, docs, out_dir, ts_col, interval,
                             build_kw, concurrency=concurrency)
    if not entries:
        raise ValueError("docs produced no periods (empty input?)")
    _write_manifest(out_dir, interval, entries)
    return TimePartitionedIndex.load(spark, out_dir)


@dataclass
class TimePartitionedIndex:
    spark: SparkSession
    out_dir: str
    interval: str
    periods: list[dict]  # manifest order: name asc
    _idx: dict | None = None

    @classmethod
    def load(cls, spark: SparkSession, out_dir: str) -> "TimePartitionedIndex":
        with open(os.path.join(out_dir, _MANIFEST)) as f:
            m = json.load(f)
        return cls(spark=spark, out_dir=out_dir, interval=m["interval"],
                   periods=m["periods"])

    def index(self, name: str) -> Index:
        if self._idx is None:
            self._idx = {}
        ix = self._idx.get(name)
        if ix is None:
            ix = self._idx[name] = Index.load(
                self.spark, os.path.join(self.out_dir, "periods", name)
            )
        return ix

    def doc_ts_path(self, name: str) -> str:
        return os.path.join(self.out_dir, "periods", name, "doc_ts")


def rollover_append(
    tpi: TimePartitionedIndex,
    docs: DataFrame,
    ts_col: str = "warc_ts",
    **build_kw,
) -> TimePartitionedIndex:
    """Append NEW periods (the data-stream rollover write path).
    Existing periods are immutable — a slice landing in one is an
    error (late data belongs in the streaming-delta path, compacted
    into a new generation, not an in-place rewrite that would break
    snapshots)."""
    entries = _build_periods(tpi.spark, docs, tpi.out_dir, ts_col,
                             tpi.interval, build_kw)
    dup = {e["name"] for e in entries} & {p["name"] for p in tpi.periods}
    if dup:
        raise ValueError(
            f"period(s) {sorted(dup)} already exist; periods are "
            "append-only (route late data through the streaming deltas)"
        )
    _write_manifest(tpi.out_dir, tpi.interval, tpi.periods + entries)
    return TimePartitionedIndex.load(tpi.spark, tpi.out_dir)


def drop_periods(
    tpi: TimePartitionedIndex, before_us: int
) -> TimePartitionedIndex:
    """Retention (ILM delete phase): drop every period whose docs all
    predate ``before_us`` (epoch micros). Manifest rewrites FIRST
    (temp+rename), directories removed after — a crash strands an
    orphan dir, never a manifest entry pointing at deleted bytes.
    Cost is metadata + unlink: no index bytes are read or written."""
    keep = [p for p in tpi.periods if p["max_us"] >= int(before_us)]
    dead = [p for p in tpi.periods if p["max_us"] < int(before_us)]
    if not keep:
        raise ValueError("retention would drop every period")
    _write_manifest(tpi.out_dir, tpi.interval, keep)
    for p in dead:
        shutil.rmtree(os.path.join(tpi.out_dir, "periods", p["name"]),
                      ignore_errors=True)
    return TimePartitionedIndex.load(tpi.spark, tpi.out_dir)


def route_time_range(
    tpi: TimePartitionedIndex, lo_us: int, hi_us: int
) -> dict:
    """Manifest-only routing for ``[lo_us, hi_us)``: which periods are
    fully inside (serve as-is), which overlap the boundary (need the
    per-doc mask), and which are pruned outright."""
    interior, boundary, pruned = [], [], []
    for p in tpi.periods:
        if p["min_us"] >= hi_us or p["max_us"] < lo_us:
            pruned.append(p["name"])
        elif lo_us <= p["min_us"] and p["max_us"] < hi_us:
            interior.append(p["name"])
        else:
            boundary.append(p["name"])
    return {"interior": interior, "boundary": boundary, "pruned": pruned}


def _allowed_ids(tpi: TimePartitionedIndex, name: str,
                 lo_us: int, hi_us: int) -> np.ndarray:
    """Driver-side eligible doc_ids of a boundary period: one pruned
    sidecar read (period-sized, 16 B/doc), sorted for searchsorted."""
    import pyarrow.dataset as pads

    ds = pads.dataset(tpi.doc_ts_path(name), format="parquet")
    tbl = ds.to_table(
        columns=["doc_id"],
        filter=(pads.field("ts_us") >= lo_us) & (pads.field("ts_us") < hi_us),
    )
    return np.sort(tbl["doc_id"].to_numpy(zero_copy_only=False))


def search_time_range(
    tpi: TimePartitionedIndex,
    query_text: str,
    lo_us: int,
    hi_us: int,
    k: int = 10,
    mode: str = "or",
    serving: str = "auto",
    algorithm: str = "auto",
    synonyms: dict[str, str] | None = None,
) -> DataFrame:
    """Top-k over ``[lo_us, hi_us)`` (epoch micros): manifest routing,
    global statistics over the selected periods, per-doc boundary
    masks before top-k (see module docstring). Returns
    ``(period, doc_id, score)`` ordered (score desc, period asc,
    doc_id asc)."""
    if serving not in ("auto", "driver", "spark"):
        raise ValueError(f"serving must be auto|driver|spark, got {serving!r}")
    if hi_us <= lo_us:
        raise ValueError("need lo_us < hi_us")
    lo_us, hi_us = int(lo_us), int(hi_us)
    route = route_time_range(tpi, lo_us, hi_us)
    names = sorted(route["interior"] + route["boundary"])
    if not names:
        return _empty_df(tpi.spark, TIME_TOPK_SCHEMA)
    boundary = set(route["boundary"])
    idxs = [tpi.index(n) for n in names]
    plan = _federated_plan(idxs, query_text, synonyms, mode, algorithm)
    if serving == "auto":
        serving = (
            "driver"
            if all(ix.dl_array() is not None for ix in idxs)
            else "spark"
        )

    rows: list[tuple[str, int, float]] = []
    parts: list[DataFrame] = []
    for i, ix, stats_g, ordered, algo in plan:
        name = names[i]
        if name not in boundary:
            if serving == "driver":
                rows.extend(
                    (name, d, s)
                    for d, s in _driver_search_pairs(
                        ix, ordered, sorted(h for h, _, _ in ordered),
                        k, mode, algo, exclude=ix.tombstone_array(),
                        stats=stats_g,
                    )
                )
            else:
                res = _execute_topk(ix, stats_g, ordered, k, mode, "spark",
                                    algo, None)
                parts.append(res.select(
                    F.lit(name).alias("period"), "doc_id", "score"
                ))
            continue
        # boundary period: the range is an eligibility mask applied
        # BEFORE top-k (masking after would under-fill k)
        if serving == "driver":
            if ix.dl_array() is None:
                raise ValueError(
                    f"period {name} too large for driver serving; use "
                    "serving='spark'"
                )
            allowed = _allowed_ids(tpi, name, lo_us, hi_us)
            k_all = ix.stats.num_shards * ix.stats.shard_span
            pairs = _driver_search_pairs(
                ix, ordered, sorted(h for h, _, _ in ordered), k_all,
                mode, "dense", exclude=ix.tombstone_array(),
                stats=stats_g,
            )
            if pairs:
                ids = np.fromiter((d for d, _ in pairs), dtype=np.int64,
                                  count=len(pairs))
                j = np.searchsorted(allowed, ids)
                ok = (j < allowed.size) & (
                    allowed[np.minimum(j, max(allowed.size - 1, 0))] == ids
                ) if allowed.size else np.zeros(len(pairs), dtype=bool)
                kept = [p for p, good in zip(pairs, ok) if good]
                rows.extend((name, d, s) for d, s in kept[:k])
        else:
            flt = (
                tpi.spark.read.parquet(tpi.doc_ts_path(name))
                .where(
                    (F.col("ts_us") >= lo_us) & (F.col("ts_us") < hi_us)
                )
                .select("doc_id")
            )
            res = _execute_topk(ix, stats_g, ordered, k, mode, "spark",
                                algo, flt)
            parts.append(res.select(
                F.lit(name).alias("period"), "doc_id", "score"
            ))

    spark = tpi.spark
    if parts:
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if rows:
            out = out.unionByName(spark.createDataFrame(
                rows, TIME_TOPK_SCHEMA
            ))
        return out.orderBy(
            F.col("score").desc(), F.col("period").asc(),
            F.col("doc_id").asc()
        ).limit(k)
    if not rows:
        return _empty_df(spark, TIME_TOPK_SCHEMA)
    rows.sort(key=lambda r: (-r[2], r[0], r[1]))
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows[:k], columns=["period", "doc_id", "score"])
        .astype({"doc_id": "int64", "score": "float64"})
    )

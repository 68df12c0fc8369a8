"""spark-submit entrypoint: index maintenance (deletes + vacuum).

    spark-submit --py-files dist/hadoop_search_engine_spark.zip \
        jobs/maintain.py --index /path/to/index --delete 12,34,56
    ... --delete-file /path/ids.parquet   (a doc_id column)
    ... --vacuum                          (physical purge + stats refresh)
    ... --report                          (print index counters)

    spark-submit ... jobs/maintain.py \
        --merge /idx/base,/idx/delta1,/idx/delta2 --index /idx/merged
    (physical segment merge: segments built with the same shard_span;
    doc_id offsets land in <merged>/segments.json)

The reference engine has no maintenance path — removing a document
means re-running the whole MapReduce build and restarting the server
(README.md:423-446). Here deletes are O(|delete set|) tombstones
served immediately, and vacuum is one distributed rewrite pass.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--index",
                    help="index dir (required except --plan-compaction)")
    ap.add_argument("--delete", help="comma-separated doc_ids to tombstone")
    ap.add_argument("--delete-file", help="parquet with a doc_id column")
    ap.add_argument("--delete-query",
                    help="ES _delete_by_query: tombstone every doc the "
                         "query matches (full match set, no top-k cut)")
    ap.add_argument("--delete-mode", choices=("or", "and"), default="or",
                    help="with --delete-query: disjunctive or conjunctive "
                         "match")
    ap.add_argument("--vacuum", action="store_true")
    ap.add_argument("--report", action="store_true")
    ap.add_argument(
        "--merge",
        help="comma-separated source index dirs to merge INTO --index",
    )
    ap.add_argument(
        "--reshard",
        help="source index dir: rebuild it INTO --index with a new "
             "physical layout (decode+encode over index bytes, corpus "
             "never re-tokenized; tombstones vacuumed on the way)",
    )
    ap.add_argument("--shard-span", type=int, default=None,
                    help="with --reshard: new shard span")
    ap.add_argument("--n-buckets", type=int, default=16,
                    help="with --reshard: new bucket count")
    ap.add_argument("--block-size", type=int, default=None,
                    help="with --reshard: new posting block size")
    ap.add_argument(
        "--prune",
        help="source index dir: static-prune it INTO --index (drop "
             "terms outside the df band; carried doc lengths keep "
             "surviving-term scores identical)",
    )
    ap.add_argument("--min-df", type=int, default=None,
                    help="with --prune: drop terms with df below this")
    ap.add_argument("--max-df", type=int, default=None,
                    help="with --prune: drop terms with df above this")
    ap.add_argument("--max-df-ratio", type=float, default=None,
                    help="with --prune: drop terms with df/n_docs above this")
    ap.add_argument(
        "--snapshot",
        help="destination dir: point-in-time snapshot of --index "
             "(hardlink + CRC manifest; no Spark job)",
    )
    ap.add_argument(
        "--restore",
        help="snapshot dir: verify + restore it INTO --index "
             "(refused if --index is non-empty; no Spark job)",
    )
    ap.add_argument(
        "--verify-snapshot",
        help="snapshot dir: re-checksum against its manifest and "
             "print the JSON verdict (no Spark job)",
    )
    ap.add_argument(
        "--plan-compaction",
        help="comma-separated segment dirs: print a size-tiered merge "
             "plan (JSON; merges largest-first per group, "
             "tombstone-heavy segments routed to vacuum) without "
             "touching anything — no Spark job",
    )
    ap.add_argument("--alias-root", metavar="DIR",
                    help="directory holding aliases.json for the "
                         "alias actions below")
    ap.add_argument("--set-alias", metavar="NAME",
                    help="point NAME at --index (atomic temp+rename "
                         "flip; the zero-downtime reindex swap)")
    ap.add_argument("--drop-alias", metavar="NAME")
    ap.add_argument("--list-aliases", action="store_true")
    ap.add_argument("--usage", type=int, default=None, metavar="TOP",
                    help="print the TOP terms by compressed posting "
                         "bytes (df, blocks, bytes, share) — the "
                         "prune-decision report")
    ap.add_argument("--build-impact", type=int, default=None,
                    metavar="M",
                    help="build the impact-ordered champion-list "
                         "sidecar with M champions per head term "
                         "(operators/impact.py); serves jobs/search.py"
                         " --algorithm impact")
    ap.add_argument("--impact-df-min", type=int, default=None,
                    help="with --build-impact: only terms with df >= "
                         "this get champions (default 4*M)")
    args = ap.parse_args(argv)
    if args.set_alias or args.drop_alias or args.list_aliases:
        from hadoop_search_engine_spark.operators.index_maint import (
            drop_alias,
            read_aliases,
            set_alias,
        )

        if not args.alias_root:
            ap.error("alias actions need --alias-root")
        if args.set_alias:
            if not args.index:
                ap.error("--set-alias needs --index (the target)")
            print(json.dumps(
                {"aliases": set_alias(args.alias_root, args.set_alias,
                                      args.index)}))
        if args.drop_alias:
            print(json.dumps(
                {"aliases": drop_alias(args.alias_root, args.drop_alias)}))
        if args.list_aliases:
            print(json.dumps({"aliases": read_aliases(args.alias_root)}))
        return
    if args.verify_snapshot:
        from hadoop_search_engine_spark.operators.index_maint import (
            verify_snapshot,
        )

        v = verify_snapshot(args.verify_snapshot)
        print(json.dumps(v, indent=2))
        if not v["ok"]:
            sys.exit(1)
        return
    if args.snapshot or args.restore:
        from hadoop_search_engine_spark.operators.index_maint import (
            restore_snapshot,
            snapshot_index,
        )

        if not args.index:
            ap.error("--index is required for --snapshot/--restore")
        if args.snapshot:
            m = snapshot_index(args.index, args.snapshot)
            print(json.dumps({"snapshot": args.snapshot,
                              "n_files": m["n_files"],
                              "total_bytes": m["total_bytes"]}))
        if args.restore:
            restore_snapshot(args.restore, args.index)
            print(json.dumps({"restored": args.index,
                              "from": args.restore}))
        return
    if args.plan_compaction:
        import json as _json

        from hadoop_search_engine_spark.operators.index_maint import (
            plan_compaction,
        )

        plan = plan_compaction(
            [d for d in args.plan_compaction.split(",") if d.strip()]
        )
        plan["profiles"] = [
            {k: (list(v) if isinstance(v, tuple) else v)
             for k, v in p.items()}
            for p in plan["profiles"]
        ]
        print(_json.dumps(plan, indent=2))
        return
    if not (args.delete or args.delete_file or args.delete_query
            or args.vacuum or args.report
            or args.merge or args.reshard or args.prune
            or args.build_impact is not None):
        ap.error(
            "nothing to do: pass --delete/--delete-file/--delete-query/"
            "--vacuum/--merge/--reshard/--prune/--plan-compaction/"
            "--report/--build-impact"
        )
    if not args.index:
        ap.error("--index is required for this action")

    from pyspark.sql import SparkSession

    from hadoop_search_engine_spark.operators.index_maint import (
        delete_docs,
        merge_indexes,
        vacuum_index,
    )
    from hadoop_search_engine_spark.operators.query_exec import Index
    from hadoop_search_engine_spark.session import get_spark

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="hse-maintain")
    if args.merge:
        srcs = [s for s in args.merge.split(",") if s.strip()]
        idx = merge_indexes(spark, srcs, args.index)
        print(f"merged {len(srcs)} segments -> {args.index}")
    elif args.reshard:
        from hadoop_search_engine_spark.operators.index_maint import (
            reshard_index,
        )

        kw = {"n_buckets": args.n_buckets}
        if args.shard_span is not None:
            kw["shard_span"] = args.shard_span
        if args.block_size is not None:
            kw["block_size"] = args.block_size
        reshard_index(spark, args.reshard, args.index, **kw)
        idx = Index.load(spark, args.index)
        print(f"resharded {args.reshard} -> {args.index}")
    elif args.prune:
        from hadoop_search_engine_spark.operators.index_maint import (
            prune_index,
        )

        prune_index(spark, args.prune, args.index, min_df=args.min_df,
                    max_df=args.max_df, max_df_ratio=args.max_df_ratio)
        idx = Index.load(spark, args.index)
        print(f"pruned {args.prune} -> {args.index}")
    else:
        idx = Index.load(spark, args.index)

    if args.delete:
        ids = [int(x) for x in args.delete.split(",") if x.strip()]
        total = delete_docs(idx, ids)
        print(f"tombstones: {total}")
    if args.delete_file:
        total = delete_docs(idx, spark.read.parquet(args.delete_file))
        print(f"tombstones: {total}")
    if args.delete_query:
        from hadoop_search_engine_spark.operators.index_maint import (
            delete_by_query,
        )

        out = delete_by_query(idx, args.delete_query, mode=args.delete_mode)
        print(json.dumps(out))
    if args.vacuum:
        idx = vacuum_index(idx)
        print("vacuum: done")
    if args.report:
        print(json.dumps(idx.report(), indent=2))
    if args.build_impact is not None:
        from hadoop_search_engine_spark.operators.impact import (
            build_impact_lists,
        )

        out = build_impact_lists(idx, m=args.build_impact,
                                 df_min=args.impact_df_min)
        print(json.dumps(out))
    if args.usage:
        from hadoop_search_engine_spark.operators.index_maint import (
            index_usage,
        )

        for r in index_usage(idx, top=args.usage).collect():
            print(json.dumps({
                "term": r["term"], "df": r["df"],
                "n_blocks": r["n_blocks"], "bytes": r["bytes"],
                "bytes_share": r["bytes_share"],
            }))
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])

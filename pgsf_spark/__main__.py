"""CLI: the reference's command-line workflow, one subcommand each.

  python -m pgsf_spark describe  <table>     (≡ ./tabledesc.py)
  python -m pgsf_spark ddl       <table>     (≡ ./createtable.py --dry-run)
  python -m pgsf_spark bulk-load <table>     (≡ query_bulk + download + csv_to_postgres)
  python -m pgsf_spark sync      <table>     (≡ ./query_poll_table.py)
  python -m pgsf_spark sync-due              (≡ the cron `sync` tick)
  python -m pgsf_spark soql      "<query>"   (≡ ./query.py)
  python -m pgsf_spark sql       "<query>"   (ad-hoc ANSI SQL over test-data
                                              + store tables as temp views)
  python -m pgsf_spark abort     <table>     (≡ ./abort_refresh.py)
  python -m pgsf_spark recover               (≡ onreboot)
  python -m pgsf_spark state                 (show the __sync table)
  python -m pgsf_spark verify [--sf-dir D] [q ...]   (oracle sweep)
  python -m pgsf_spark gc <table> [--keep N] [--ttl-days D]
                                             (≡ ./delete_old_jobs_data.sh;
                                              compact + vacuum old versions)
  python -m pgsf_spark corpus-build [--sf-dir D] [--table T]
                                             (materialize the filter->dedup->
                                              split training manifest into the
                                              store, partitioned by split)
  python -m pgsf_spark delete <table> --pk C --keys k1,k2
                                             (targeted hard delete; rewrites
                                              only the buckets holding the
                                              keys, reports versions still
                                              holding bytes until gc)
  python -m pgsf_spark optimize <table> [--zorder c1,c2] [--bloom c]
                                             (compact + ANALYZE + bloom
                                              indexes + vacuum, one pass)

Source/work dirs via --source-dir / --workdir (or PGSF_SPARK_SOURCE_DIR /
PGSF_SPARK_WORKDIR).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="pgsf_spark")
    p.add_argument("--source-dir", default=os.environ.get("PGSF_SPARK_SOURCE_DIR", "."))
    p.add_argument("--workdir", default=os.environ.get("PGSF_SPARK_WORKDIR", "./pgsf_work"))
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in ("describe", "ddl", "bulk-load", "sync", "abort"):
        sp = sub.add_parser(name)
        sp.add_argument("table")
    sq = sub.add_parser("soql")
    sq.add_argument("query")
    sq.add_argument("--include-deleted", action="store_true")
    sq.add_argument("--count", action="store_true")
    sub.add_parser("sync-due")
    sub.add_parser("recover")
    sub.add_parser("state")
    gc = sub.add_parser("gc")
    gc.add_argument("table")
    gc.add_argument("--keep", type=int, default=2)
    # the reference retains 7 days (delete_old_jobs_data.sh:6-11)
    gc.add_argument("--ttl-days", type=float, default=7.0)
    gc.add_argument("--no-compact", action="store_true")
    vf = sub.add_parser("verify")
    vf.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    vf.add_argument("queries", nargs="*")
    cb = sub.add_parser("corpus-build")
    cb.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    cb.add_argument("--table", default="training_manifest")
    ex = sub.add_parser("explain")
    ex.add_argument("query")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ex.add_argument("--full", action="store_true")
    sq2 = sub.add_parser("sql")
    sq2.add_argument("query")
    sq2.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sq2.add_argument("--limit", type=int, default=1000)
    dl = sub.add_parser("delete")
    dl.add_argument("table")
    dl.add_argument("--pk", required=True)
    dl.add_argument("--keys", required=True, help="comma-separated key values")
    op = sub.add_parser("optimize")
    op.add_argument("table")
    op.add_argument("--zorder", help="comma-separated columns to Z-order by")
    op.add_argument("--bloom", help="comma-separated columns to bloom-index")
    op.add_argument("--keep", type=int, default=2)
    args = p.parse_args(argv)

    if args.cmd == "optimize":
        # the full maintenance pass in dependency order: compact (+optional
        # Z-order layout) -> ANALYZE stats -> optional bloom indexes ->
        # vacuum old versions. One command = Delta's OPTIMIZE + ANALYZE +
        # VACUUM composed over this store.
        from pgsf_spark.operators.table_store import TableStore
        from pgsf_spark.session import get_spark

        spark = get_spark("pgsf_spark_optimize")
        store = TableStore(spark, os.path.join(args.workdir, "tables"))
        z = [c for c in (args.zorder or "").split(",") if c]
        store.compact(args.table, zorder_by=z or None)
        stats = store.analyze(args.table)
        blooms = {}
        for c in (b for b in (args.bloom or "").split(",") if b):
            blooms[c] = store.build_bloom_index(args.table, c)
        dropped = store.vacuum(args.table, keep=args.keep)
        print(
            json.dumps(
                {
                    "table": args.table,
                    "row_count": stats["row_count"],
                    "zorder_by": z,
                    "bloom_indexed_files": blooms,
                    "versions_dropped": len(dropped),
                }
            )
        )
        spark.stop()
        return 0

    if args.cmd == "delete":
        # compliance hard delete: bucket-pruned rewrite via write_partial
        from pgsf_spark.operators.deletion import delete_rows
        from pgsf_spark.operators.table_store import TableStore
        from pgsf_spark.session import get_spark

        spark = get_spark("pgsf_spark_delete")
        # same root the sync Engine publishes to (engine.py: workdir/tables)
        store = TableStore(spark, os.path.join(args.workdir, "tables"))
        keys = spark.createDataFrame(
            [(k,) for k in args.keys.split(",") if k], f"{args.pk} string"
        )
        stats = delete_rows(store, args.table, args.pk, keys)
        print(json.dumps(stats))
        spark.stop()
        return 0

    if args.cmd == "explain":
        # plan audit: the shuffle/broadcast/pushdown numbers PERF.md reasons
        # about and tests/test_plans.py asserts, as an operator-level tool
        from pgsf_spark.analytics.registry import QUERIES
        from pgsf_spark.session import get_spark

        if args.query not in QUERIES:
            print(json.dumps({"error": f"unknown query {args.query!r}"}))
            return 2
        spark = get_spark("pgsf_spark_explain")
        df = QUERIES[args.query].fn(spark, args.sf_dir)
        # execute so AQE finalizes THIS df's plan (a noop-sink write runs a
        # separate execution and leaves df lazy): codegen stages only exist
        # in the FINAL plan, where they appear as "*(n)" markers -- counting
        # the literal "WholeStageCodegen" in the lazy simple string always
        # read 0 (fixed round 6). The audit runs at small sf, so the
        # collect is bounded dev-tool cost, not a query-path pattern.
        try:
            df.collect()
        except Exception:
            pass  # audit still reports the lazy plan's joins/pushdown
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the finalized AQE string repeats the plan under "== Initial Plan
        # ==" -- audit only the final section or every count doubles
        plan = plan.split("== Initial Plan ==")[0]
        codegen_ids = set(re.findall(r"\*\((\d+)\)", plan))
        audit = {
            "query": args.query,
            "shuffle_exchanges": plan.count("Exchange hashpartitioning"),
            "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
            "sort_merge_joins": plan.count("SortMergeJoin"),
            "wholestage_codegen_spans": len(codegen_ids),
            "pushed_filter_scans": plan.count("PushedFilters: [")
            - plan.count("PushedFilters: []"),
            "cartesian_product": "CartesianProduct" in plan,
            "python_row_udfs": "BatchEvalPython" in plan,
            "arrow_pandas_stages": plan.count("MapInPandas") + plan.count("ArrowEvalPython"),
        }
        print(json.dumps(audit))
        if args.full:
            # java-side explainString takes an ExplainMode enum, not a str;
            # PythonSQLUtils is the helper pyspark's own df.explain() uses
            print(
                spark.sparkContext._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                ),
                file=sys.stderr,
            )
        spark.stop()
        return 0

    if args.cmd == "sql":
        # ad-hoc ANSI SQL over the registered surface: every test-data table
        # (via load_table, so nanos timestamps normalize) plus every table
        # published in the workdir store -- the general query door next to
        # the reference-parity `soql` one
        from pgsf_spark.operators.table_store import TableStore
        from pgsf_spark.session import get_spark
        from pgsf_spark.tables import TABLES, load_table

        spark = get_spark("pgsf_spark_sql")
        for t in TABLES:
            try:
                load_table(spark, args.sf_dir, t).createOrReplaceTempView(t)
            except Exception:  # noqa: BLE001 -- missing file: skip the view
                pass
        troot = os.path.join(args.workdir, "tables")
        if os.path.isdir(troot):
            store = TableStore(spark, troot)
            for t in os.listdir(troot):
                if store.exists(t):
                    store.read(t).createOrReplaceTempView(t)
        df = spark.sql(args.query)
        for row in df.limit(args.limit).toLocalIterator():
            print(json.dumps(row.asDict(), default=str))
        spark.stop()
        return 0

    if args.cmd == "verify":
        # correctness tool: registry queries vs their DuckDB oracles
        from pgsf_spark.session import get_spark
        from pgsf_spark.verify import verify_queries

        results = verify_queries(
            get_spark("pgsf_spark_verify"), args.sf_dir, only=args.queries
        )
        n_fail = sum(1 for v in results.values() if not v)
        print(json.dumps({"pass": len(results) - n_fail, "fail": n_fail}))
        return 1 if n_fail else 0

    if args.cmd == "corpus-build":
        # materialize the composed filter->dedup->split manifest into the
        # versioned store, hive-partitioned by split for downstream readers
        from pyspark.sql import functions as F

        from pgsf_spark.analytics.pipeline import q_training_manifest
        from pgsf_spark.operators.table_store import TableStore
        from pgsf_spark.session import get_spark

        spark = get_spark("pgsf_spark_corpus")
        store = TableStore(spark, args.workdir)
        df = q_training_manifest(spark, args.sf_dir)
        version = store.write(df, args.table, partition_by=["split"])
        out = store.read(args.table)
        counts = {
            r["split"]: r["n"]
            for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        print(json.dumps({"table": args.table, "version": version,
                          "rows": sum(counts.values()), "splits": counts}))
        spark.stop()
        return 0

    from pgsf_spark.engine import Engine
    from pgsf_spark.session import get_spark

    spark = get_spark("pgsf_spark_cli")
    eng = Engine(spark, args.source_dir, args.workdir)

    if args.cmd == "describe":
        td = eng.describe_table(args.table)
        from pgsf_spark.schema.mapping import write_mapping_csv

        print(write_mapping_csv(td.mapping), end="")
    elif args.cmd == "ddl":
        for stmt in eng.create_table_sql(args.table):
            print(stmt + ";")
    elif args.cmd == "bulk-load":
        n = eng.bulk_load(args.table)
        print(json.dumps({"table": args.table, "rows": n, "status": "loaded"}))
    elif args.cmd == "sync":
        print(json.dumps(eng.sync(args.table)))
    elif args.cmd == "sync-due":
        print(json.dumps(eng.sync_due()))
    elif args.cmd == "soql":
        out = eng.soql(args.query, include_deleted=args.include_deleted)
        if isinstance(out, int):
            print(out)
        else:
            # one JSON object per row, like ./query.py (query.py:96-97)
            for row in out.toLocalIterator():
                print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "abort":
        eng.abort(args.table)
        print(json.dumps({"table": args.table, "status": "error"}))
    elif args.cmd == "recover":
        print(json.dumps({"recovered": eng.recover()}))
    elif args.cmd == "state":
        from dataclasses import asdict

        for row in eng.state.all():
            print(json.dumps(asdict(row)))
    elif args.cmd == "gc":
        if not args.no_compact:
            eng.store.compact(args.table)
        victims = eng.store.vacuum(
            args.table, keep=args.keep, ttl_seconds=args.ttl_days * 86400
        )
        print(
            json.dumps(
                {"table": args.table, "compacted": not args.no_compact, "vacuumed": victims}
            )
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

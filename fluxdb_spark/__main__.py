"""CLI facade: the reference's four mutually-exclusive operating modes
(app/fluxdb/app.go:123-135) driven over the driver-generated test tables.

    python -m fluxdb_spark inject        --sf-dir DIR --store DIR
    python -m fluxdb_spark server        --store DIR --tablet T --height H
    python -m fluxdb_spark reproc-shard  --sf-dir DIR --out DIR --shards N
    python -m fluxdb_spark reproc-inject --out DIR --store DIR --shard K
    python -m fluxdb_spark reproc-inject --out DIR --store DIR --finalize
    python -m fluxdb_spark maintain      --store DIR [--expire-before H]
                                         [--delete-where P] [--redact-where P]
                                         [--history] [--prune-log N]
    python -m fluxdb_spark replicate     --src DIR --dst DIR --checkpoint DIR
    python -m fluxdb_spark materialize   --store DIR --dest DIR
                                         --checkpoint DIR [--group-by COLS]

inject (app.go:181-189): map the events table through the BlockMapper analog
and append to the durable change-log store with the monotonic-height guard.

server (app.go:191-197): answer a snapshot-at-height read (R1) from the
store, speculative overlay included via FluxEngine.

reproc-shard (app.go:204-247): phase A of the parallel backfill — hash-
scatter the change-log into N shards (the shuffle IS the transport) and
write per-shard files.

reproc-inject (app.go:261-329): phase B — ordered, hole-checked injection of
one shard with a per-shard checkpoint; `--finalize` replays the reference's
last-finisher reconciliation (VerifyAllShardsWritten +
WriteShardingFinalCheckpoint, write.go:82-103, 183-194).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _spark(mode: str | None = None) -> SparkSession:
    from fluxdb_spark.session import get_spark

    extra = None
    if mode == "server":
        # server mode answers many concurrent HTTP reads from handler
        # threads sharing this one session: FAIR scheduling keeps a big
        # scan from starving small point reads (scheduler.mode is a
        # context-init conf, so it must be set here, not per request;
        # QueryServer additionally tags each handler thread's jobs into
        # a "serve" pool)
        extra = {"spark.scheduler.mode": "FAIR"}
    return get_spark(app_name="fluxdb_spark_cli", extra_conf=extra)


def cmd_inject(args, spark: SparkSession) -> int:
    from fluxdb_spark.sources.changelog import changelog_from_events
    from fluxdb_spark.sources.tables import load_table
    from fluxdb_spark.store import ChangelogStore

    store = ChangelogStore(spark, args.store, data_format=args.data_format)
    log = changelog_from_events(load_table(spark, args.sf_dir, "events"))
    ckpt = store.write_batch(log)
    print(f"injected up to height {ckpt.height} (block {ckpt.block_id})")
    return 0


def cmd_server(args, spark: SparkSession) -> int:
    from fluxdb_spark.streaming.ingest import FluxEngine

    engine = FluxEngine(spark, args.store)
    retrieval = None
    if (
        args.ann_index
        or args.bm25_postings
        or args.kmeans_index
        or args.minhash_index
        or args.quantize_index
        or args.pq_index
        or args.binary_index
        or args.bpe_index
        or args.spans_index
    ):
        # retrieval routes and gauges read the STANDING materialized
        # indexes (index-retrieval mode maintains them) — the serving
        # facade covers temporal reads and retrieval alike, like the
        # reference's single server surface (fluxdb.go:104-154)
        from fluxdb_spark.streaming.retrieval import RetrievalService

        retrieval = RetrievalService(
            spark,
            ann_dest=args.ann_index,
            ann_dim=args.ann_dim,
            bm25_postings_dest=args.bm25_postings,
            bm25_doclen_dest=args.bm25_doclen,
            kmeans_dest=args.kmeans_index,
            minhash_dest=args.minhash_index,
            quantize_dest=args.quantize_index,
            pq_dest=args.pq_index,
            pq_dim=args.ann_dim,
            binary_dest=args.binary_index,
            bpe_dest=args.bpe_index,
            spans_dest=args.spans_index,
        )
    metrics_server = None
    if args.metrics_port is not None:
        # the reference's scrape endpoint (metrics/metrics.go:21-24): in
        # server mode the head/drift gauges come from the durable
        # checkpoint (no streaming query is attached here); retrieval
        # gauges (centroid drift, BM25 corpus stats) ride along when
        # indexes are configured
        import time as _time

        from fluxdb_spark.streaming.metrics import MetricsServer

        started = _time.time()

        def snapshot():
            ckpt = engine.checkpoint()
            out = {
                "fluxdb_head_block_number": (
                    None if ckpt is None else ckpt.height
                ),
                "fluxdb_head_time_drift_seconds": round(
                    _time.time() - started, 3
                ),
            }
            if retrieval is not None:
                out.update(retrieval.metrics())
            return out

        metrics_server = MetricsServer(snapshot, port=args.metrics_port)
        print(f"# metrics at {metrics_server.url}")
    query_server = None
    if args.serve_port is not None:
        # the serving read API (reference server mode fronts the facade
        # with protocol layers, README.md:42-49): overlay-aware temporal
        # reads over HTTP — see streaming/serve.QueryServer
        from fluxdb_spark.streaming.serve import QueryServer

        query_server = QueryServer(
            engine, port=args.serve_port, retrieval=retrieval
        )
        print(f"# serving reads at {query_server.url}/v1/state_at")
    try:
        rows = (
            engine.state_at(args.tablet, args.height)
            .select("primary_key", "height", "value")
            .orderBy("primary_key")
            .collect()
        )
        for r in rows[: args.limit]:
            print(f"{r.primary_key}\t{r.height}\t{r.value}")
        print(
            f"# {len(rows)} live keys in '{args.tablet}' at height "
            f"{args.height}"
        )
        if metrics_server is not None:
            # prove the endpoint over a real HTTP round-trip before the
            # one-shot read exits (long-running servers just keep it up)
            from urllib.request import urlopen

            with urlopen(metrics_server.url, timeout=10) as resp:
                print(resp.read().decode(), end="")
        if query_server is not None:
            from urllib.request import urlopen

            probe = (
                f"{query_server.url}/v1/state_at?tablet={args.tablet}"
                f"&height={args.height}&limit={args.limit}"
            )
            with urlopen(probe, timeout=30) as resp:
                print(resp.read().decode())
            if args.serve_seconds > 0:
                import time as _time

                _time.sleep(args.serve_seconds)
    finally:
        if query_server is not None:
            query_server.close()
        if metrics_server is not None:
            metrics_server.close()
    return 0


def cmd_reproc_shard(args, spark: SparkSession) -> int:
    from fluxdb_spark.operators.sharding import scatter
    from fluxdb_spark.sources.changelog import changelog_from_events
    from fluxdb_spark.sources.tables import load_table

    log = changelog_from_events(load_table(spark, args.sf_dir, "events"))
    sharded = scatter(log, args.shards)
    sharded.write.mode("overwrite").partitionBy("shard").parquet(args.out)
    print(f"scattered into {args.shards} shards at {args.out}")
    return 0


def cmd_reproc_inject(args, spark: SparkSession) -> int:
    from fluxdb_spark.store import ChangelogStore, WriteConsistencyError

    store = ChangelogStore(spark, args.store)
    if args.finalize:
        heights = []
        for s in range(args.shards):
            ckpt = store.checkpoint(str(s))
            if ckpt is None:
                print(f"shard {s} missing its checkpoint", file=sys.stderr)
                return 1
            heights.append(ckpt.height)
        # min-of-max: the height to which every entity is complete (same
        # rule as operators/sharding.reconcile_checkpoint; the reference's
        # equal-heights requirement is the special case where every shard
        # got a record per block, sharder.go:153-160)
        final = min(heights)
        store._write_checkpoint(final, None, final)
        store.delete_shard_checkpoints()
        print(f"final checkpoint written at height {final}")
        return 0
    if args.shard is None:
        print("--shard K or --finalize required", file=sys.stderr)
        return 2
    if store.checkpoint(str(args.shard)) is None and args.shard == 0:
        # reference CheckCleanDBForSharding (read.go:439-452): only a clean
        # store may begin shard injection
        try:
            store.check_clean_for_sharding()
        except WriteConsistencyError as e:
            print(str(e), file=sys.stderr)
            return 1
    rows = spark.read.parquet(args.out).filter(F.col("shard") == args.shard)
    ckpt = store.write_batch(rows.drop("shard"), shard=str(args.shard), force=True)
    print(f"shard {args.shard} injected up to height {ckpt.height}")
    return 0


def cmd_maintain(args, spark: SparkSession) -> int:
    """Maintenance mode (beyond the reference's four: its KV store
    amortizes small writes internally; the parquet store needs an explicit
    OPTIMIZE pass): roll back torn batches, compact small files per height
    band, and optionally prune superseded index snapshots, expire history,
    run physical DML (--delete-where / --redact-where: GDPR erasure and
    PII redaction via copy-on-write band rewrites), and print the commit
    log (--history)."""
    from fluxdb_spark.store import ChangelogStore, IndexStore

    store = ChangelogStore(spark, args.store)
    rolled = store.recover()
    stats = store.compact(
        target_rows_per_file=args.target_rows,
        min_files=args.min_files,
        zorder=args.zorder,
    )
    print(
        f"recovered {rolled} torn batch(es); compacted {stats['bands']} "
        f"band(s): {stats['files_before']} -> {stats['files_after']} files"
    )
    if args.expire_before is not None:
        r = store.expire_bands(args.expire_before)
        print(
            f"expired {r['bands_dropped']} band(s): {r['rows_dropped']} "
            f"row(s) dropped, {r['rows_rebased']} live-tail row(s) rebased"
        )
    if args.index is not None:
        ixs = IndexStore(spark, args.index)
        if args.reindex_height is not None:
            r = ixs.reindex(
                store.changelog(),
                args.reindex_height,
                lower_bound=args.reindex_lower_bound,
                dry_run=args.reindex_dry_run,
            )
            verb = "would rebuild" if args.reindex_dry_run else "rebuilt"
            print(
                f"reindex: {verb} {r['index_count']} snapshot(s) across "
                f"{r['tablet_count']} tablet(s)"
            )
            if args.reindex_dry_run:
                for key, heights in sorted(r["entries"].items()):
                    print(f"  {key}: heights {heights}")
        if args.reindex_height is None or not args.reindex_dry_run:
            removed = ixs.prune(args.prune_frequency)
            print(f"pruned {removed} superseded index snapshot(s)")
    if args.delete_where is not None:
        r = store.delete_where(args.delete_where)
        print(
            f"deleted {r['rows_matched']} row(s) across "
            f"{r['bands_rewritten']} rewritten band(s)"
        )
    if args.redact_where is not None:
        r = store.redact_where(args.redact_where, args.redact_to)
        print(
            f"redacted {r['rows_matched']} row(s) across "
            f"{r['bands_rewritten']} rewritten band(s)"
        )
    if args.prune_log is not None:
        log = store._backend.commit_log
        log.checkpoint_log()
        pruned = log.prune_entries(keep_last=args.prune_log)
        print(f"checkpointed the commit log; pruned {pruned} entry file(s)")
    if args.fsck or args.fsck_remove:
        r = store.fsck(remove_orphans=args.fsck_remove)
        print(
            f"fsck: {len(r['missing'])} missing, {len(r['orphans'])} "
            f"orphan(s), {r['removed']} removed"
        )
        for path in r["missing"]:
            print(f"  MISSING {path}")
        for path in r["orphans"]:
            print(f"  orphan {path}")
    if args.history:
        for row in store.history().collect():
            print(
                f"v{row.version}\t{row.action}\t{row.kind}"
                f"\t+{row.files_added}/-{row.files_removed}"
                + (f"\thi={row.hi}" if row.hi is not None else "")
            )
    return 0


def cmd_replicate(args, spark: SparkSession) -> int:
    """Replication mode (beyond the reference's four): follow the source
    store's commit log and mirror every committed batch into a replica
    through the guarded write path — exactly-once via idempotent replay.
    Runs until the available commits are drained (one-shot catch-up);
    long-running deployments keep the query alive instead."""
    from fluxdb_spark.streaming.follow import replicate_store
    from fluxdb_spark.store import ChangelogStore

    transform = None
    if args.filter is not None or args.value_expr is not None:

        def transform(rows):
            if args.filter is not None:
                rows = rows.filter(F.expr(args.filter))
            if args.value_expr is not None:
                rows = rows.withColumn("value", F.expr(args.value_expr))
            return rows

    q = replicate_store(
        spark,
        args.src,
        args.dst,
        args.checkpoint,
        trigger_seconds=0.5,
        height_band=args.height_band,
        data_format=args.data_format,
        transform=transform,
        # a row-dropping filter leaves height gaps by design
        force=args.filter is not None,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    dst = ChangelogStore(spark, args.dst)
    ckpt = dst.checkpoint()
    print(
        "replica caught up to height "
        f"{'-' if ckpt is None else ckpt.height}"
    )
    return 0


def cmd_materialize(args, spark: SparkSession) -> int:
    """Materialized-aggregate mode (beyond the reference's four): fold
    the commits the aggregate table hasn't seen yet into it (one-shot
    catch-up, like `replicate`; long-running deployments keep the query
    alive). The refresh reads only the delta commits' files and merges
    against the groups table — never the full log."""
    from fluxdb_spark.streaming.materialize import (
        applied_version,
        materialize_aggregate,
        read_aggregate,
    )

    aggs = [
        ("n_rows", "count(1)", "sum"),
        ("max_height", "max(height)", "max"),
        ("min_height", "min(height)", "min"),
    ]
    q = materialize_aggregate(
        spark,
        args.store,
        args.dest,
        [c.strip() for c in args.group_by.split(",") if c.strip()],
        aggs,
        args.checkpoint,
        trigger_seconds=0.5,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    df = read_aggregate(spark, args.dest)
    print(
        f"materialized {0 if df is None else df.count()} group(s) "
        f"at commit version {applied_version(args.dest)}"
    )
    return 0


def cmd_index_retrieval(args, spark: SparkSession) -> int:
    """Retrieval-index mode (beyond the reference's four): catch the
    materialized retrieval table up with the store's commit log (one-shot,
    like `materialize`; long-running deployments keep the query alive).
    Kinds: minhash (signature table over document stores), lsh (bucket
    table over JSON-vector stores), kmeans (frozen-centroid assignments —
    trains centroids from the live corpus only when no index exists yet,
    i.e. the first run; later runs assign incrementally to the frozen
    model)."""
    from fluxdb_spark.store import ChangelogStore
    from fluxdb_spark.streaming import retrieval as rt

    if args.kind == "bm25":
        # maintains BOTH standing tables (postings + doclen) and
        # refreshes the cached corpus stats in one catch-up pass
        doclen_dest = args.doclen_dest or (args.dest + "_doclen")
        n_docs, tot = rt.bm25_refresh(
            spark, args.store, args.dest, doclen_dest, args.checkpoint
        )
        from fluxdb_spark.streaming.materialize import applied_version

        print(
            f"bm25 index: {n_docs} live doc(s), {tot} total tokens "
            f"at commit version {applied_version(args.dest)}"
        )
        if args.compact:
            # postings are multi-row per version (liveness decided by
            # the doclen join), so they coalesce without folding; the
            # doclen table folds to one row per doc
            n = rt.compact_derived(spark, args.dest)
            n += rt.compact_derived(spark, doclen_dest, fold_keys=["doc_id"])
            print(f"# compacted {n} batch dir(s)")
        return 0
    if args.kind == "minhash":
        transform = rt.minhash_transform()
    elif args.kind == "spans":
        # the positional shingle-hash table behind /v1/spans (the
        # serving-side contamination screen); posting-table shape —
        # multi-row per version, liveness by latest height at read time
        transform = rt.span_hash_transform()
    elif args.kind == "lsh":
        transform = rt.lsh_bucket_transform(dim=args.dim)
    elif args.kind == "quantize":
        # the int8-compressed vector table as standing state — queries
        # (similarity.quantized_topk_from_table) never touch the floats
        transform = rt.quantize_transform()
    elif args.kind == "binary":
        # the packed sign-bit table (2 BIGINTs per 64-dim vector) — the
        # Hamming candidate-scan half of the binary ANN pair; pair it
        # with --kind quantize for the rerank side
        transform = rt.binarize_transform(dim=args.dim)
    elif args.kind == "bpe":
        # the frozen tokenizer (merge list) is a sidecar (materialize.py):
        # trained once on the store's live corpus, then every later
        # document encodes map-only forever
        merges = rt.load_bpe_merges(args.dest)
        if merges is None:
            from fluxdb_spark.functions.bpe import train_merges

            store = ChangelogStore(spark, args.store)
            live = rt.lww_latest(
                rt.doc_relation(store.changelog()), ["doc_id"]
            ).filter("NOT is_deletion").select("doc_id", "text")
            merges = train_merges(live, n_merges=args.k)
            rt.save_bpe_merges(args.dest, merges)
        transform = rt.bpe_encode_transform(merges)
    elif args.kind == "pq":
        # frozen PQ codebooks are a sidecar too: trained once on the
        # store's live corpus, then encode-forever
        books = rt.load_pq_books(args.dest)
        if books is None:
            from fluxdb_spark.functions.similarity import pq_codebooks

            store = ChangelogStore(spark, args.store)
            live = rt.lww_latest(
                rt.vector_relation(store.changelog()), ["vec_id"]
            ).select("vec_id", "embedding")
            books = pq_codebooks(
                live, m=args.pq_m, ks=args.k, iters=args.iters,
                dim=args.dim,
            )
            rt.save_pq_books(args.dest, books)
        transform = rt.pq_codes_transform(books, dim=args.dim)
    else:
        # the frozen model is the `<dest>._centroids.json` sidecar
        # (load_centroids migrates the legacy in-dir file)
        cents = rt.load_centroids(args.dest)
        if cents is None:
            from pyspark.sql import functions as F

            from fluxdb_spark.functions.similarity import (
                assign_to_centroids,
                kmeans_centroids,
            )

            store = ChangelogStore(spark, args.store)
            live = rt.lww_latest(
                rt.vector_relation(store.changelog()), ["vec_id"]
            ).select("vec_id", "embedding")
            cents = kmeans_centroids(live, k=args.k, iters=args.iters)
            # baseline mean assignment distance over the TRAINING corpus
            # — the yardstick later delta batches are drift-checked
            # against (one extra map-only pass, train time only)
            row = (
                assign_to_centroids(live, cents)
                .agg(F.avg("dist").alias("d"))
                .collect()[0]
            )
            rt.save_centroids(
                args.dest,
                cents,
                baseline_mean_dist=(
                    None if row.d is None else float(row.d)
                ),
            )
        transform = rt.centroid_assign_transform(cents)
    from fluxdb_spark.streaming.materialize import applied_version

    floor_before = applied_version(args.dest)
    df = rt.refresh(
        spark, args.store, args.dest, transform, args.checkpoint
    )
    print(
        f"{args.kind} index: {0 if df is None else df.count()} derived "
        f"row(s) at commit version {applied_version(args.dest)}"
    )
    if args.kind == "kmeans":
        drift = rt.centroid_drift(
            spark, args.dest, floor_before, threshold=args.drift_threshold
        )
        if drift is not None and drift["drift_flagged"]:
            print(
                "# WARNING: centroid drift — delta mean dist "
                f"{drift['delta_mean_dist']:.1f} exceeds "
                f"{args.drift_threshold}x trained baseline "
                f"{drift['baseline_mean_dist']:.1f} over "
                f"{drift['delta_rows']} new row(s); consider retraining"
            )
    if args.compact:
        # fold-compaction: one physical row per key (tombstones kept),
        # so standing reads fold only the post-compaction delta
        fold = {"minhash": ["doc_id"], "lsh": ["vec_id"],
                "kmeans": ["vec_id"], "quantize": ["vec_id"],
                "pq": ["vec_id"], "binary": ["vec_id"],
                "bpe": ["doc_id"],
                # spans is multi-row per version (liveness decided by the
                # latest-height join, like bm25 postings): coalesce, no fold
                "spans": None}[args.kind]
        n = rt.compact_derived(spark, args.dest, fold_keys=fold)
        print(f"# compacted {n} batch dir(s)")
    return 0


def cmd_query(args, spark: SparkSession) -> int:
    """Run any catalog operator by name — the single-command answer to
    "a user of the reference could switch": every query the engine
    claims (`catalog()`) is runnable, explainable, and self-verifiable
    against its DuckDB oracle from the CLI."""
    from fluxdb_spark.catalog import catalog

    specs = {s.name: s for s in catalog()}
    if args.name == "list":
        for s in catalog():
            mark = "" if s.oracle else "  (rows-only)"
            print(f"{s.name}  [{s.category}]{mark}")
        return 0
    if args.name not in specs:
        print(f"unknown query '{args.name}' — try 'list'", file=sys.stderr)
        return 2
    spec = specs[args.name]
    df = spec.spark(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    if args.save:
        # export sink: any catalog operator's result lands as a dataset
        # (csv/json get a header-ful single-file-friendly layout; parquet
        # and orc keep the parallel writer)
        w = df.write.mode("overwrite")
        if args.format in ("csv", "json"):
            w = df.coalesce(1).write.mode("overwrite").option(
                "header", "true"
            )
        getattr(w, args.format)(args.save)
        print(f"# saved {args.format} -> {args.save}")
        if not args.verify:
            return 0
        # --save --verify: fall through so the oracle check the user
        # asked for still runs (ADVICE r10: returning here skipped it)
    rows = df.collect()
    for r in rows[: args.limit]:
        print(tuple(r))
    if len(rows) > args.limit:
        print(f"... ({len(rows)} rows total)")
    if args.verify:
        if spec.oracle is None:
            print("# rows-only entry: no SQL oracle (machinery verified "
                  "by its exact twin + tests)")
            return 0
        import duckdb

        from tools.check_entry import TABLES, result_hash

        con = duckdb.connect(":memory:")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS "
                f"SELECT * FROM '{args.sf_dir}/{t}.parquet'"
            )
        res = con.execute(spec.oracle)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
        ok = result_hash(df.columns, [tuple(r) for r in rows]) == result_hash(
            d_cols, d_rows
        )
        print(f"# oracle {'MATCH' if ok else 'MISMATCH'} "
              f"({len(rows)} vs {len(d_rows)} rows)")
        return 0 if ok else 1
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="fluxdb_spark")
    sub = p.add_subparsers(dest="mode", required=True)

    q = sub.add_parser("query")
    q.add_argument("name", help="catalog entry name, or 'list'")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--explain", action="store_true")
    q.add_argument("--verify", action="store_true",
                   help="cross-check against the DuckDB oracle twin")
    q.add_argument("--save", help="write the result to this directory")
    q.add_argument("--format", default="parquet",
                   choices=("parquet", "orc", "csv", "json"))
    q.set_defaults(fn=cmd_query)

    i = sub.add_parser("inject")
    i.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    i.add_argument("--store", required=True)
    i.add_argument(
        "--data-format",
        default="parquet",
        choices=["parquet", "orc"],
        help="physical file format for a NEW store (the store-DSN "
        "choice; sticky in _meta.json once the first batch lands)",
    )
    i.set_defaults(fn=cmd_inject)

    s = sub.add_parser("server")
    s.add_argument("--store", required=True)
    s.add_argument("--tablet", default="click")
    s.add_argument("--height", type=int, required=True)
    s.add_argument("--limit", type=int, default=20)
    s.add_argument(
        "--metrics-port",
        type=int,
        default=None,
        help="expose a Prometheus-style /metrics endpoint (0 = ephemeral)",
    )
    s.add_argument(
        "--serve-port",
        type=int,
        default=None,
        help="expose the HTTP read API (/v1/state_at, /v1/row_at, "
        "/v1/singlet_at; 0 = ephemeral port)",
    )
    s.add_argument(
        "--serve-seconds",
        type=float,
        default=0,
        help="keep the read API up for N seconds after the probe "
        "(0 = probe once and exit)",
    )
    s.add_argument(
        "--ann-index",
        default=None,
        help="materialized LSH bucket table (index-retrieval --kind lsh "
        "dest); enables /v1/ann_topk",
    )
    s.add_argument("--ann-dim", type=int, default=64)
    s.add_argument(
        "--bm25-postings",
        default=None,
        help="materialized BM25 postings table; enables /v1/bm25 "
        "(requires --bm25-doclen)",
    )
    s.add_argument("--bm25-doclen", default=None)
    s.add_argument(
        "--kmeans-index",
        default=None,
        help="materialized centroid-assignment table; enables "
        "/v1/ivf_topk and exposes centroid drift gauges on /metrics",
    )
    s.add_argument(
        "--minhash-index",
        default=None,
        help="materialized MinHash signature table; enables /v1/neardup",
    )
    s.add_argument(
        "--quantize-index",
        default=None,
        help="materialized int8 vector table; enables /v1/quantized_topk",
    )
    s.add_argument(
        "--pq-index",
        default=None,
        help="materialized PQ codes table (index-retrieval --kind pq "
        "dest, codebook sidecar beside it); enables /v1/pq_topk",
    )
    s.add_argument(
        "--binary-index",
        default=None,
        help="materialized packed sign-bit table; with --quantize-index "
        "enables /v1/binary_topk",
    )
    s.add_argument(
        "--bpe-index",
        default=None,
        help="materialized BPE-encoded corpus (index-retrieval --kind "
        "bpe dest, merge-list sidecar beside it); enables /v1/tokenize",
    )
    s.add_argument(
        "--spans-index",
        default=None,
        help="materialized positional shingle-hash table (index-retrieval "
        "--kind spans dest); enables /v1/spans (contamination screen)",
    )
    s.set_defaults(fn=cmd_server)

    rs = sub.add_parser("reproc-shard")
    rs.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    rs.add_argument("--out", required=True)
    rs.add_argument("--shards", type=int, default=2)
    rs.set_defaults(fn=cmd_reproc_shard)

    ri = sub.add_parser("reproc-inject")
    ri.add_argument("--out", required=True)
    ri.add_argument("--store", required=True)
    ri.add_argument("--shard", type=int, default=None)
    ri.add_argument("--shards", type=int, default=2)
    ri.add_argument("--finalize", action="store_true")
    ri.set_defaults(fn=cmd_reproc_inject)

    m = sub.add_parser("maintain")
    m.add_argument("--store", required=True)
    m.add_argument("--target-rows", type=int, default=500_000)
    m.add_argument("--min-files", type=int, default=4)
    m.add_argument(
        "--zorder",
        action="store_true",
        help="Morton layout over (primary_key, height) rank bins: point "
        "probes skip files the linear height sort must scan",
    )
    m.add_argument("--index", default=None)
    m.add_argument("--prune-frequency", type=int, default=3)
    # bulk re-index (reference `reindex` tooling, indexing.go:100-168):
    # requires --index; --reindex-dry-run reports the would-rebuild set
    # and skips the prune pass so the whole invocation stays read-only
    m.add_argument("--reindex-height", type=int, default=None)
    m.add_argument("--reindex-lower-bound", default=None)
    m.add_argument("--reindex-dry-run", action="store_true")
    m.add_argument("--expire-before", type=int, default=None)
    m.add_argument(
        "--delete-where",
        default=None,
        help="physical DELETE (GDPR erasure): SQL predicate over the "
        "changelog columns; only bands with matching rows are rewritten",
    )
    m.add_argument(
        "--redact-where",
        default=None,
        help="physical value rewrite (PII redaction): SQL predicate",
    )
    m.add_argument(
        "--redact-to",
        default="'[REDACTED]'",
        help="SQL expression replacing `value` where --redact-where matches",
    )
    m.add_argument(
        "--history",
        action="store_true",
        help="print the commit log (DESCRIBE HISTORY analog)",
    )
    m.add_argument(
        "--prune-log",
        type=int,
        default=None,
        metavar="KEEP_LAST",
        help="checkpoint the commit log and prune entry files beneath it, "
        "keeping the newest KEEP_LAST (do not run while an outbound "
        "follower may be behind the checkpoint)",
    )
    m.add_argument(
        "--fsck",
        action="store_true",
        help="report commit-log vs on-disk inconsistencies (missing "
        "referenced files, orphaned debris files)",
    )
    m.add_argument(
        "--fsck-remove",
        action="store_true",
        help="fsck and remove orphaned debris files (under the "
        "maintenance lease)",
    )
    m.set_defaults(fn=cmd_maintain)

    rep = sub.add_parser("replicate")
    rep.add_argument("--src", required=True)
    rep.add_argument("--dst", required=True)
    rep.add_argument("--checkpoint", required=True)
    rep.add_argument(
        "--height-band",
        type=int,
        default=None,
        help="replica band size (re-banding migration: band granularity "
        "is sticky per store, so changing it is necessarily a copy)",
    )
    rep.add_argument(
        "--data-format",
        default=None,
        help="replica physical format (e.g. orc) — format migration "
        "through the same exactly-once machinery",
    )
    rep.add_argument(
        "--filter",
        default=None,
        help="derived replica: SQL predicate selecting the rows to "
        "replicate (dropped rows leave height gaps; the source commit "
        "log stays the contiguity authority)",
    )
    rep.add_argument(
        "--value-expr",
        default=None,
        help="derived replica: SQL expression replacing `value` (e.g. a "
        "redaction) applied at the replication boundary",
    )
    rep.set_defaults(fn=cmd_replicate)

    mat = sub.add_parser("materialize")
    mat.add_argument("--store", required=True)
    mat.add_argument("--dest", required=True)
    mat.add_argument("--checkpoint", required=True)
    mat.add_argument(
        "--group-by",
        default="collection,tablet_id",
        help="comma-separated changelog columns to group the "
        "row-count / height-bound aggregates by",
    )
    mat.set_defaults(fn=cmd_materialize)

    ridx = sub.add_parser("index-retrieval")
    ridx.add_argument("--store", required=True)
    ridx.add_argument("--dest", required=True)
    ridx.add_argument("--checkpoint", required=True)
    ridx.add_argument(
        "--kind",
        choices=("minhash", "lsh", "kmeans", "bm25", "quantize", "pq", "spans",
                 "binary", "bpe"),
        default="minhash",
    )
    ridx.add_argument(
        "--pq-m",
        type=int,
        default=4,
        help="PQ subspace count (--kind pq; --k is codewords per "
        "subspace, --iters the Lloyd passes)",
    )
    ridx.add_argument(
        "--doclen-dest",
        default=None,
        help="bm25 doclen table location (default: <dest>_doclen)",
    )
    ridx.add_argument("--dim", type=int, default=64)
    ridx.add_argument("--k", type=int, default=4)
    ridx.add_argument("--iters", type=int, default=3)
    ridx.add_argument(
        "--compact",
        action="store_true",
        help="after catch-up, fold-compact the derived table to one "
        "physical row per key (tombstones kept), bounding read-time "
        "LWW work to the post-compaction delta",
    )
    ridx.add_argument(
        "--drift-threshold",
        type=float,
        default=1.5,
        help="flag centroid drift when a delta batch's mean assignment "
        "distance exceeds this multiple of the trained baseline",
    )
    ridx.set_defaults(fn=cmd_index_retrieval)
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args, spark or _spark(args.mode))


if __name__ == "__main__":
    sys.exit(main())

"""live_ingest: one writer in a closed loop over a seeded block stream.

Each iteration feeds blocks through `IngestPipeline` (adaptive indexing
on) with `gen.Feeder` until the pipeline's own 5,000-row flush fires.
It then reads the head back over HTTP (`row_at` at the head height, so
the read crosses the speculative overlay). Between cycles of
CATCHUP_EVERY flushes it runs one `refresh_many` catch-up of two
text-derived tables (MinHash signatures and BM25 postings).

The timed loop ends after a cycle's flushes, before its catch-up, so a
run always ends with flushes the derived tables have not seen. The run
then compacts the store, catches up once more and reopens the store. That
last catch-up meets a known defect: a catch-up that lags behind a
`compact()` reads append files the compaction deleted and fails. It is
counted as a failed operation, not worked around.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import common
from perfbench.gen import BlockStream, Counts, Feeder, fingerprint
from perfbench.model import StateModel, expected_rows, response_rows

CATCHUP_EVERY = 3  # flushes per derived-table catch-up
# the timed loop runs whole cycles of CATCHUP_EVERY flushes (each with
# its head read), a catch-up between cycles, and at least this many
# cycles: every run holds the same mix of flushes, reads, one catch-up
# and the flush whose mutations tip adaptive indexing (the 8th of the
# run, see gen.TABLET_SKEW)
MIN_TIMED_CYCLES = 2
WARMUP_FLUSHES = 2
REOPENS = 5


def run(ctx) -> dict:
    spark = ctx.spark()
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from fluxdb_spark.store import ChangelogStore, CommitLog, IndexStore
    from fluxdb_spark.streaming import retrieval
    from fluxdb_spark.streaming.ingest import FLUSH_ROWS, FluxEngine, IngestPipeline
    from fluxdb_spark.streaming.serve import QueryServer

    root = os.path.join(ctx.work, "store")
    minhash = os.path.join(ctx.work, "derived", "minhash")
    postings = os.path.join(ctx.work, "derived", "postings")
    engine = FluxEngine(spark, root)
    engine.pipeline = IngestPipeline(
        engine.store, index_store=IndexStore(spark, os.path.join(ctx.work, "index"))
    )
    server = QueryServer(engine)
    stream, model = BlockStream(ctx.seed), StateModel()
    probe = BlockStream(ctx.seed)
    data_fp = fingerprint(probe.params(), [probe.next_block() for _ in range(20)])
    feeder = Feeder(engine.pipeline, stream, model, FLUSH_ROWS)
    rng = random.Random(ctx.seed ^ 0x5EED)
    wrong: list[str] = []
    attempted = failed = 0
    read_ms, catchup_ms, delta_files = [], [], []
    caught = Counts()  # committed counts the derived tables reflect

    def checked_flush() -> float:
        ms = feeder.until_flush()
        ckpt = engine.store.checkpoint()
        bid, num, _ = feeder.last_flushed
        if ckpt is None or (ckpt.height, ckpt.block_id) != (num, bid):
            wrong.append(f"checkpoint {ckpt} after flushing block {num}")
        return ms

    def head_read(i: int) -> float:
        hnum, src = feeder.head[1], rng.choice((feeder.last_flushed, feeder.head))
        row = rng.choice(src[2])
        req = {"route": "row_at", "tablet": row[1], "height": hnum, "key": row[3]}
        url = (f"{server.url}/v1/row_at?tablet={row[1]}&height={hnum}"
               f"&key={row[3]}&op=row_at.head{i}")
        t = time.perf_counter()
        payload = common.http_get_json(url)
        ms = (time.perf_counter() - t) * 1000.0
        if response_rows(payload["rows"]) != expected_rows(model, req):
            wrong.append(f"row_at {req}: {payload['rows']}")
        return ms

    seen_files: set[str] = set()  # data files at the last catch-up

    def catch_up(files_now: set[str]) -> float:
        nonlocal caught, seen_files
        delta_files.append(len(files_now - seen_files))
        target = feeder.committed
        t = time.perf_counter()
        retrieval.refresh_many(spark, root, [
            (minhash, retrieval.minhash_transform()),
            (postings, retrieval.bm25_postings_transform()),
        ])
        ms = (time.perf_counter() - t) * 1000.0
        caught, seen_files = target, files_now
        return ms

    data_dir = os.path.join(root, "changelog")

    def data_files() -> set[str]:
        return set(common.data_file_sizes(data_dir))

    try:
        # warm-up: JIT, codegen and first-use costs of every timed path
        ctx.phase("warmup")
        for i in range(WARMUP_FLUSHES):
            checked_flush()
            head_read(-1 - i)
        catch_up(data_files())
        delta_files.clear()
        setup_s = time.monotonic() - ctx.t0

        ctx.phase("timed")
        clock = common.Clock(ctx.seconds)
        rows0 = feeder.committed.rows
        cpu0 = common.cpu_ticks()
        flush_ms, cycles = [], 0
        while True:
            for _ in range(CATCHUP_EVERY):
                flush_ms.append(checked_flush())
                read_ms.append(head_read(len(flush_ms)))
                attempted += 2
            cycles += 1
            # checked before the catch-up, so a run always ends with
            # flushes the derived tables have not seen
            if clock.expired() and cycles >= MIN_TIMED_CYCLES:
                break
            catchup_ms.append(catch_up(data_files()))
            attempted += 1
        loop_s = clock.elapsed()
        cpu_ms = common.busy_ms(cpu0, common.cpu_ticks())
        rows_loop = feeder.committed.rows - rows0
        # the whole loop's wall time: flushes, head reads and catch-ups
        ingest_rate = rows_loop / loop_s

        ctx.phase("final")
        before = common.data_file_sizes(data_dir)
        n_files, n_bytes = len(before), sum(before.values())
        t = time.perf_counter()
        engine.store.compact()
        compact_s = time.perf_counter() - t
        attempted += 1
        rewritten = sum(sz for p, sz in before.items() if not os.path.exists(p))

        attempted += 1
        try:
            catchup_ms.append(catch_up(set(before)))
            ctx.report("final catch-up after compact() succeeded")
        except (PySparkException, Py4JJavaError) as e:  # the known defect
            failed += 1
            first = str(e).strip().splitlines()[0][:160] if str(e).strip() else ""
            ctx.report(f"final catch-up after compact() FAILED (known defect): "
                       f"{type(e).__name__}: {first}")

        sigs = retrieval.read_derived(spark, minhash)
        post = retrieval.read_derived(spark, postings)
        n_sigs = sigs.count() if sigs is not None else 0
        n_tok = post.agg({"tf": "sum"}).collect()[0][0] if post is not None else 0
        if (n_sigs, n_tok or 0) != (caught.rows, caught.tokens):
            wrong.append(f"derived rows/tokens {(n_sigs, n_tok)} != committed "
                         f"{(caught.rows, caught.tokens)}")

        reopen_ms = []
        bid, num, _ = feeder.last_flushed
        for _ in range(REOPENS):
            t = time.perf_counter()
            reopened = ChangelogStore(spark, root)
            reopen_ms.append((time.perf_counter() - t) * 1000.0)
            attempted += 1
            ckpt = reopened.checkpoint()
            if ckpt is None or (ckpt.height, ckpt.block_id) != (num, bid):
                wrong.append(f"reopened checkpoint {ckpt} != last flush {num}")
        t = time.perf_counter()
        n_entries = len(CommitLog(root).entries())
        entries_ms = (time.perf_counter() - t) * 1000.0
        rss = common.rss_peak_mb(common.jvm_pid(spark))
    finally:
        server.close()

    for w in wrong[:5]:
        ctx.report(f"WRONG {w}")
    flush_p50 = common.median(flush_ms)
    ctx.report(f"ingest_rows_per_s {ingest_rate:.1f} rows/s ({rows_loop} rows "
               f"committed in {loop_s:.2f} s: {len(flush_ms)} flushes, "
               f"{len(read_ms)} head reads, {cycles - 1} catch-ups; 1 writer, "
               "closed loop)")
    ctx.report(f"flush_p50_ms {flush_p50:.1f} ms, flush_p90_ms "
               f"{common.percentile(flush_ms, 90):.1f} ms (n={len(flush_ms)}; "
               "p90 has <10 samples above it below n=100)")
    ctx.report(f"head_read_p50_ms {common.median(read_ms):.1f} ms (n={len(read_ms)})")
    ctx.report(f"catchup_p50_ms {common.median(catchup_ms):.1f} ms (n={len(catchup_ms)})")
    ctx.report(f"index builds (snapshot rows per tablet): "
               f"{engine.pipeline.indexer.last_index_rows}")
    ctx.report(f"compact_s {compact_s:.3f} s, reopen_ms {common.median(reopen_ms):.1f} ms")
    ctx.report(f"error_rate {failed}/{attempted} = {failed / attempted:.4f}")
    span_count = len([s for s in ctx.tracer.spans if s.phase == "timed"]) if ctx.tracer else 0
    return {
        "fingerprint": data_fp,
        "correct": not wrong,
        "attempted": attempted,
        "failed": failed,
        "samples": {"flush_ms": flush_ms, "read_ms": read_ms, "catchup_ms": catchup_ms},
        "e2e": common.e2e(
            setup_s, attempted, failed, rss, flush_p50, ingest_rate
        ),
        "layer": {
            "store.data_files": n_files,
            "store.space_amp": n_bytes / max(1, feeder.committed.kv_bytes),
            "store.compact_bytes_rewritten": rewritten,
            "store.commit_entries": n_entries,
            "store.entries_ms": entries_ms,
            "retrieval.delta_files": common.median(delta_files),
            "e2e.flush_p90_ms": common.percentile(flush_ms, 90),
            "e2e.head_read_p50_ms": common.median(read_ms),
            "serve.request_ms.row_at": common.median(read_ms),
            "e2e.catchup_p50_ms": common.median(catchup_ms),
            "e2e.compact_s": compact_s,
            "e2e.reopen_ms": common.median(reopen_ms),
            "e2e.cpu_ms_per_op": cpu_ms / len(flush_ms),
            "trace.span_cost_us": ctx.tracer.calibrate_us() if ctx.tracer else 0.0,
            "trace.spans_per_op": span_count / max(1, len(flush_ms)),
        },
    }

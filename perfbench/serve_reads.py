"""serve_reads: HTTP read latency over a store built by the write path.

Set-up builds one store the way a deployment would: a bulk `write_batch`
backfill, a tail of 5,000-row flushes through `IngestPipeline`
(`gen.Feeder`: LIB trails head by a few blocks, so the newest blocks
stay in the speculative overlay), then `compact()`. `QueryServer` serves it over
`FluxEngine` from the FAIR session `python -m fluxdb_spark server`
builds. A separate client process runs a closed loop, one client per
core, over an even mix of row_at / singlet_at / state_at (limit 100,
recent heights) / state_at (historical heights), past the deadline
until every route has MIN_READS_PER_ROUTE completed reads. Tablets are
drawn with the stream's Zipf skew and read heights skew toward the
head. The write path is idle while reads are timed.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import common
from perfbench.gen import (
    TABLET_SKEW, BlockStream, Feeder, block_counts, fingerprint, skewed_recent,
    spread_points, zipf_pick,
)
from perfbench.layers import ROUTES
from perfbench.model import StateModel, expected_rows, response_rows

SINGLETS = 32  # assumption: the repository's data has no singlet stream
BACKFILL_BLOCKS = 400  # ~40k rows in one write_batch
TAIL_FLUSHES = 3  # with the backfill file: 4 files, compact()'s minimum
STATE_LIMIT = 100
# the route mix as one fixed cycle; client c starts at offset c, so the
# clients' requests in flight are of different routes. Even weights: no
# traffic source gives others.
MIX_CYCLE = "RSTH"
GOLDEN, SQRT2 = 0.6180339887498949, 0.41421356237309515  # point-set steps
LABELS = {"R": "row_at", "S": "singlet_at", "T": "state_at", "H": "state_at_hist"}
# a run goes past the deadline until every route has this many completed
# reads, so no route median rests on a handful of samples
MIN_READS_PER_ROUTE = 20
PLAN_PER_CLIENT = 2_000


def make_stream(seed: int) -> BlockStream:
    return BlockStream(seed, singlets=SINGLETS)


def build_store(spark, engine, stream, model, flush_rows: int) -> dict:
    """Backfill, flushed tail and compaction; returns layout facts."""
    import pandas as pd

    from fluxdb_spark.schema import CHANGELOG_COLUMNS, CHANGELOG_SCHEMA

    rows = []
    for _ in range(BACKFILL_BLOCKS):
        rows.extend(stream.next_block()[3])
    model.apply(rows)
    engine.store.write_batch(
        spark.createDataFrame(pd.DataFrame(rows, columns=CHANGELOG_COLUMNS), CHANGELOG_SCHEMA)
    )
    feeder = Feeder(engine.pipeline, stream, model, flush_rows)
    for _ in range(TAIL_FLUSHES):
        feeder.until_flush()
    data_dir = os.path.join(engine.store.root, "changelog")
    before = common.data_file_sizes(data_dir)
    engine.store.compact()
    rewritten = sum(sz for p, sz in before.items() if not os.path.exists(p))
    after = common.data_file_sizes(data_dir)
    n_bytes = sum(after.values())
    return {
        "head": stream.blocks - 1,
        "lib": feeder.lib(),
        "files_before": len(before),
        "store.data_files": len(after),
        "store.space_amp": n_bytes / (block_counts(rows).kv_bytes + feeder.committed.kv_bytes),
        "store.compact_bytes_rewritten": rewritten,
        "store_bytes": n_bytes,
    }


def read_plan(seed: int, model: StateModel, stream: BlockStream, head: int,
              clients: int) -> list[list[dict]]:
    """Each client's requests. Tablets, heights and which reads are moved
    to a change height come from evenly spread points, one sequence per
    route dealt out to the clients in turn, so every run reads the hot
    tablet, recent heights and change heights in the same proportions."""
    rng = random.Random(seed ^ 0xC11E)
    keys = {t: model.keys(t) for t in stream.tablets}
    n = clients * (PLAN_PER_CLIENT // len(MIX_CYCLE) + 1)
    tab = {code: spread_points(rng, n, GOLDEN) for code in MIX_CYCLE}
    hgt = {code: spread_points(rng, n, SQRT2) for code in MIX_CYCLE}
    plan = []
    for c in range(clients):
        reqs = []
        for i in range(PLAN_PER_CLIENT):
            code = MIX_CYCLE[(i + c) % len(MIX_CYCLE)]
            label, k = LABELS[code], i // len(MIX_CYCLE)
            j = k * clients + c  # this read's point in its route's sequence
            tablet = zipf_pick(tab[code][j], stream.tablets, stream.cum)
            height = skewed_recent(hgt[code][j], head)
            if label == "state_at_hist":
                height = int(hgt[code][j] * (head // 4 + 1))
                req = {"route": "state_at", "tablet": tablet,
                       "height": height, "limit": STATE_LIMIT}
                pks = keys[tablet][:STATE_LIMIT]
            elif label == "state_at":
                req = {"route": "state_at", "tablet": tablet,
                       "height": height, "limit": STATE_LIMIT}
                pks = keys[tablet][:STATE_LIMIT]
            elif label == "row_at":
                key = rng.choice(keys[tablet])
                req = {"route": "row_at", "tablet": tablet, "height": height, "key": key}
                pks = [key]
            else:
                tablet = rng.choice(stream.singlets)
                req = {"route": "singlet_at", "singlet": tablet, "height": height}
                pks = [""]
            if j % 2 == 0:
                # half the reads land on a height where the answer changed
                req["height"] = model.snap(tablet, pks, req["height"])
            reqs.append(dict(req, label=label))
        plan.append(reqs)
    return plan


def run(ctx) -> dict:
    spark = ctx.spark(server_mode=True)
    from fluxdb_spark.streaming.ingest import FLUSH_ROWS, FluxEngine
    from fluxdb_spark.streaming.serve import QueryServer

    from perfbench.client import request_url

    engine = FluxEngine(spark, os.path.join(ctx.work, "store"))
    stream, model = make_stream(ctx.seed), StateModel()
    probe = make_stream(ctx.seed)
    data_fp = fingerprint(probe.params(), [probe.next_block() for _ in range(20)])
    layout = build_store(spark, engine, stream, model, FLUSH_ROWS)
    server = QueryServer(engine)
    clients = common.host_cpus()
    plan = read_plan(ctx.seed, model, stream, layout["head"], clients)
    plan_path = os.path.join(ctx.work, "plan.json")
    out_path = os.path.join(ctx.work, "reads.json")
    with open(plan_path, "w") as f:
        json.dump({"url": server.url, "clients": plan}, f)
    try:
        # warm-up: one read per route, concurrently, so each plan shape
        # is compiled once before timing
        ctx.phase("warmup")
        warm = [
            request_url(server.url, next(r for r in plan[0] if r["label"] == label),
                        f"{label}.warm")
            for label in ROUTES
        ]
        with ThreadPoolExecutor(len(warm)) as pool:
            list(pool.map(common.http_get_json, warm))
        setup_s = time.monotonic() - ctx.t0

        ctx.phase("timed")
        cpu0 = common.cpu_ticks()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "client.py"),
             plan_path, out_path, str(ctx.seconds), str(MIN_READS_PER_ROUTE)],
        )
        try:
            proc.wait(timeout=ctx.seconds + 150)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:
            raise RuntimeError(f"read client exited with {proc.returncode}")
        cpu_ms = common.busy_ms(cpu0, common.cpu_ticks())
        ctx.phase("final")
        rss = common.rss_peak_mb(common.jvm_pid(spark))
    finally:
        server.close()
    with open(out_path) as f:
        reads = json.load(f)

    wrong, failed, lat = [], 0, {r: [] for r in ROUTES}
    for reqs, done in zip(plan, reads["clients"]):
        for rec in done:
            req = reqs[rec["i"]]
            if rec["error"] is not None:
                failed += 1
                continue
            lat[req["label"]].append(rec["ms"])
            if response_rows(rec["rows"]) != expected_rows(model, req):
                wrong.append(f"{req}: {rec['rows'][:2]}")
    attempted = sum(len(d) for d in reads["clients"])
    done_ms = [ms for v in lat.values() for ms in v]
    for w in wrong[:5]:
        ctx.report(f"WRONG {w}")
    p50, p90 = common.median(done_ms), common.percentile(done_ms, 90)
    # the routes' latencies form separate clusters, and the median of the
    # pooled reads jumps between them as the sampled mix shifts; the
    # mean of the per-route medians does not
    op_ms = sum(common.median(v) for v in lat.values()) / len(lat)
    rate = len(done_ms) / reads["wall_s"]
    ctx.report(f"store: {model.rows} rows, {len(stream.tablets)} tablets (Zipf "
               f"{TABLET_SKEW}) + {SINGLETS} singlets, head {layout['head']}, "
               f"LIB {layout['lib']}, {layout['store_bytes']} B in "
               f"{layout['store.data_files']} files after compacting "
               f"{layout['files_before']}")
    ctx.report(f"read_p50_ms {p50:.1f} ms, read_p90_ms {p90:.1f} ms "
               f"(n={len(done_ms)}, {clients} clients, closed loop)")
    ctx.report(f"reads_per_s {rate:.2f} req/s; mean of route medians "
               f"{op_ms:.1f} ms")
    for r in ROUTES:
        ctx.report(f"  {r}: p50 {common.median(lat[r]):.1f} ms (n={len(lat[r])})")
    ctx.report(f"error_rate {failed}/{attempted} = {failed / max(1, attempted):.4f}")
    measured = {k: v for k, v in layout.items() if k.startswith("store.")}
    measured.update({f"serve.request_ms.{r}": common.median(v) for r, v in lat.items()})
    measured["e2e.read_p90_ms"] = p90
    measured["e2e.cpu_ms_per_op"] = cpu_ms / max(1, len(done_ms))
    if ctx.tracer:
        measured["trace.span_cost_us"] = ctx.tracer.calibrate_us()
        timed = [s for s in ctx.tracer.spans if s.phase == "timed"]
        measured["trace.spans_per_op"] = len(timed) / max(1, len(done_ms))
    return {
        "fingerprint": data_fp,
        "correct": not wrong and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        # per client, in completion order: (label, ms)
        "samples": {"reads": [
            [(reqs[r["i"]]["label"], round(r["ms"], 1)) for r in done]
            for reqs, done in zip(plan, reads["clients"])
        ]},
        "e2e": common.e2e(setup_s, max(1, attempted), failed, rss, op_ms, rate),
        "layer": measured,
    }

"""Per-layer metrics of the traced run, computed from its spans.

Every metric is reported on every workload; a layer a workload does not
exercise reads 0 there. Names are `<module>.<what>`; the `e2e.` names
are end-to-end figures that exist on one workload only, which the
benchmark's uniform end-to-end list cannot carry.
"""

from __future__ import annotations

from perfbench.common import median

ROUTES = ("row_at", "singlet_at", "state_at", "state_at_hist")

PER_LAYER: list[tuple[str, str]] = [
    ("session.get_spark_s", "s"),
    ("ingest.flush_ms", "ms"),
    ("ingest.flush_self_ms", "ms"),
    ("ingest.block_us", "us"),
    ("store.write_batch_ms", "ms"),
    ("store.claim_ms", "ms"),
    ("store.jobs_per_flush", "count"),
    ("store.tasks_per_flush", "count"),
    ("store.data_files", "count"),
    ("store.space_amp", "ratio"),
    ("store.compact_bytes_rewritten", "bytes"),
    ("store.changelog_ms", "ms"),
    ("store.commit_entries", "count"),
    ("store.entries_ms", "ms"),
    ("snapshot.index_builds", "count"),
    ("snapshot.build_ms", "ms"),
    ("snapshot.jobs_per_build", "count"),
    *[(f"engine.plan_ms.{r}", "ms") for r in ROUTES],
    *[(f"engine.jobs_per_read.{r}", "count") for r in ROUTES],
    *[(f"serve.request_ms.{r}", "ms") for r in ROUTES],
    *[(f"serve.exec_ms.{r}", "ms") for r in ROUTES],
    ("retrieval.refresh_ms", "ms"),
    ("retrieval.jobs_per_catchup", "count"),
    ("retrieval.delta_files", "count"),
    ("e2e.flush_p90_ms", "ms"),
    ("e2e.head_read_p50_ms", "ms"),
    ("e2e.catchup_p50_ms", "ms"),
    ("e2e.compact_s", "s"),
    ("e2e.reopen_ms", "ms"),
    ("e2e.read_p90_ms", "ms"),
    ("e2e.cpu_ms_per_op", "ms"),
    ("trace.span_cost_us", "us"),
    ("trace.spans_per_op", "count"),
    ("trace.overhead_pct", "%"),
    ("trace.overhead_est_pct", "%"),
]
UNITS = dict(PER_LAYER)

# phases whose spans count toward layer figures ("warmup" spans do not)
MEASURED = ("setup", "timed", "final")


def compute(tr, measured: dict) -> dict[str, float]:
    """All per-layer values: span-derived ones from `tr`, the rest
    (layout counts, e2e figures, ...) from `measured`, 0 otherwise."""
    out = {name: 0.0 for name, _ in PER_LAYER}
    kids = tr.children()
    tasks = tr.job_tasks()

    def spans(name):
        return tr.by_name(name, MEASURED)

    def med_ms(name):
        return median([s.ms for s in spans(name)])

    gs = tr.by_name("session.get_spark")
    if gs:
        out["session.get_spark_s"] = gs[0].ms / 1000.0

    flushes = spans("ingest.flush")
    if flushes:
        out["ingest.flush_ms"] = median([s.ms for s in flushes])

        def sub(span, names):
            return sum(c.ms for c in kids.get(span.id, ()) if c.name in names)

        out["ingest.flush_self_ms"] = median(
            [
                s.ms - sub(s, ("store.write_batch", "snapshot.build_tablet_index",
                               "snapshot.index_write"))
                for s in flushes
            ]
        )
    new_blocks = spans("ingest.process_new_block")
    if new_blocks:
        # per block: both steps, the flushes they trigger (child spans)
        # excluded
        steps = new_blocks + spans("ingest.process_irreversible")
        total_ms = sum(tr.self_ms(s, kids) for s in steps)
        out["ingest.block_us"] = total_ms * 1000.0 / len(new_blocks)

    writes = spans("store.write_batch")
    if writes:
        out["store.write_batch_ms"] = median([s.ms for s in writes])
        out["store.jobs_per_flush"] = median([len(s.jobs) for s in writes])
        out["store.tasks_per_flush"] = median(
            [sum(tasks.get(j, 0) for j in s.jobs) for s in writes]
        )
    out["store.claim_ms"] = med_ms("store.claim")
    out["store.changelog_ms"] = med_ms("store.changelog")

    builds = spans("snapshot.build_tablet_index")
    writes_idx = spans("snapshot.index_write")
    out["snapshot.index_builds"] = float(len(writes_idx))
    if writes_idx:
        out["snapshot.build_ms"] = median(
            [a.ms + b.ms for a, b in zip(builds, writes_idx)]
        )
        out["snapshot.jobs_per_build"] = median(
            [len(a.jobs) + len(b.jobs) for a, b in zip(builds, writes_idx)]
        )

    routes = spans("serve.route")
    for r in ROUTES:
        mine = [s for s in routes if (s.op or "").split(".")[0] == r]
        if not mine:
            continue
        plans = {
            s.id: sum(c.ms for c in kids.get(s.id, ()) if c.name.startswith("engine."))
            for s in mine
        }
        out[f"engine.plan_ms.{r}"] = median(list(plans.values()))
        out[f"engine.jobs_per_read.{r}"] = median([len(s.jobs) for s in mine])
        out[f"serve.exec_ms.{r}"] = median([s.ms - plans[s.id] for s in mine])

    catchups = spans("retrieval.refresh_many")
    if catchups:
        out["retrieval.refresh_ms"] = median([s.ms for s in catchups])
        out["retrieval.jobs_per_catchup"] = median([len(s.jobs) for s in catchups])

    for name, value in measured.items():
        if name not in out:
            raise KeyError(f"unknown per-layer metric {name}")
        out[name] = float(value)
    return out


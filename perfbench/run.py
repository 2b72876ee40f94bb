"""Benchmark of fluxdb_spark: one command per workload.

    python3 perfbench/run.py --workload live_ingest --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/README.md): `live_ingest`, `serve_reads`.
Inputs come from `--seed`; every timed output is
checked against a reference. `--trace 0` prints the end-to-end metrics,
`--trace 1` wraps the program's public functions with spans and prints
the per-layer metrics. Human-readable report lines start with `#`; the
last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}. The exit code is 1 when
an output was wrong, 2 when the program is not in the checkout.
"""

from __future__ import annotations

import time

T0 = time.monotonic()  # process start, for setup_s

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("live_ingest", "serve_reads")


class Context:
    """What a workload gets: its arguments, a work directory inside the
    checkout, the tracer (traced run only) and the report sink."""

    def __init__(self, args, work: str, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.tracer = tracer
        self.t0 = T0
        self.lines: list[str] = []
        self.session = None

    def report(self, line: str) -> None:
        self.lines.append(line)
        print(f"# {line}", flush=True)

    def phase(self, name: str) -> None:
        if self.tracer is not None:
            self.tracer.phase = name

    def spark(self, server_mode: bool = False):
        """The session: the CLI server's FAIR session for server mode,
        else the library default. Both are sized by the environment
        `common.size_to_host` set."""
        from fluxdb_spark import session

        if server_mode:
            from fluxdb_spark.__main__ import _spark

            spark = _spark("server")
        else:
            spark = session.get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.tracer.sc = spark.sparkContext
        self.session = spark
        return spark

    def stop(self) -> None:
        """Stop the session and wait for the driver JVM to exit (it
        exits when its stdin closes, taking its Python workers along)."""
        if self.session is None:
            return
        proc = getattr(self.session.sparkContext._gateway, "proc", None)
        self.session.stop()
        self.session = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)


def install_wrappers(tr) -> None:
    """Spans around the program's public entry points, by layer."""
    from fluxdb_spark import session, store
    from fluxdb_spark.operators import snapshot
    from fluxdb_spark.streaming import ingest, retrieval, serve

    tr.wrap(session, "get_spark", "session.get_spark")
    tr.wrap(ingest.IngestPipeline, "process_new_block", "ingest.process_new_block")
    tr.wrap(ingest.IngestPipeline, "process_irreversible", "ingest.process_irreversible")
    tr.wrap(ingest.IngestPipeline, "flush", "ingest.flush", jobs=True)
    tr.wrap(store.ChangelogStore, "write_batch", "store.write_batch", jobs=True)
    tr.wrap(store.ChangelogStore, "compact", "store.compact", jobs=True)
    tr.wrap(store.ChangelogStore, "changelog", "store.changelog")
    tr.wrap(store.CommitLog, "claim", "store.claim")
    tr.wrap(store.CommitLog, "entries", "store.entries")
    tr.wrap(snapshot, "build_tablet_index", "snapshot.build_tablet_index", jobs=True)
    tr.wrap(store.IndexStore, "write", "snapshot.index_write", jobs=True)
    for route in ("row_at", "singlet_at", "state_at"):
        tr.wrap(ingest.FluxEngine, route, f"engine.{route}", jobs=True)
    tr.wrap(
        serve.QueryServer, "_route", "serve.route", jobs=True,
        op_arg=lambda args, kw: args[2].get("op"),
    )
    tr.wrap(retrieval, "refresh_many", "retrieval.refresh_many", jobs=True)


def check_metric_names(names: set[str], key: str) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"] for m in json.load(f)[key]}
    if names != declared:
        raise RuntimeError(
            f"{key} drift: reported {sorted(names ^ declared)} "
            "differ from BENCHMARK.json"
        )


def traced_metrics(ctx, res, results: str, run_id: str, source: str) -> dict:
    """Per-layer metrics from the spans (needs the live session for
    job and task counts), plus the tracing overhead: estimated in-process
    from the span cost, and measured against the untraced run of the
    same workload, seed and program sources when one is on disk."""
    from perfbench import layers

    tracer = ctx.tracer
    measured = dict(res["layer"])
    traced = res["e2e"]["op_latency_ms"][0]
    measured["trace.overhead_est_pct"] = (
        measured["trace.span_cost_us"] * measured["trace.spans_per_op"]
        / (traced * 1000.0) * 100.0
    )
    untraced = os.path.join(results, run_id[: run_id.rindex("-t")] + "-t0.json")
    base = None
    if os.path.exists(untraced):
        with open(untraced) as f:
            prev = json.load(f)
        if prev["stamp"]["source_sha"] == source:
            base = prev["metrics"]["op_latency_ms"]["value"]
    if base is not None:
        measured["trace.overhead_pct"] = (traced - base) / base * 100.0
        ctx.report(f"tracing overhead on op_latency_ms: {traced:.1f} ms traced "
                   f"vs {base:.1f} ms untraced (same seed and sources; one run "
                   "each, so within run-to-run noise)")
    else:
        ctx.report("tracing overhead: no untraced result for this seed and "
                   "these sources yet")
    ctx.report(f"tracing overhead estimate: {measured['trace.overhead_est_pct']:.3f} % "
               "(span cost x spans per op / op_latency_ms)")
    metrics = {
        name: {"value": value, "unit": layers.UNITS[name]}
        for name, value in layers.compute(tracer, measured).items()
    }
    check_metric_names(set(metrics), "per_layer")
    tracer.dump(os.path.join(results, f"{run_id}-spans.jsonl"))
    return metrics


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "fluxdb_spark", "__init__.py")):
        print("perfbench: fluxdb_spark is not in this checkout", file=sys.stderr)
        return 2
    # import the program and the benchmark as packages from the checkout
    sys.path[:] = [ROOT] + [x for x in sys.path if os.path.abspath(x or ".") != HERE]

    from perfbench import common
    from perfbench.spans import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".perfbench", "work", f"{run_id}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    env = common.size_to_host(work)
    tracer = None
    if args.trace:
        tracer = Tracer()
        install_wrappers(tracer)
    ctx = Context(args, work, tracer)
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": common.host_cpus(),
        "host_mem_gb": round(common.host_mem_bytes() / 2**30, 1),
        "driver_memory": env["SPARK_DRIVER_MEMORY"],
        "git_sha": common.git_sha(),
        "source_sha": common.source_sha(),
        "cpu_probe_ms": round(common.cpu_probe_ms(), 2),
    }
    _, steal0, total0 = common.cpu_ticks()
    try:
        mod = importlib.import_module(f"perfbench.{args.workload}")
        res = mod.run(ctx)
        _, steal1, total1 = common.cpu_ticks()
        # CPU time the hypervisor gave to other guests during the run
        stamp["host_steal_pct"] = round(
            100.0 * (steal1 - steal0) / max(1, total1 - total0), 2
        )
        stamp["data_fingerprint"] = res["fingerprint"]
        ctx.report("stamp " + json.dumps(stamp, sort_keys=True))
        if args.trace:
            metrics = traced_metrics(ctx, res, results, run_id, stamp["source_sha"])
        else:
            metrics = {
                name: {"value": value, "unit": unit}
                for name, (value, unit) in res["e2e"].items()
            }
            check_metric_names(set(metrics), "end_to_end")
    finally:
        if tracer is not None:
            tracer.restore()
        ctx.stop()
        shutil.rmtree(work, ignore_errors=True)
    out = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(
            dict(out, stamp=stamp, report=ctx.lines, samples=res["samples"]),
            f, indent=1,
        )
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

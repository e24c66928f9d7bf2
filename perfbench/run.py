"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload changefeed_ingest --seed 1 --seconds 20 --trace 0

Runs one closed-loop workload (one client; the next op is issued only after
the previous result is checked) against the package's public API on
``local[4]`` with 4 shuffle partitions, checks every output, prints a
human-readable report and, as the last line of standard output, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (spans are
written to ``.perfbench_out/``). Inputs are generated from ``--seed`` by the
benchmark itself; scratch files live under ``.perfbench_work/`` in the
checkout and are removed at exit. See perfbench/NOTES.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = {
    "changefeed_ingest": "wl_ingest",
    "lake_query": "wl_lake",
    "llm_index_refresh": "wl_llm",
}

#: metrics printed in the result line, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
    "backfill_events_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
}
PER_LAYER = {
    "session.spark_start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.ndjson_bytes": "count",
    "streaming.trigger_s": "s",
    "streaming.outside_batch_s": "s",
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.input_rows": "count",
    "txlog.merge_into_s": "s",
    "txlog.append_s": "s",
    "txlog.read_s": "s",
    "txlog.maintain_s": "s",
    "txlog.active_files": "count",
    "txlog.bytes_written_per_event": "B",
    "txlog.log_versions": "count",
    "operators.silver_merge_s": "s",
    "operators.doc_index_fold_s": "s",
    "operators.ann_index_fold_s": "s",
    "operators.index_rows_folded": "count",
    "engine.sql_tx_resolve_s": "s",
    "engine.hybrid_search_plan_s": "s",
    "engine.collect_s": "s",
}
#: per-layer figures a workload may leave at zero; reported, not in the
#: result line
EXTRA_LAYER = {
    "sources.raw_scan_s": "s",
    "streaming.empty_trigger_ratio": "ratio",
    "txlog.read_changes_s": "s",
    "engine.sql_resolve_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:7.2f}s] {msg}", flush=True)


class Ctx:
    """What a workload receives: the session, the engine, op accounting,
    span hooks (no-ops when untraced) and its scratch directory."""

    def __init__(self, args, work: str, spark, tracer):
        from mb_crdb_cdc_dlgen2_synapse_spark.engine import Engine

        self.seed, self.seconds = args.seed, args.seconds
        #: traffic-shape overrides for the rides changefeed (gen.RidesFeed)
        self.traffic = {k: v for k, v in (("mix", args.mix), ("hot_share", args.hot_share))
                        if v is not None}
        self.work, self.spark, self.tracer = work, spark, tracer
        self.eng = Engine(spark)
        self.ops = common.Ops(log)
        self.log = log
        self.span = tracer.span if tracer else common.nullspan
        self.t_setup_done: float | None = None
        #: untimed warm-up a workload does after its first timed op; it
        #: counts in setup_s
        self.untimed_s = 0.0
        self.queries_started = 0
        self.run_entry: dict[str, str] = {}
        self.active_files: list[int] = []
        self.events_landed = 0
        self.ndjson_bytes = 0
        self.state_tables: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup_done(self) -> None:
        self.t_setup_done = time.perf_counter()
        log(f"setup done: {self.t_setup_done - T_PROCESS:.2f}s")

    def trigger(self, entry: str, start) -> None:
        """One availableNow trigger: ``start()`` launches the query through
        an ``Engine.start_*`` entry point; returns when it has terminated."""
        with self.span("streaming.trigger", entry=entry):
            q = start()
            self.queries_started += 1
            self.run_entry[str(q.runId)] = entry
            q.awaitTermination()

    def sample_active_files(self, table_dir: str) -> None:
        if self.tracer:
            self.active_files.append(len(self.eng.tx_table(table_dir).snapshot()[1]))


def layer_metrics(ctx: Ctx, listener, spark_start_s: float) -> dict[str, float]:
    from spans import wait_for_listener

    tr = ctx.tracer
    wait_for_listener(listener, ctx.queries_started)
    self_t = tr.self_times()
    prog = tr.progress
    ms = lambda key: float(sum(p["ms"].get(key, 0) for p in prog))  # noqa: E731
    trigger_total = tr.total("streaming.trigger")
    by_entry: dict[str, float] = {}
    for s in tr.spans:
        if s["name"] == "streaming.trigger":
            by_entry[s["entry"]] = by_entry.get(s["entry"], 0.0) + s["end"] - s["start"]
    index_rows = sum(
        p["rows"] for p in prog
        if ctx.run_entry.get(p["run"], "").endswith("index_maintenance")
    )
    versions = sum(ctx.eng.tx_table(d).version() + 1 for d in ctx.state_tables)
    return {
        "session.spark_start_s": spark_start_s,
        "session.peak_rss_mb": common.peak_rss_mb(),
        "sources.ndjson_bytes": float(ctx.ndjson_bytes),
        "sources.raw_scan_s": self_t.get("sources.raw_scan", 0.0),
        "streaming.trigger_s": self_t.get("streaming.trigger", 0.0),
        "streaming.outside_batch_s": trigger_total - ms("triggerExecution") / 1000.0,
        "streaming.latest_offset_ms": ms("latestOffset"),
        "streaming.get_batch_ms": ms("getBatch"),
        "streaming.query_planning_ms": ms("queryPlanning"),
        "streaming.add_batch_ms": ms("addBatch"),
        "streaming.wal_commit_ms": ms("walCommit"),
        "streaming.input_rows": float(sum(p["rows"] for p in prog)),
        "streaming.empty_trigger_ratio": (
            sum(1 for p in prog if p["rows"] == 0) / len(prog) if prog else 0.0
        ),
        "txlog.merge_into_s": self_t.get("txlog.merge_into", 0.0),
        "txlog.append_s": self_t.get("txlog.append", 0.0),
        "txlog.read_s": self_t.get("txlog.read", 0.0),
        "txlog.read_changes_s": self_t.get("txlog.read_changes", 0.0),
        "txlog.maintain_s": self_t.get("txlog.maintain", 0.0),
        "txlog.active_files": common.p50(ctx.active_files) if ctx.active_files else 0.0,
        "txlog.bytes_written_per_event": (
            tr.counts.get("txlog.bytes_written", 0) / max(1, ctx.events_landed)
        ),
        "txlog.log_versions": float(versions),
        "operators.silver_merge_s": by_entry.get("start_silver_ingestion", 0.0),
        "operators.doc_index_fold_s": by_entry.get("start_document_index_maintenance", 0.0),
        "operators.ann_index_fold_s": by_entry.get("start_ann_index_maintenance", 0.0),
        "operators.index_rows_folded": float(index_rows),
        "engine.sql_tx_resolve_s": self_t.get("engine.sql_tx_resolve", 0.0),
        "engine.sql_resolve_s": self_t.get("engine.sql_resolve", 0.0),
        "engine.hybrid_search_plan_s": self_t.get("engine.hybrid_search_plan", 0.0),
        "engine.collect_s": self_t.get("engine.collect", 0.0),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default=f"local[{common.CORES}]",
                    help="Spark master; the gated runs use the default")
    ap.add_argument("--mix", type=lambda s: tuple(map(float, s.split(","))),
                    help="update,insert,delete shares of a rides flush "
                         "(default: gen.MIX); for sensitivity runs")
    ap.add_argument("--hot-share", type=float,
                    help="share of updates sent to the hot key set "
                         "(default: gen.HOT_SHARE); for sensitivity runs")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(common.ROOT, common.PACKAGE)):
        print(f"perfbench: package {common.PACKAGE!r} not found under {common.ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, common.ROOT)
    work = os.path.join(common.ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    common.prepare_env(work)
    spark = None
    steal0, ticks0 = common.cpu_ticks()
    try:
        importlib.import_module(common.PACKAGE)
        workload = importlib.import_module(WORKLOADS[args.workload])
        t0 = time.perf_counter()
        spark = common.start_spark(work, args.master)
        spark_start_s = time.perf_counter() - t0
        log(f"spark up in {spark_start_s:.2f}s ({args.master})")
        tracer = listener = None
        if args.trace:
            import spans

            tracer = spans.Tracer()
            listener = spans.install(tracer, spark)
        ctx = Ctx(args, work, spark, tracer)
        e2e, report = workload.run(ctx)
        if args.trace and args.workload != "llm_index_refresh":
            import wl_llm

            wl_llm.index_phase(ctx)
            log("index phase done")
        e2e["setup_s"] = ctx.t_setup_done - T_PROCESS + ctx.untimed_s
        ops = ctx.ops
        if args.trace:
            metrics = layer_metrics(ctx, listener, spark_start_s)
            out = os.path.join(common.ROOT, ".perfbench_out",
                               f"trace-{args.workload}-{args.seed}-{tracer.run_id}.jsonl")
            tracer.write(out)
            log(f"spans written to {os.path.relpath(out, common.ROOT)}")
            for k, unit in {**PER_LAYER, **EXTRA_LAYER}.items():
                log(f"layer {k} = {metrics[k]:.6g} {unit}")
            result_metrics = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            result_metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        report["setup_s"] = (e2e["setup_s"], "s")
        report["failed_fraction"] = (ops.failed / max(1, ops.attempted), "ratio")
        steal1, ticks1 = common.cpu_ticks()
        report["host_steal_share"] = ((steal1 - steal0) / max(1, ticks1 - ticks0), "ratio")
        for k, (v, unit) in report.items():
            log(f"{args.workload} {k} = {v:.6g} {unit}")
        for k, unit in END_TO_END.items():
            log(f"e2e {k} = {e2e[k]!r} {unit}")
        for f in ops.failures:
            log(f"failure: {f}")
        finite = all(math.isfinite(m["value"]) for m in result_metrics.values())
        print(json.dumps({
            "correct": ops.failed == 0 and finite,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": result_metrics,
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

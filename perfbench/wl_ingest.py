"""changefeed_ingest: the reference's CDC half plus its query.

An initial-scan backlog lands and one ``Engine.start_dv_ingestion`` trigger
drains it. A first flush warms the flush path up, untimed. Then, in a
closed loop (a flush count set by ``--seconds``): a small date-dir flush
lands, one trigger ingests it, the reference's revenue-by-city SQL runs over
the live latest state (``Engine.sql_tx``) and is checked against the
generator's expected state, and ``Engine.maintain`` runs at its default
thresholds. The merge-on-read sink is used because its timestamp compare
makes late files come out right (perfbench/NOTES.md).
"""

from __future__ import annotations

import time

from pyspark.sql import types as T

import common
import gen

AFTER = T.StructType([
    T.StructField("city", T.StringType()),
    T.StructField("id", T.StringType()),
    T.StructField("rider_id", T.StringType()),
    T.StructField("revenue", T.DoubleType()),
])
CITY_REVENUE = (
    "SELECT after.city AS city, count(*) AS n, sum(after.revenue) AS revenue "
    "FROM state WHERE after IS NOT NULL GROUP BY after.city"
)
INITIAL_KEYS = 20_000
#: ~470 events with re-emissions: the flush size of the first measurement of
#: this pipeline's freshness (perfbench/NOTES.md, "Traffic shape")
FLUSH_EVENTS = 460
#: nominal seconds per flush cycle on the reference 4-core box; --seconds
#: fixes the flush count through it, so every run takes the same number of
#: freshness samples
NOMINAL_FLUSH_S = 3.0


class Pipeline:
    """One landing directory feeding one latest-state table."""

    def __init__(self, ctx, name: str):
        self.ctx, self.eng = ctx, ctx.eng
        self.land = ctx.path(name, "landing")
        self.state = ctx.path(name, "state")
        self.ckpt = ctx.path(name, "checkpoint")

    def write(self, flush: gen.Flush) -> None:
        self.ctx.ndjson_bytes += gen.write_files(self.land, flush.files)
        self.ctx.events_landed += flush.n_events

    def trigger(self) -> None:
        from mb_crdb_cdc_dlgen2_synapse_spark.streaming.ingest import changefeed_stream

        ctx = self.ctx
        ctx.trigger("start_dv_ingestion", lambda: self.eng.start_dv_ingestion(
            changefeed_stream(ctx.spark, self.land, AFTER), self.state, self.ckpt))

    def city_revenue_ok(self, feed: gen.RidesFeed) -> bool:
        df = self.eng.sql_tx(CITY_REVENUE, {"state": self.state})
        with self.ctx.span("engine.collect"):
            rows = df.collect()
        want = gen.city_revenue(feed.expected_live())
        got = {r.city: (r.n, r.revenue) for r in rows}
        return got.keys() == want.keys() and all(
            got[c][0] == n and common.close(got[c][1], s) for c, (n, s) in want.items()
        )

    def live_rows_ok(self, feed: gen.RidesFeed) -> bool:
        rows = self.eng.read_tx_state(self.state).select("after").collect()
        got = {r.after.id: r.after.asDict() for r in rows}
        return len(got) == len(rows) and got == feed.expected_live()


def run(ctx):
    ops = ctx.ops
    # warm-up: a backfill trigger on a small feed of its own, so the timed
    # backfill does not pay the JVM's first-trigger cost (class loading and
    # JIT, ~10 s); the flush path is warmed by the main table's first flush
    warm = Pipeline(ctx, "warmup")
    wfeed = gen.RidesFeed(seed=ctx.seed ^ 0x5A5A, initial_keys=500, flush_events=100,
                          **ctx.traffic)
    warm.write(wfeed.initial_scan())
    warm.trigger()
    # the byte ratios cover the main pipeline only
    ctx.ndjson_bytes = ctx.events_landed = 0
    if ctx.tracer:
        ctx.tracer.counts.pop("txlog.bytes_written", None)

    p = Pipeline(ctx, "main")
    ctx.state_tables.append(p.state)
    feed = gen.RidesFeed(seed=ctx.seed, initial_keys=INITIAL_KEYS, flush_events=FLUSH_EVENTS,
                         **ctx.traffic)
    scan = feed.initial_scan()
    ctx.setup_done()

    p.write(scan)
    t_landed = time.perf_counter()
    p.trigger()
    backfill_s = time.perf_counter() - t_landed
    ops.run("backfill", "initial scan", lambda: p.city_revenue_ok(feed), t0=t_landed)

    # the first flush into a new table pays per-table first-use costs (its
    # trigger and query take ~1.5x a later flush's, its maintain ~2 s
    # against ~10 ms): it is checked but not sampled, and counts as set-up
    t_first = time.perf_counter()
    p.write(feed.next_flush())
    p.trigger()
    ops.check("first flush", p.city_revenue_ok(feed))
    ctx.eng.maintain(p.state)
    ctx.untimed_s += time.perf_counter() - t_first

    trickle_events = 0
    t_loop = time.perf_counter()
    for _ in range(max(1, round(ctx.seconds / NOMINAL_FLUSH_S))):
        flush = feed.next_flush()
        p.write(flush)
        t_written = time.perf_counter()
        trickle_events += flush.n_events

        def fresh() -> bool:
            p.trigger()
            return p.city_revenue_ok(feed)

        ops.run("flush", f"flush {flush.number}", fresh, t0=t_written)
        ctx.eng.maintain(p.state)
        ctx.sample_active_files(p.state)
    loop_s = time.perf_counter() - t_loop

    ops.check("final live rows", p.live_rows_ok(feed))
    stored = common.dir_bytes(p.state) / ctx.ndjson_bytes
    lat = ops.samples["flush"]
    tail, pct, n = common.tail(lat)
    e2e = {
        "latency_p50_s": common.p50(lat),
        "latency_tail_s": tail,
        "throughput_per_s": trickle_events / loop_s,
        "backfill_events_per_s": scan.n_events / backfill_s,
        "stored_bytes_per_input_byte": stored,
    }
    report = {
        "backfill_events_per_s": (e2e["backfill_events_per_s"], "events/s"),
        "freshness_p50_s": (e2e["latency_p50_s"], "s"),
        f"freshness_tail_s[p{pct:g},n={n}]": (tail, "s"),
        "ingest_events_per_s": (e2e["throughput_per_s"], "events/s"),
        "stored_bytes_per_input_byte": (stored, "ratio"),
    }
    return e2e, report

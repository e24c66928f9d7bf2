"""llm_index_refresh: the LLM half of the pipeline (the llm_pipeline_e2e
gate's shape).

Setup (untimed) lands the documents and embeddings corpus as changefeed
drops, ingests both with ``Engine.start_silver_ingestion`` and bootstraps
the indexes with ``Engine.start_document_index_maintenance`` (BM25 + LSH)
and ``Engine.start_ann_index_maintenance``. Each timed round lands seeded
update, tombstone and insert drops for both modalities, refolds the silver
tables and all three indexes, then runs a seeded batch of
``Engine.hybrid_search`` calls. An untimed end-of-run check compares the
silver tables with the expected state, and the maintained indexes' answers
with those of indexes rebuilt from scratch over the final silver tables.
"""

from __future__ import annotations

import random
import time

from pyspark.sql import types as T

import common
import gen

CORPUS_DOCS = 5_000  # sf0.1 documents
CORPUS_VECS = 2_000  # sf0.1 embeddings
DROP = {"update_rows": 50, "delete_rows": 10, "insert_rows": 10}
HYBRID_CALLS = 3
#: nominal seconds per round (refresh + hybrid batch) on the reference
#: 4-core box; --seconds fixes the round count through it
NOMINAL_ROUND_S = 35.0
QUERIES_PER_CALL = 4
K = 10

DOC_AFTER = T.StructType([
    T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())])
EMB_AFTER = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.DoubleType()))])
DOC_COLUMNS = {"doc_id": "cast(element_at(key, 1) as bigint)", "text": "after.text"}
EMB_COLUMNS = {"vec_id": "cast(element_at(key, 1) as bigint)", "embedding": "after.embedding"}


class Lake:
    def __init__(self, ctx):
        self.ctx, self.eng = ctx, ctx.eng
        self.d = {n: ctx.path(n) for n in (
            "docs_landing", "embs_landing", "docs", "embs", "bm25", "lsh", "ann")}
        ctx.state_tables += [self.d[n] for n in ("docs", "embs", "bm25", "lsh", "ann")]

    def land(self, doc_files, emb_files) -> None:
        self.ctx.ndjson_bytes += gen.write_files(self.d["docs_landing"], doc_files)
        self.ctx.ndjson_bytes += gen.write_files(self.d["embs_landing"], emb_files)
        self.ctx.events_landed += sum(len(ls) for _, ls in doc_files + emb_files)

    def ingest_silver(self) -> None:
        from mb_crdb_cdc_dlgen2_synapse_spark.streaming.ingest import changefeed_stream

        ctx, eng, d = self.ctx, self.eng, self.d
        for src, dst, after, key, cols in (
            ("docs_landing", "docs", DOC_AFTER, "doc_id", DOC_COLUMNS),
            ("embs_landing", "embs", EMB_AFTER, "vec_id", EMB_COLUMNS),
        ):
            ctx.trigger("start_silver_ingestion", lambda: eng.start_silver_ingestion(
                changefeed_stream(ctx.spark, d[src], after), d[dst],
                ctx.path("ckpt_" + dst), key, cols))

    def fold_indexes(self) -> None:
        ctx, eng, d = self.ctx, self.eng, self.d
        ctx.trigger("start_document_index_maintenance",
                    lambda: eng.start_document_index_maintenance(
                        d["docs"], d["bm25"], d["lsh"], ctx.path("ckpt_docidx")))
        ctx.trigger("start_ann_index_maintenance",
                    lambda: eng.start_ann_index_maintenance(
                        d["embs"], d["ann"], ctx.path("ckpt_ann"), prefix_bits=4))

    def watermarks_ok(self) -> bool:
        """All three indexes folded the silver tables' heads."""
        t = self.eng.tx_table
        docs_v, embs_v = t(self.d["docs"]).version(), t(self.d["embs"]).version()
        return (
            int(t(self.d["bm25"]).properties()["bm25.srcVersion"]) == docs_v
            and int(t(self.d["lsh"]).properties()["lsh.srcVersion"]) == docs_v
            and int(t(self.d["ann"]).properties()["ann.srcVersion"]) == embs_v
        )


def queries(spark, rng: random.Random):
    terms = [(q, rng.choice(gen.VOCAB)) for q in range(QUERIES_PER_CALL) for _ in range(2)]
    vecs = [(q, [rng.gauss(0.0, 1.0) for _ in range(64)]) for q in range(QUERIES_PER_CALL)]
    return (spark.createDataFrame(terms, "query_id int, term string"),
            spark.createDataFrame(vecs, "query_id int, embedding array<double>"))


def hybrid(ctx, bm25: str, ann: str, q) -> list[tuple]:
    df = ctx.eng.hybrid_search(bm25, ann, q[0], q[1], k=K, per_system_k=20)
    with ctx.span("engine.collect"):
        return sorted((r.query_id, r.rk, r.doc_id, r.rrf) for r in df.collect())


def k_rows_each(rows: list[tuple]) -> bool:
    per = {}
    for r in rows:
        per[r[0]] = per.get(r[0], 0) + 1
    return sorted(per) == list(range(QUERIES_PER_CALL)) and set(per.values()) == {K}


def silver_ok(ctx, lake: Lake, feed: gen.LlmFeed) -> bool:
    t = ctx.eng.tx_table
    docs = {r.doc_id: r.text for r in t(lake.d["docs"]).read().select("doc_id", "text").collect()}
    want_docs = {i: feed.corpus.text(i, v) for i, v in feed.docs.items()}
    embs = {r.vec_id: list(r.embedding)
            for r in t(lake.d["embs"]).read().select("vec_id", "embedding").collect()}
    want_embs = {i: feed.embedding(i, v) for i, v in feed.vecs.items()}
    return docs == want_docs and embs == want_embs


#: the corpus of the index phase of traced runs of the other workloads
PHASE_CORPUS = (300, 120)  # documents, embeddings


def index_phase(ctx) -> None:
    """The operators layer on a traced run of another workload, after its
    timed part: land a small documents + embeddings corpus, ingest both with
    ``Engine.start_silver_ingestion``, fold it into BM25, LSH and ANN
    indexes through the index-maintenance entry points, then run one
    ``Engine.hybrid_search``. Every step is checked. Untraced runs skip it:
    it adds ~30 s of fixed per-job cost, which the gated runs have no room
    for."""
    ops = ctx.ops
    lake = Lake(ctx)
    feed = gen.LlmFeed(gen.Corpus(ctx.seed, *PHASE_CORPUS), 0, 0, 0)
    lake.land(*feed.corpus_drop())
    lake.ingest_silver()
    lake.fold_indexes()
    ops.check("index phase watermarks", lake.watermarks_ok())
    ops.check("index phase silver equals expected state", silver_ok(ctx, lake, feed))
    q = queries(ctx.spark, random.Random(ctx.seed))
    ops.check("index phase hybrid", k_rows_each(hybrid(ctx, lake.d["bm25"], lake.d["ann"], q)))


def run(ctx):
    ops, eng = ctx.ops, ctx.eng
    lake = Lake(ctx)
    feed = gen.LlmFeed(gen.Corpus(ctx.seed, CORPUS_DOCS, CORPUS_VECS), **DROP)
    rng = random.Random(ctx.seed)

    corpus = feed.corpus_drop()
    n_corpus = sum(len(ls) for _, ls in corpus[0] + corpus[1])
    lake.land(*corpus)
    t0 = time.perf_counter()
    lake.ingest_silver()
    backfill_s = time.perf_counter() - t0
    lake.fold_indexes()
    ops.check("bootstrap watermarks", lake.watermarks_ok())
    ops.check("warmup hybrid", k_rows_each(hybrid(ctx, lake.d["bm25"], lake.d["ann"],
                                                  queries(ctx.spark, rng))))
    ctx.setup_done()

    drop_events = 0
    refresh_s = []
    for _ in range(max(1, round(ctx.seconds / NOMINAL_ROUND_S))):
        drop = feed.next_drop()
        lake.land(*drop)
        t_landed = time.perf_counter()
        drop_events += sum(len(ls) for _, ls in drop[0] + drop[1])

        def refresh() -> bool:
            lake.ingest_silver()
            lake.fold_indexes()
            return lake.watermarks_ok()

        ops.run("refresh", f"round {len(refresh_s)}", refresh, t0=t_landed)
        refresh_s.append(ops.samples["refresh"][-1])
        for i in range(HYBRID_CALLS):
            q = queries(ctx.spark, rng)
            ops.run("hybrid", f"round {len(refresh_s) - 1} call {i}", lambda: k_rows_each(
                hybrid(ctx, lake.d["bm25"], lake.d["ann"], q)))
    refresh_total = sum(refresh_s)

    # untimed end-of-run checks
    ops.check("silver equals expected state", silver_ok(ctx, lake, feed))
    scratch = {n: ctx.path("scratch_" + n) for n in ("bm25", "ann")}
    eng.build_bm25_index(lake.d["docs"], scratch["bm25"])
    eng.build_ann_index(lake.d["embs"], scratch["ann"], prefix_bits=4)
    for i in range(2):
        q = queries(ctx.spark, rng)
        kept = hybrid(ctx, lake.d["bm25"], lake.d["ann"], q)
        rebuilt = hybrid(ctx, scratch["bm25"], scratch["ann"], q)
        ops.check(f"maintained == rebuilt indexes ({i})", len(kept) == len(rebuilt) and all(
            a[:3] == b[:3] and common.close(a[3], b[3], 1e-12) for a, b in zip(kept, rebuilt)))

    lat = ops.samples["hybrid"]
    tail, pct, n = common.tail(lat)
    stored = sum(common.dir_bytes(lake.d[k]) for k in ("docs", "embs", "bm25", "lsh", "ann"))
    e2e = {
        "latency_p50_s": common.p50(lat),
        "latency_tail_s": tail,
        "throughput_per_s": drop_events / refresh_total,
        "backfill_events_per_s": n_corpus / backfill_s,
        "stored_bytes_per_input_byte": stored / ctx.ndjson_bytes,
    }
    report = {
        "index_refresh_p50_s": (common.p50(refresh_s), "s"),
        "refresh_events_per_s": (e2e["throughput_per_s"], "events/s"),
        "hybrid_query_p50_s": (e2e["latency_p50_s"], "s"),
        f"hybrid_query_tail_s[p{pct:g},n={n}]": (tail, "s"),
        "silver_backfill_events_per_s": (e2e["backfill_events_per_s"], "events/s"),
        "stored_bytes_per_input_byte": (e2e["stored_bytes_per_input_byte"], "ratio"),
    }
    return e2e, report

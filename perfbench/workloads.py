"""The two workloads: ``search`` (read-only serving from an index held in
Spark memory, repeated queries) and ``refresh`` (delta build, merge,
delete, compaction, save and load beside never-repeated queries against
the freshly loaded Parquet-backed index).

Every call into the engine goes through one of the ``*_call`` helpers
below, which call the engine's public entry points exactly as a user
would, traced or not. A traced run wraps the layer functions in place
(``engine_layers``), so the spans time the program's own composition of
its layers; each wrapper forces its layer's result with an action so that
the lazy plan runs inside the layer's span.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from harness import (
    Oracle,
    Tracer,
    content_bytes,
    corpus_rows,
    dir_bytes,
    distinct_queries,
    doc_ids_for,
    log,
    median,
    pages_by_query,
    pages_match,
    partitions,
    percentile,
    remove_dir,
)

K = 10
GOLDEN_DEPTH = 20  # golden pages run deeper than k to expose tie groups


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)     # end-to-end metric -> value
    named: dict = field(default_factory=dict)   # metric name -> (value, unit, n)
    layers: dict = field(default_factory=dict)  # per-layer metric -> value
    tracer: Tracer | None = None


# --------------------------------------------------------------------------
# Calls into the engine
# --------------------------------------------------------------------------


def corpus_df(spark, rows):
    from searchenginejava_spark.schema import SOURCE_CODE

    df = spark.createDataFrame(rows, SOURCE_CODE)
    return df.persist()


def engine_layers() -> list[tuple]:
    """The layer functions a traced run wraps in place, each patched in the
    module the program calls it from, with the span name it reports."""
    from searchenginejava_spark.operators import index as index_ops
    from searchenginejava_spark.plans import pipeline

    return [
        (pipeline, "tokenize_tf", "operators.index.tokenize_tf"),
        (pipeline, "doc_stats_local", "operators.index.doc_stats_local"),
        (pipeline, "query_terms_df", "operators.search.query_terms_df"),
        (pipeline, "wand_topk", "operators.wand.wand_topk"),
        (pipeline, "score_exhaustive", "operators.search.score_exhaustive"),
        (pipeline, "compact_index", "plans.pipeline.compact_index"),
        (index_ops, "spimi_partials", "operators.index.spimi_partials"),
        (index_ops, "merge_postings", "operators.index.merge_postings"),
        (index_ops, "decode_postings_df", "operators.index.decode_postings_df"),
    ]


def build_call(spark, tr: Tracer, corpus, *, offset: int = 0, name: str):
    """assign_doc_ids(scalable) → build_index(full, assume_partitioned),
    forced until postings and docs are materialized."""
    from pyspark.sql import functions as F

    from searchenginejava_spark.plans.pipeline import build_index
    from searchenginejava_spark.sources.source import assign_doc_ids

    P = partitions()
    with tr.span(name), tr.layers(engine_layers()):
        ids = tr.call(
            "sources.source.assign_doc_ids", assign_doc_ids,
            corpus, scalable=True, num_partitions=P,
        )
        if offset:
            ids = ids.withColumn("doc_id", F.col("doc_id") + F.lit(offset))
        idx = build_index(
            spark, ids, text_col="content", mode="full",
            num_partitions=P, assume_partitioned=True,
        )
        idx.postings.count()
        idx.docs.persist().count()
    return idx


def wand_call(tr: Tracer, engine, text: str) -> list[tuple]:
    """One interactive query: ``SearchEngine.search`` (WAND, k=10)."""
    with tr.span("query"), tr.layers(engine_layers(), release=True):
        rows = engine.search(text, k=K).collect()
    return pages_by_query(rows).get(0, [])


def batch_call(spark, tr: Tracer, idx, queries) -> dict[int, list[tuple]]:
    """One TREC-style batch: ``run_queries(path="exhaustive")``."""
    from searchenginejava_spark.plans.pipeline import run_queries

    with tr.span("batch"), tr.layers(engine_layers(), release=True):
        rows = run_queries(spark, idx, queries, k=K, path="exhaustive").collect()
    return pages_by_query(rows)


def index_bytes(idx) -> tuple[int, int, int]:
    """(term + postings + norms bytes, postings count, postings bytes)."""
    from pyspark.sql import functions as F

    row = idx.postings.agg(
        F.sum(F.octet_length("term")).alias("t"),
        F.sum(F.octet_length("postings")).alias("p"),
        F.sum(F.octet_length("norms")).alias("n"),
        F.sum("df").alias("df"),
    ).collect()[0]
    return int(row["t"] or 0) + int(row["p"] or 0) + int(row["n"] or 0), int(row["df"] or 0), int(row["p"] or 0)


def tokenizer_docs_per_s(rows, seconds: float = 0.5) -> float:
    """Driver-side single-core tokenize_text over a fixed document sample."""
    from searchenginejava_spark.functions.tokenize import tokenize_text

    docs = [r[4] for r in rows[:200]]
    n = 0
    t0 = time.monotonic()
    while True:
        memo: dict = {}
        for d in docs:
            tokenize_text(d, _memo=memo)
        n += len(docs)
        el = time.monotonic() - t0
        if el >= seconds:
            return n / el


def attempt(out: Outcome, fn, *args):
    """Run one operation; an exception counts it as failed."""
    out.attempted += 1
    try:
        return fn(*args)
    except Exception:  # noqa: BLE001 — a failed operation is a measurement
        traceback.print_exc()
        out.failed += 1
        return None


# --------------------------------------------------------------------------
# Per-layer metrics from the spans
# --------------------------------------------------------------------------


def _under(tr: Tracer, parent: str, name: str):
    parents = {s.id for s in tr.spans if s.name == parent}
    return [s for s in tr.spans if s.name == name and s.parent in parents]


def _med(xs) -> float:
    xs = list(xs)
    return median(xs) if xs else 0.0


def layer_metrics(tr: Tracer, build_span: str) -> dict:
    def under_build(name):
        return _under(tr, build_span, name)

    tok = under_build("operators.index.tokenize_tf")
    spimi = under_build("operators.index.spimi_partials")
    merge = under_build("operators.index.merge_postings")
    runs_per_term = [
        s.attrs["rows"] / m.attrs["rows"]
        for s, m in zip(spimi, merge)
        if m.attrs.get("rows")
    ]
    q_terms = _under(tr, "query", "operators.search.query_terms_df")
    wand = _under(tr, "query", "operators.wand.wand_topk")
    queries = tr.named("query")
    decode = _under(tr, "batch", "operators.index.decode_postings_df")
    score = _under(tr, "batch", "operators.search.score_exhaustive")
    m = {
        "sources.source.assign_doc_ids.s": _med(s.seconds for s in under_build("sources.source.assign_doc_ids")),
        "operators.index.tokenize_tf.s": _med(s.seconds for s in tok),
        "operators.index.tokenize_tf.rows": _med(s.attrs["rows"] for s in tok),
        "operators.index.doc_stats_local.s": _med(s.seconds for s in under_build("operators.index.doc_stats_local")),
        "operators.index.spimi_partials.s": _med(s.seconds for s in spimi),
        "operators.index.spimi_partials.runs": _med(s.attrs["rows"] for s in spimi),
        "spimi.runs_per_term": _med(runs_per_term),
        "operators.index.merge_postings.s": _med(s.seconds for s in merge),
        "operators.search.query_terms_df.ms": 1000 * _med(s.seconds for s in q_terms),
        "operators.wand.wand_topk.ms": 1000 * _med(s.seconds for s in wand),
        "spark.jobs_per_query": _med(s.attrs["jobs"] for s in queries),
        "spark.stages_per_query": _med(s.attrs["stages"] for s in queries),
        "spark.tasks_per_query": _med(s.attrs["tasks"] for s in queries),
        "spark.tasks_per_build": _med(s.attrs["tasks"] for s in tr.named(build_span)),
        "operators.index.decode_postings_df.rows": _med(s.attrs["rows"] for s in decode),
        "operators.search.score_exhaustive.s": _med(s.seconds for s in score),
    }
    return m


REFRESH_LAYERS = (
    "plans.pipeline.build_index.delta_s",
    "plans.pipeline.merge_indexes.s",
    "plans.pipeline.merge_indexes.bytes_out",
    "plans.pipeline.compact_index.s",
    "plans.pipeline.compact_index.count",
    "sources.index_store.save_index.s",
    "sources.index_store.save_index.bytes",
    "sources.index_store.load_index.s",
)


def overhead(traced: list[float], plain: list[float]) -> float:
    if not traced or not plain:
        return 0.0
    return median(traced) / median(plain) - 1.0


# --------------------------------------------------------------------------
# search
# --------------------------------------------------------------------------

SEARCH = {
    "files": 3000,        # corpus of the served index
    # the first set-up and the first batch on the served index run cold
    # (about 7.8 s against 1.1 s, and 2.2 s against 1.4 s, on 4 cores): with
    # three of each, the median is a warm one
    "setups": 3,          # set-up repetitions; setup_s is their median
    "pool": 48,           # distinct interactive queries
    "zipf_s": 1.1,        # popularity skew of the interactive log
    "batch": 200,         # distinct queries of the TREC-style batch
    "min_batches": 3,     # batch_qps is the median over batch runs
    "interactive_share": 0.5,  # of --seconds, the rest runs batches
}


def golden_pages(rows, pool, batch):
    oracle = Oracle()
    oracle.add(doc_ids_for(rows, 0), rows)
    return (
        [oracle.topk(q, GOLDEN_DEPTH) for q in pool],
        {q: oracle.topk(t, GOLDEN_DEPTH) for q, t in batch},
    )


def run_search(spark, cfg: dict, seed: int, seconds: float, trace: bool) -> Outcome:
    from searchenginejava_spark.engine import SearchEngine
    from searchenginejava_spark.synth.gen_code_table import heaps_vocab

    out = Outcome()
    rng = np.random.default_rng(seed)
    n = cfg["files"]
    vocab = heaps_vocab(n)
    rows = corpus_rows(seed, 0, n, vocab)
    pool = distinct_queries(rng, vocab, cfg["pool"])
    ranks = np.arange(1, len(pool) + 1, dtype=float)
    weights = ranks ** -cfg["zipf_s"]
    # the log's sequence of pool ranks is the same for every seed (only the
    # terms differ), so seeds differ in data, not in the mix of query shapes
    qlog = np.random.default_rng(0).choice(len(pool), size=100_000, p=weights / weights.sum())
    batch = list(enumerate(distinct_queries(rng, vocab, cfg["batch"])))

    tr = Tracer(spark, trace)
    plain = Tracer(spark, False)

    want_pool, want_batch = golden_pages(rows, pool, batch)
    log("inputs and golden pages made")
    # the corpus is cached once; each set-up builds a fresh index from it
    corpus = corpus_df(spark, rows)
    corpus.count()
    setup_s, build_s = [], []
    for _ in range(cfg["setups"]):
        t0 = time.monotonic()
        idx = build_call(spark, tr, corpus, name="plans.pipeline.build_index")
        t1 = time.monotonic()
        engine = SearchEngine(spark, idx)
        engine.search(pool[0]).collect()
        t2 = time.monotonic()
        setup_s.append(t2 - t0)
        build_s.append(t1 - t0)

    log(f"set-up done: {[round(x, 2) for x in setup_s]} s")

    # closed loop, one client: the next query is sent when the last returns
    lat, lat_traced, lat_plain = [], [], []
    seen: set[int] = set()
    repeats = 0
    t_start = time.monotonic()
    i = 0
    while time.monotonic() - t_start < seconds * cfg["interactive_share"] or i < 5:
        qi = int(qlog[i])
        # a traced run alternates traced and plain calls: the gap between
        # the two is the tracing overhead
        use = tr if (not trace or i % 2 == 0) else plain
        t0 = time.monotonic()
        page = attempt(out, wand_call, use, engine, pool[qi])
        dt = time.monotonic() - t0
        lat.append(dt)
        (lat_traced if use is tr and trace else lat_plain).append(dt)
        if page is not None and not pages_match(page, want_pool[qi], K):
            out.failed += 1
        repeats += qi in seen
        seen.add(qi)
        i += 1

    log(f"{len(lat)} interactive queries: {[round(x, 2) for x in lat]} s")
    batch_s = []
    while len(batch_s) < cfg["min_batches"] or time.monotonic() - t_start < seconds:
        t0 = time.monotonic()
        got = attempt(out, batch_call, spark, tr, engine.index, batch)
        batch_s.append(time.monotonic() - t0)
        out.attempted += len(batch) - 1
        if got is None:
            out.failed += len(batch) - 1
            continue
        out.failed += sum(
            not pages_match(got.get(q, []), want_batch[q], K) for q, _ in batch
        )

    log(f"{len(batch_s)} batches: {[round(x, 2) for x in batch_s]} s")
    total, n_post, post_bytes = index_bytes(idx)
    in_bytes = content_bytes(rows)
    p50, p90 = 1000 * median(lat), 1000 * percentile(lat, 90)
    qps = len(batch) / median(batch_s)
    out.e2e = {
        "setup_s": median(setup_s),
        "build_files_per_s": n / median(build_s),
        "query_p50_ms": p50,
        "work_per_s": qps,
        "bytes_per_input_byte": total / in_bytes,
    }
    out.named = {
        "setup_s": (median(setup_s), "s", len(setup_s)),
        "build_files_per_s": (n / median(build_s), "1/s", len(build_s)),
        "search_p50_ms": (p50, "ms", len(lat)),
        "search_p90_ms": (p90, "ms", len(lat)),
        "repeat_share": (repeats / len(lat), "ratio", len(lat)),
        "batch_qps": (qps, "1/s", len(batch_s)),
        "index_bytes_per_input_byte": (total / in_bytes, "B/B", 1),
    }
    if trace:
        out.layers = layer_metrics(tr, "plans.pipeline.build_index")
        out.layers.update({name: 0.0 for name in REFRESH_LAYERS})
        out.layers["functions.codec.bytes_per_posting"] = post_bytes / max(n_post, 1)
        out.layers["functions.tokenize.tokenize_text.docs_per_s"] = tokenizer_docs_per_s(rows)
        out.layers["trace.overhead_frac"] = overhead(lat_traced, lat_plain)
    out.tracer = tr
    return out


# --------------------------------------------------------------------------
# refresh
# --------------------------------------------------------------------------

REFRESH = {
    "base": 1500,          # files of the base index built in set-up
    "delta": 400,          # files arriving per cycle
    # over 2% of the merged index even with the delta in it, so the default
    # auto_compact policy compacts in every cycle
    "delete_frac": 0.04,   # share of live docs deleted per cycle
    "min_cycles": 1,       # a cycle outlasts --seconds: more would not fit a run
    "queries": 4,          # distinct WAND queries per cycle
}


def run_refresh(spark, cfg: dict, seed: int, seconds: float, trace: bool, work: str) -> Outcome:
    from pyspark.sql import functions as F

    from searchenginejava_spark.engine import SearchEngine
    from searchenginejava_spark.plans.pipeline import (
        auto_compact,
        build_index,
        compact_index,
        delete_docs,
        diff_indexes,
        merge_indexes,
    )
    from searchenginejava_spark.sources.index_store import load_index, save_index
    from searchenginejava_spark.synth.gen_code_table import heaps_vocab

    out = Outcome()
    rng = np.random.default_rng(seed)
    nb, nd = cfg["base"], cfg["delta"]
    vocab = heaps_vocab(nb)
    base_rows = corpus_rows(seed, 0, nb, vocab)
    store = os.path.join(work, "index")
    tr = Tracer(spark, trace)
    plain = Tracer(spark, False)

    # one cold set-up: a second, warm one would add about 9 s to every run
    corpus = corpus_df(spark, base_rows)
    corpus.count()
    v0 = os.path.join(store, "v0")
    remove_dir(v0)  # a self-test runs the workload twice in one directory
    t0 = time.monotonic()
    idx = build_call(spark, plain, corpus, name="base")
    save_index(idx, v0)
    live = load_index(spark, v0)
    SearchEngine(spark, live).search("id1").collect()
    setup_s = time.monotonic() - t0
    spark.catalog.clearCache()

    log(f"set-up done: {setup_s:.2f} s")
    # the benchmark's own record of what the live index must hold
    doc_of = dict(zip(doc_ids_for(base_rows, 0), base_rows))
    live_ids = sorted(doc_of)
    oracle = Oracle()
    oracle.add(live_ids, [doc_of[d] for d in live_ids])
    next_id = nb
    ingested = 0

    cycle_s, build_s, q_lat, written = [], [], [], 0
    q_traced, q_plain = [], []
    compactions = 0
    t_start = time.monotonic()
    c = 0
    use = tr if trace else plain
    last_dir = v0
    while c < cfg["min_cycles"] or time.monotonic() - t_start < seconds:
        c += 1
        delta_rows = corpus_rows(seed, nb + (c - 1) * nd, nd, vocab)
        dead = [
            int(x) for x in rng.choice(
                live_ids, size=max(1, round(cfg["delete_frac"] * len(live_ids))),
                replace=False,
            )
        ]
        queries = distinct_queries(rng, vocab, cfg["queries"])
        delta = corpus_df(spark, delta_rows)
        delta.count()
        dead_df = spark.createDataFrame([(d,) for d in dead], "doc_id long")
        vdir = os.path.join(store, f"v{c}")
        out.attempted += 1

        try:
            with use.span("refresh.cycle"):
                t0 = time.monotonic()
                d_idx = build_call(
                    spark, use, delta, offset=next_id,
                    name="plans.pipeline.build_index.delta",
                )
                t_built = time.monotonic()
                merged = use.call(
                    "plans.pipeline.merge_indexes", merge_indexes,
                    spark, live, d_idx, num_partitions=partitions(),
                )
                if use.enabled:
                    use.named("plans.pipeline.merge_indexes")[-1].attrs["bytes_out"] = index_bytes(merged)[0]
                cur = use.call("plans.pipeline.delete_docs", delete_docs, merged, dead_df)
                # auto_compact's own call into compact_index is the traced one
                with use.layers(engine_layers()):
                    cur, report = auto_compact(spark, cur)
                use.call("sources.index_store.save_index", save_index, cur, vdir)
                if use.enabled:
                    use.named("sources.index_store.save_index")[-1].attrs["bytes"] = dir_bytes(vdir)
                live = use.call("sources.index_store.load_index", load_index, spark, vdir)
                engine = SearchEngine(spark, live)
                pages = []
                for j, q in enumerate(queries):
                    # the first query pays the cold read of the new version
                    # and ends the cycle; after it, as in search, a traced
                    # run alternates traced and plain queries
                    quse = use if j % 2 == 1 or j == 0 else plain
                    tq = time.monotonic()
                    pages.append(wand_call(quse, engine, q))
                    dt = time.monotonic() - tq
                    q_lat.append(dt)
                    if j == 0:
                        cycle_s.append(time.monotonic() - t0)
                    else:
                        (q_traced if quse.enabled else q_plain).append(dt)
        except Exception:  # noqa: BLE001 — a failed cycle is a measurement
            traceback.print_exc()
            out.failed += 1
            break
        build_s.append(t_built - t0)
        compacted = report["action"] == "compact"
        compactions += compacted
        written += dir_bytes(vdir)
        if compacted:
            written += index_bytes(cur)[0]
        ingested += content_bytes(delta_rows)
        delta_ids = doc_ids_for(delta_rows, next_id)
        doc_of.update(zip(delta_ids, delta_rows))
        oracle.add(delta_ids, delta_rows)
        oracle.delete(dead)
        if compacted:
            oracle.compact()
        live_ids = sorted(set(live_ids) - set(dead) | set(delta_ids))
        next_id += nd

        out.attempted += len(queries)
        out.failed += sum(
            not pages_match(p, oracle.topk(q, GOLDEN_DEPTH), K)
            for p, q in zip(pages, queries)
        )
        log(f"cycle {c}: {cycle_s[-1]:.2f} s, {report['action']}")
        spark.catalog.clearCache()
        if c > 1:
            remove_dir(last_dir)
        last_dir = vdir

    log("cycles done")
    # the last version, compacted, equals a cold build of the survivors
    out.attempted += 1
    final_ok = False
    try:
        compacted = live if live.tombstones is None else compact_index(spark, live)
        cold_df = spark.createDataFrame(
            [(d, doc_of[d][4]) for d in live_ids], "doc_id long, content string"
        )
        # diff_indexes reads only the dictionaries: the uncompressed build
        # derives its dictionary straight from tf, not through SPIMI
        cold = build_index(
            spark, cold_df, text_col="content", mode="full",
            num_partitions=partitions(), compress=False,
        )
        diff = diff_indexes(compacted, cold)
        bad = diff.filter(F.col("status") != "same").count()
        final_ok = bad == 0 and compacted.stats["N"] == cold.stats["N"] == oracle.live
    except Exception:  # noqa: BLE001
        traceback.print_exc()
    out.failed += not final_ok
    log(f"final check {'passed' if final_ok else 'FAILED'}")

    out.e2e = {"setup_s": setup_s}
    out.named = {"setup_s": (setup_s, "s", 1)}
    out.tracer = tr
    if not cycle_s:
        # no cycle finished: the failures are counted, and the metrics
        # that need a finished cycle are reported as missing
        return out
    p50_cycle = median(cycle_s)
    q50, q90 = 1000 * median(q_lat), 1000 * percentile(q_lat, 90)
    amp = written / ingested
    out.e2e.update({
        "build_files_per_s": nd / median(build_s),
        "query_p50_ms": q50,
        "work_per_s": nd / p50_cycle,
        "bytes_per_input_byte": amp,
    })
    out.named.update({
        "refresh_p50_s": (p50_cycle, "s", len(cycle_s)),
        "refresh_search_p50_ms": (q50, "ms", len(q_lat)),
        "refresh_search_p90_ms": (q90, "ms", len(q_lat)),
        "refresh_write_amp": (amp, "B/B", len(cycle_s)),
        "delta_build_files_per_s": (nd / median(build_s), "1/s", len(build_s)),
        "compactions": (compactions, "count", len(cycle_s)),
    })
    if trace:
        m = layer_metrics(tr, "plans.pipeline.build_index.delta")
        merges = tr.named("plans.pipeline.merge_indexes")
        comp = tr.named("plans.pipeline.compact_index")
        saves = tr.named("sources.index_store.save_index")
        m.update({
            "plans.pipeline.build_index.delta_s": _med(s.seconds for s in tr.named("plans.pipeline.build_index.delta")),
            "plans.pipeline.merge_indexes.s": _med(s.seconds for s in merges),
            "plans.pipeline.merge_indexes.bytes_out": _med(s.attrs["bytes_out"] for s in merges),
            "plans.pipeline.compact_index.s": _med(s.seconds for s in comp),
            "plans.pipeline.compact_index.count": float(len(comp)),
            "sources.index_store.save_index.s": _med(s.seconds for s in saves),
            "sources.index_store.save_index.bytes": _med(s.attrs["bytes"] for s in saves),
            "sources.index_store.load_index.s": _med(s.seconds for s in tr.named("sources.index_store.load_index")),
        })
        _, n_post, post_bytes = index_bytes(load_index(spark, last_dir))
        m["functions.codec.bytes_per_posting"] = post_bytes / max(n_post, 1)
        m["functions.tokenize.tokenize_text.docs_per_s"] = tokenizer_docs_per_s(base_rows)
        m["trace.overhead_frac"] = overhead(q_traced, q_plain)
        out.layers = m
    return out

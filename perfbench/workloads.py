"""The two workloads, ``search`` and ``churn``, and the measurements they
share. Each returns a ``Result``: end-to-end metrics (always), per-layer
metrics (traced run only), and the operation counts of the oracle gate.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import functions as F

from checks import live_topk, oracle_topk, same_topk
from harness import EventLog, cpu_seconds, start_spark, stop_spark
from inputs import HOT_WORDS, MID_WORDS, Query, QueryMix, Vocabulary, churn_schedule, mutate
from layers import KernelReplay, build_stats, dir_bytes, tombstone_rows
from searchengine_spark.corpus import corpus_df_dist
from searchengine_spark.index.build import read_manifest
from searchengine_spark.oracle import OracleIndex
from searchengine_spark.postings import term_frequencies
from searchengine_spark.query.engine import SearchEngine
from searchengine_spark.streaming.ingest import append_docs, compact_streamed_index
from searchengine_spark.tokenizer import tokenize_py

SEARCH_DOCS = 5_000
CHURN_DOCS = 3_000
CHURN_HELD_BACK = 0.10
CHURN_MAX_CYCLES = 4                   # the held-back docs are split over the cycles
CHURN_UPDATES = 80                     # docs updated per cycle
CHURN_DELETES = 40                     # docs deleted by id per cycle
FINAL_SEARCHES = 2                     # exact checks after the compaction
# 2^2 doc ranges of ~1,250 docs each: the per-group posting volume of the
# engine's default layout at 20k files (16 ranges), at a quarter of the
# corpus, so block-max pruning engages as it would there
RANGE_BITS = 2
K_SEARCH = 10
K_BATCH = 100
BATCH_SIZE = 32
# work per run follows --seconds through fixed counts per second (at 16 s:
# 40 searches and 6 batches in search, one churn cycle), not a deadline, so
# every run of a workload does the same work
SINGLE_BLOCKS_PER_S = 4 / 16           # blocks of MIX_BLOCK single searches
BATCHES_PER_S = 6 / 16
CYCLES_PER_S = 1 / 16
CHURN_BLOCKS = 1                       # blocks of MIX_BLOCK searches per cycle
CHURN_BATCHES = 5                      # per cycle
WARM_BATCH = 8
WARM_DOCS = 200                        # warm-up slice (set-up builds, local[1] probe)
OVERHEAD_QUERIES = 8                   # traced run: searched with and without a span
TERM_CACHE = 65_536                    # SearchEngine._term_cache_cap


@dataclass
class Result:
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: dict[str, object] = field(default_factory=dict)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED: {what}", flush=True)


def latency_metrics(res: Result, lat: list[float], batch_qps: list[float]) -> None:
    """Median single-search latency and median per-call batch throughput
    (a median, so one call caught by a burst of machine load does not move
    it). The p95 is kept as a note: a run holds 12 to 30 samples, too few
    for a tail percentile to repeat."""
    res.e2e["query_p50_ms"] = statistics.median(lat) * 1e3
    res.e2e["batch_qps"] = statistics.median(batch_qps)
    res.notes.update({
        "queries": len(lat), "batches": len(batch_qps),
        "query_p95_ms": statistics.quantiles(lat, n=20, method="inclusive")[-1] * 1e3,
        "latencies_ms": sorted(round(x * 1e3) for x in lat),
        "batch_qps_all": sorted(round(x, 1) for x in batch_qps),
    })


class Run:
    """State shared by both workloads: Spark, the generated corpus, the
    oracle and the timers feeding ``setup_s``."""

    def __init__(self, seed: int, seconds: float, cpus: int, dirs, tracer,
                 run_id: str) -> None:
        self.seed = seed
        self.run_id = run_id
        self.cpu_marks: list[tuple[float, float]] = []
        self.seconds = seconds
        self.cpus = cpus
        self.dirs = dirs
        self.tr = tracer
        self.rng = random.Random(seed * 7919 + 17)
        self.res = Result()
        self.setup_s = 0.0
        self._t_last = time.perf_counter()

    def phase(self, name: str) -> None:
        """Wall time since the previous phase mark, kept as a note."""
        now = time.perf_counter()
        self.res.notes[f"wall_{name}_s"] = round(now - self._t_last, 3)
        self._t_last = now

    # -- set-up ------------------------------------------------------------
    def start(self) -> None:
        t0 = time.perf_counter()
        with self.tr.span("session.get_spark"):
            self.spark = start_spark(self.cpus, "perfbench")
            self.spark.range(self.cpus).count()
        dt = time.perf_counter() - t0
        self.setup_s += dt
        self.res.layers["session.start_s"] = dt
        self.phase("session")

    def generate(self, n_docs: int):
        """Seeded corpus, cached; not part of set-up time."""
        t0 = time.perf_counter()
        with self.tr.span("corpus.corpus_df_dist"):
            df = corpus_df_dist(self.spark, n_docs, self.seed, partitions=self.cpus)
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            pdf = df.select("doc_id", "content").toPandas()
        self.contents = dict(zip(pdf["doc_id"].astype(int), pdf["content"]))
        self.res.layers["bench.gen_s"] = time.perf_counter() - t0
        self.res.notes["corpus_docs"] = n_docs
        self.res.notes["corpus_bytes"] = int(pdf["content"].str.len().sum())
        self.phase("generate")
        return df

    def build_oracle(self, ids, contents: dict[int, str] | None = None) -> OracleIndex:
        contents = self.contents if contents is None else contents
        t0 = time.perf_counter()
        with self.tr.span("oracle.build"):
            oracle = OracleIndex.build([(d, contents[d]) for d in ids])
        self.res.layers["bench.oracle_s"] = (
            self.res.layers.get("bench.oracle_s", 0.0) + time.perf_counter() - t0
        )
        return oracle

    def build(self, corpus, index_dir: str, n_docs: int) -> SearchEngine:
        eng = SearchEngine(self.spark, index_dir)
        t0 = time.perf_counter()
        with self.tr.span("index.build.build_index_from_df"):
            meta = eng.build_index_from_df(corpus, fresh=True, range_bits=RANGE_BITS)
        dt = time.perf_counter() - t0
        self.setup_s += dt
        self.build_s = dt
        self.res.op(meta.n_docs == n_docs, f"build n_docs {meta.n_docs} != {n_docs}")
        if self.tr.enabled:
            self.res.layers.update(build_stats(index_dir))
        self.phase("build")
        return eng

    def subset(self, corpus, ids):
        frame = self.spark.createDataFrame([(int(x),) for x in ids], "doc_id long")
        return corpus.join(F.broadcast(frame), "doc_id")

    def warm_build(self, corpus) -> None:
        """Build a slice into a scratch dir first (JVM, build plans, tokenizer
        and codec UDFs), so the timed build is not the first of its kind."""
        t0 = time.perf_counter()
        with self.tr.span("warmup.build"):
            SearchEngine(self.spark, self.dirs.path("warm")).build_index_from_df(
                corpus.limit(WARM_DOCS), fresh=True, range_bits=RANGE_BITS)
        self.setup_s += time.perf_counter() - t0
        self.phase("warm_build")

    def warm_writes(self, corpus, ids: list[int]) -> None:
        """Run each churn call after ``append_docs`` (which the initial
        append has warmed) once, in cycle order, on a scratch index of a
        slice of the corpus, so no timed call is the first of its kind."""
        docs = ids[:WARM_DOCS // 4]
        warm_dir = self.dirs.path("warm")
        rng = random.Random(self.seed * 31 + 3)    # leaves the timed inputs alone
        t0 = time.perf_counter()
        with self.tr.span("warmup.writes"):
            append_docs(self.subset(corpus, docs), warm_dir, id_col="doc_id", text_col="content")
            eng = SearchEngine(self.spark, warm_dir)
            eng.update_docs(self.spark.createDataFrame(
                [(d, mutate(self.contents[d], rng, "warm")) for d in docs[:8]],
                "doc_id long, content string"), id_col="doc_id", text_col="content")
            # an identifier, selective like the schedule's rare term
            ident = next(t for t in tokenize_py(self.contents[docs[8]])
                         if t not in HOT_WORDS | MID_WORDS)
            eng.delete_by_query(ident, mode="and")
            eng.delete_docs(docs[9:17])
            eng.search(" ".join(tokenize_py(self.contents[docs[20]])[-3:]), k=K_SEARCH)
            compact_streamed_index(self.spark, warm_dir)
        self.setup_s += time.perf_counter() - t0
        self.phase("warm_writes")

    def warm_queries(self, eng: SearchEngine, mix: QueryMix) -> None:
        t0 = time.perf_counter()
        with self.tr.span("warmup"):
            for q in mix.take(2):
                eng.search(q.text, k=K_SEARCH, mode=q.mode)
            eng.search_batch({str(i): q.text for i, q in enumerate(mix.take(WARM_BATCH, True))},
                             k=K_BATCH)
        self.setup_s += time.perf_counter() - t0
        self.phase("warm_queries")

    # -- timed operations ----------------------------------------------------
    def search(self, eng: SearchEngine, q):
        """One single-query call; returns (result, seconds)."""
        t0 = time.perf_counter()
        with self.tr.span("query.engine.search", trace_id=q.text) as sp:
            res = eng.search(q.text, k=K_SEARCH, mode=q.mode)
        if self.tr.enabled:
            self.traced_queries.append((q, res, sp))
        return res, time.perf_counter() - t0

    def span_overhead(self, eng: SearchEngine, queries: list) -> None:
        """``trace.overhead_frac``: the same queries with and without a span
        around the call, in alternating order (the first call of a pair warms
        the term cache for the second), as median(wrapped) / median(bare) - 1.
        The event log is on for the whole traced run, so its cost is not in
        this figure."""
        lat = {True: [], False: []}
        for i, q in enumerate(queries):
            for wrapped in ((True, False) if i % 2 == 0 else (False, True)):
                t0 = time.perf_counter()
                with self.tr.span("trace.overhead_probe") if wrapped else contextlib.nullcontext():
                    eng.search(q.text, k=K_SEARCH, mode=q.mode)
                lat[wrapped].append(time.perf_counter() - t0)
        self.res.layers["trace.overhead_frac"] = (
            statistics.median(lat[True]) / statistics.median(lat[False]) - 1.0)

    def batch(self, eng: SearchEngine, queries: list):
        batch = {str(i): q.text for i, q in enumerate(queries)}
        t0 = time.perf_counter()
        with self.tr.span("query.engine.search_batch"):
            out = eng.search_batch(batch, k=K_BATCH)
        return batch, out, time.perf_counter() - t0

    # -- traced-run extras ---------------------------------------------------
    def vocab_notes(self, vocab: Vocabulary) -> None:
        self.res.notes.update({
            "vocabulary": vocab.size, "term_cache": TERM_CACHE,
            "k_search": K_SEARCH, "k_batch": K_BATCH,
            "hot_terms": len(vocab.hot), "mid_terms": len(vocab.mid),
            "rare_terms": len(vocab.rare),
        })

    def replay(self, eng: SearchEngine, traced: list, batches: list[dict]) -> None:
        """Kernel replay of traced single queries and of up to two batches,
        against the index state those queries saw."""
        rp = KernelReplay(eng.index_dir, eng._doc_mask(), self.tr)
        reads, kernels, maxg, scanned, decoded, dispatch = [], [], [], [], [], []
        mismatches = 0
        for q, res, sp in traced:
            r = rp.query(q.text, q.mode, K_SEARCH)
            if not same_topk(r["topk"], res):
                mismatches += 1
            reads.append(r["read_ms"])
            kernels.append(r["kernel_ms"])
            maxg.append(r["max_group_ms"])
            scanned.append(r["scanned"])
            decoded.append(r["decoded"])
            crit = max(r["max_group_ms"], r["kernel_ms"] / self.cpus)
            dispatch.append(sp.duration * 1e3 - crit)
        n = max(1, len(scanned))
        L = self.res.layers
        L["query.search_ms"] = statistics.median(sp.duration * 1e3 for _, _, sp in self.traced_queries)
        L["query.dispatch_ms"] = statistics.median(dispatch)
        L["wand.segment_read_ms"] = statistics.median(reads)
        L["wand.kernel_ms"] = statistics.median(kernels)
        L["wand.kernel_max_group_ms"] = statistics.median(maxg)
        L["wand.blocks_scanned"] = sum(scanned) / n
        L["wand.blocks_decoded"] = sum(decoded) / n
        L["wand.decode_ratio"] = sum(decoded) / max(1, sum(scanned))
        L["wand.multi_kernel_ms"] = statistics.median(rp.batch(b, K_BATCH) for b in batches[:2])
        self.res.notes["replay_mismatches"] = mismatches

    def standalone_tf(self, corpus) -> None:
        t0 = time.perf_counter()
        with self.tr.span("postings.term_frequencies"):
            term_frequencies(corpus, "doc_id", "content").count()
        self.res.layers["postings.term_frequencies_s"] = time.perf_counter() - t0

    def cpu_mark(self) -> None:
        """Record (wall, cpu) at a timed-section boundary (traced run);
        marks pair up as (start, stop) windows."""
        if self.tr.enabled:
            self.cpu_marks.append((time.time(), cpu_seconds(self.run_id)))

    def spark_layers(self) -> None:
        """Event-log figures for the timed section and per traced query.
        Stops the session (the log is complete only then)."""
        m = self.cpu_marks
        windows = [(m[i][0], m[i + 1][0]) for i in range(0, len(m), 2)]
        cpu_s = sum(m[i + 1][1] - m[i][1] for i in range(0, len(m), 2))
        app_id = self.spark.sparkContext.applicationId
        stop_spark(self.spark)
        self.spark = None
        log = EventLog.find(self.dirs.eventlog, app_id)
        self.res.layers.update(log.summary(windows, self.cpus, cpu_s))
        jobs = [log.jobs_in(sp.start, sp.end) for _, _, sp in self.traced_queries]
        tasks = [len(log.windows([(sp.start, sp.end)])) for _, _, sp in self.traced_queries]
        self.res.layers["query.jobs_per_query"] = statistics.fmean(jobs)
        self.res.layers["query.tasks_per_query"] = statistics.fmean(tasks)

    def scaling(self, corpus_path: str) -> None:
        """Build the same corpus at local[1] in a fresh process (the engine's
        module-level UDFs bind to the first JVM, so a second session in this
        process is not possible); efficiency = T1 / (cpus * Tn)."""
        env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
        env["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options '-Djava.io.tmpdir={self.dirs.tmp} -XX:-UsePerfData' pyspark-shell"
        )
        probe = os.path.join(os.path.dirname(os.path.abspath(__file__)), "scale_probe.py")
        with self.tr.span("index.build.build_index_from_df@local1"):
            out = subprocess.run(
                [sys.executable, probe, "1", corpus_path, self.dirs.path("local1"),
                 str(WARM_DOCS), str(RANGE_BITS)],
                env=env, capture_output=True, text=True, timeout=150, check=True,
            )
        t1 = float(out.stdout.strip().splitlines()[-1])
        self.res.layers["build.scaling_eff_1to4"] = t1 / (self.cpus * self.build_s)

    def finish_trace(self, corpus) -> None:
        self.standalone_tf(corpus)
        corpus_path = self.dirs.path("corpus.parquet")
        corpus.write.mode("overwrite").parquet(corpus_path)
        self.spark_layers()
        self.scaling(corpus_path)


def interleave(singles: list, batches: list) -> list[tuple[str, object]]:
    """Spread the batch calls evenly among the single searches, so a burst
    of load on the machine hits a few samples of each kind, not a whole
    kind at once (the metrics are medians)."""
    out, j = [], 0
    for i, q in enumerate(singles):
        while j < len(batches) and j * len(singles) <= i * len(batches):
            out.append(("batch", batches[j]))
            j += 1
        out.append(("search", q))
    return out + [("batch", b) for b in batches[j:]]


def _check_singles(run: Run, oracle, done) -> None:
    for q, res in done:
        run.res.op(same_topk(res, oracle_topk(oracle, q.text, q.mode, K_SEARCH)),
                   f"search {q.mode} {q.text!r}")


def _check_batch(run: Run, oracle, batch: dict, out: dict) -> None:
    for qid, text in batch.items():
        run.res.op(same_topk(out[qid], oracle_topk(oracle, text, "or", K_BATCH)),
                   f"search_batch {text!r}")


# ---------------------------------------------------------------------------
def search_workload(run: Run) -> Result:
    res = run.res
    run.start()
    corpus = run.generate(SEARCH_DOCS)
    ids = sorted(run.contents)
    oracle = run.build_oracle(ids)
    vocab = Vocabulary(dict(oracle.df))
    run.vocab_notes(vocab)
    mix = QueryMix(vocab, run.rng)
    warm_mix = QueryMix(vocab, random.Random(run.seed * 31 + 1))
    run.warm_build(corpus)
    eng = run.build(corpus, run.dirs.path("index"), len(ids))
    run.warm_queries(eng, warm_mix)
    res.e2e["setup_s"] = run.setup_s
    res.e2e["write_docs_per_s"] = len(ids) / run.build_s
    res.e2e["index_bytes_per_input_byte"] = dir_bytes(eng.index_dir) / res.notes["corpus_bytes"]

    # timed: closed loop, one client, batches spread among single queries
    run.traced_queries = []
    lat, done = [], []
    run.cpu_mark()
    n_blocks = max(2, round(run.seconds * SINGLE_BLOCKS_PER_S))
    n_batches = max(3, round(run.seconds * BATCHES_PER_S))
    # whole blocks of the mix only, so every run has the same shares
    singles = [q for _ in range(n_blocks) for q in mix.block()]
    batch_inputs = [mix.take(BATCH_SIZE, or_only=True) for _ in range(n_batches)]
    batches, batch_qps = [], []
    for kind, x in interleave(singles, batch_inputs):
        if kind == "search":
            out, dt = run.search(eng, x)
            lat.append(dt)
            done.append((x, out))
        else:
            batch, out, dt = run.batch(eng, x)
            batches.append((batch, out))
            batch_qps.append(len(batch) / dt)
    run.cpu_mark()

    _check_singles(run, oracle, done)
    for batch, out in batches:
        _check_batch(run, oracle, batch, out)
    latency_metrics(res, lat, batch_qps)
    run.phase("timed_and_checks")
    if run.tr.enabled:
        run.replay(eng, run.traced_queries, [b for b, _ in batches])
        run.span_overhead(eng, [q for q, _ in done[:OVERHEAD_QUERIES]])
        run.finish_trace(corpus)
        for k in ("ingest.epochs_end", "ingest.tombstone_rows_end",
                  "ingest.bytes_written_per_input_byte", "ingest.compact_bytes_rewritten"):
            res.layers[k] = 0
    return res


# ---------------------------------------------------------------------------
def churn_workload(run: Run) -> Result:
    res = run.res
    run.start()
    corpus = run.generate(CHURN_DOCS)
    ids = sorted(run.contents)
    held = sorted(run.rng.sample(ids, int(CHURN_HELD_BACK * len(ids))))
    held_set = set(held)
    base_ids = [d for d in ids if d not in held_set]
    oracle = run.build_oracle(base_ids)
    vocab = Vocabulary(dict(oracle.df))
    run.vocab_notes(vocab)
    mix = QueryMix(vocab, run.rng)
    warm_mix = QueryMix(vocab, random.Random(run.seed * 31 + 1))
    n_cycles = max(1, min(CHURN_MAX_CYCLES, round(run.seconds * CYCLES_PER_S)))
    cycles = churn_schedule(run.contents, base_ids, held, run.rng,
                            n_cycles, CHURN_UPDATES, CHURN_DELETES)
    run.phase("oracle_and_schedule")
    spark = run.spark
    base_df = run.subset(corpus, base_ids)

    index_dir = run.dirs.path("index")
    t0 = time.perf_counter()
    with run.tr.span("streaming.ingest.append_docs"):
        append_docs(base_df, index_dir, id_col="doc_id", text_col="content")
    run.setup_s += time.perf_counter() - t0
    eng = SearchEngine(spark, index_dir)
    res.op(eng.meta.n_docs == len(base_ids), "initial append n_docs")
    run.phase("initial_append")
    run.warm_writes(corpus, base_ids)
    run.warm_queries(eng, warm_mix)
    res.e2e["setup_s"] = run.setup_s

    # timed: write/search cycles, then one compaction
    run.traced_queries = []
    op_s = {"append": 0.0, "update": 0.0, "delete": 0.0}
    written = 0
    written_input_bytes = 0
    write_bytes = 0
    lat, batches, batch_qps = [], [], []
    live = None
    contents = dict(run.contents)
    run.cpu_mark()

    def timed(kind, span, fn):
        t = time.perf_counter()
        with run.tr.span(span):
            out = fn()
        op_s[kind] += time.perf_counter() - t
        return out

    for cyc in cycles:
        before = dir_bytes(index_dir)

        n_epochs = len([m for m in read_manifest(index_dir) if m["kind"] == "stream_epoch"])
        add_df = run.subset(corpus, cyc.append_ids)
        epoch = timed("append", "streaming.ingest.append_docs",
                      lambda: append_docs(add_df, index_dir, id_col="doc_id", text_col="content"))
        res.op(epoch >= 1 and len([m for m in read_manifest(index_dir)
                                   if m["kind"] == "stream_epoch"]) == n_epochs + 1,
               f"append_docs epoch {epoch}")
        upd_df = spark.createDataFrame(
            [(d, t) for d, t in sorted(cyc.update.items())], "doc_id long, content string")
        n_upd = timed("update", "query.engine.update_docs",
                      lambda: eng.update_docs(upd_df, id_col="doc_id", text_col="content"))
        res.op(n_upd == len(cyc.update), f"update_docs {n_upd} != {len(cyc.update)}")
        n_dq = timed("delete", "query.engine.delete_by_query",
                     lambda: eng.delete_by_query(cyc.delete_query, mode="and"))
        res.op(n_dq == cyc.delete_query_hits,
               f"delete_by_query {cyc.delete_query!r}: {n_dq} != {cyc.delete_query_hits}")
        n_del = timed("delete", "query.engine.delete_docs", lambda: eng.delete_docs(cyc.delete_ids))
        res.op(n_del == len(cyc.delete_ids), f"delete_docs {n_del}")
        contents.update(cyc.update)
        written += len(cyc.append_ids) + len(cyc.update) + n_dq + n_del
        written_input_bytes += sum(len(contents[d]) for d in cyc.append_ids)
        written_input_bytes += sum(len(t) for t in cyc.update.values())
        write_bytes += dir_bytes(index_dir) - before
        live = cyc.live_after

        # searches against the churned index: the mix, then two probes —
        # the deleted-by-query term (no live doc holds it) and a term an
        # update removed (the old version must not come back)
        probes = [q for _ in range(CHURN_BLOCKS) for q in mix.block()]
        gone = next((ts for ts in cyc.gone_terms.values() if ts), [])
        probe_terms = [cyc.delete_query] + ([run.rng.choice(gone)] if gone else [])
        probes += [Query(t, "or") for t in probe_terms]
        batch_inputs = [mix.take(BATCH_SIZE, or_only=True) for _ in range(CHURN_BATCHES)]
        for kind, x in interleave(probes, batch_inputs):
            if kind == "search":
                out, dt = run.search(eng, x)
                lat.append(dt)
                res.op(live_topk(out, x.text, x.mode, K_SEARCH, live),
                       f"churn search {x.text!r}: a dead, stale or missing doc")
                continue
            batch, out, dt = run.batch(eng, x)
            batches.append(batch)
            batch_qps.append(len(batch) / dt)
            for qid, text in batch.items():
                res.op(live_topk(out[qid], text, "or", K_BATCH, live),
                       f"churn search_batch {text!r}: a dead, stale or missing doc")

    run.cpu_mark()
    run.phase("cycles")
    # state the cycles leave behind (before the fold)
    if run.tr.enabled:
        # replay the last cycle's queries against the state they saw
        run.replay(eng, run.traced_queries[-len(probes):], batches[-1:])
        run.span_overhead(eng, probes[:OVERHEAD_QUERIES])
    epochs_end = eng.meta.stream_epochs
    tomb_end = tombstone_rows(index_dir)
    n_compactions = len([m for m in read_manifest(index_dir) if m["kind"] == "compaction"])
    run.cpu_mark()
    t0 = time.perf_counter()
    with run.tr.span("streaming.ingest.compact_streamed_index"):
        meta = compact_streamed_index(spark, index_dir)
    compact_s = time.perf_counter() - t0
    run.cpu_mark()
    rows = [m for m in read_manifest(index_dir) if m["kind"] == "compaction"]
    folded = (
        len(rows) == n_compactions + 1
        and rows[-1]["tombstones_applied"] > 0
        and tombstone_rows(index_dir) == 0
        and meta.stream_epochs == 0
        and meta.n_docs == len(live)
    )
    res.op(folded, "compaction did not fold the tombstones")
    run.phase("compact")

    # after the fold: exact top-k against an oracle over the surviving docs
    final = run.build_oracle(sorted(live), contents)
    final_mix = QueryMix(vocab, random.Random(run.seed * 31 + 2))
    for q in final_mix.take(FINAL_SEARCHES):
        res.op(same_topk(eng.search(q.text, k=K_SEARCH, mode=q.mode),
                         oracle_topk(final, q.text, q.mode, K_SEARCH)),
               f"post-compaction search {q.text!r}")
    fb = {str(i): q.text for i, q in enumerate(final_mix.take(BATCH_SIZE, True))}
    _check_batch(run, final, fb, eng.search_batch(fb, k=K_BATCH))
    run.phase("final_checks")

    write_s = sum(op_s.values()) + compact_s
    res.e2e["write_docs_per_s"] = written / write_s
    latency_metrics(res, lat, batch_qps)
    res.e2e["index_bytes_per_input_byte"] = dir_bytes(index_dir) / res.notes["corpus_bytes"]
    res.notes.update({
        "cycles": n_cycles, "docs_written": written, "compact_s": compact_s,
        "churn_write_docs_per_s_excl_compact": written / sum(op_s.values()),
        **{f"{k}_s": round(v, 3) for k, v in op_s.items()},
    })
    if run.tr.enabled:
        L = res.layers
        L["ingest.append_s"] = op_s["append"]
        L["ingest.update_s"] = op_s["update"]
        L["ingest.delete_s"] = op_s["delete"]
        L["ingest.compact_s"] = compact_s
        L["ingest.bytes_written_per_input_byte"] = write_bytes / written_input_bytes
        L["ingest.epochs_end"] = epochs_end
        L["ingest.tombstone_rows_end"] = tomb_end
        L["ingest.compact_bytes_rewritten"] = dir_bytes(
            os.path.join(index_dir, meta.segments_dir)
        ) + dir_bytes(os.path.join(index_dir, meta.dictionary_dir))
        # churn's index starts as an append epoch; the build-side layer
        # metrics come from an untimed batch build of the same base corpus
        run.build(base_df, run.dirs.path("trace_build"), len(base_ids))
        run.finish_trace(base_df)
    return res


WORKLOADS = {"search": search_workload, "churn": churn_workload}

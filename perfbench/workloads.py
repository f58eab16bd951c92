"""The three workloads. Each is a closed loop with one client: the next
operation starts only when the previous one has returned its rows.

serve     repeated 10-query top-5 requests against a persisted 384-d IVF
          index (``build_ivf_index`` in set-up, ``search_ivf_index`` per
          request). Fixed per-request cost dominates: Spark driver
          work, planning, codegen and a dozen small jobs per request.
evaluate  the whole reference lifecycle, ``pipeline_report(
          search_pipeline(docs))``, repeated over a generated text
          corpus. Per-row work dominates (md5 embedding, the Arrow
          blocked kernel, judge, IR aggregates); the persisted index is
          not used at all.
maintain  writes beside reads on a 384-d persisted index: a full build,
          then a fixed sequence of upsert batches, each followed by one
          search request, with a compaction every few cycles.

Every run executes a fixed count and sequence of operations (derived
from ``--seconds`` only), so two commits reach the same index state,
and the first, slower operations of each shape run as warm-up outside
every metric. The engine is driven only through public functions.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

import inputs
from measure import Checks, latency_summary

DIM = 384  # the reference's all-MiniLM dimension; above UNROLL_MAX_DIM
N_CELLS = 16
N_PROBE = 4
K = 5
QUERY_BATCH = 10

SERVE_CORPUS = 2000
SERVE_WARMUP = 3

EVAL_DOCS = 2000
EVAL_WARMUP = 4

MAINTAIN_CORPUS = 2000
MAINTAIN_WARM_SLICE = 256
MAINTAIN_WARMUP_CYCLES = 2
UPSERT_BATCH = 100
COMPACT_EVERY = 2
READ_YOUR_WRITES_SAMPLE = 20


class Run:
    """One benchmark run: the session, the seed, the failure counters,
    and the figures the workload reports."""

    def __init__(self, spark, seed: int, seconds: int, workdir: str,
                 t_start: float, tracer=None) -> None:
        self.spark = spark
        self.t_start = t_start
        self.setup_s: float | None = None
        self.seed = seed
        self.seconds = seconds
        self.workdir = workdir
        self.tracer = tracer
        self.checks = Checks()
        self.end_to_end: dict[str, float] = {}
        self.detail: dict = {}
        self.layers: dict[str, float] = {}
        self.check_s = 0.0  # set-up time spent only on output checks
        self._traced_op = False
        self._samples: dict[str, list[tuple[float, bool]]] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def start_window(self) -> float:
        """Close set-up and open the timed window."""
        self._cpu_at_window = cpu_times()
        now = time.perf_counter()
        self.setup_s = now - self.t_start
        return now

    def end_window(self, t0: float) -> float:
        """Close the timed window; return its wall time in seconds. Also
        records the share of CPU time the hypervisor stole from this host
        meanwhile (Linux /proc/stat), which tells host noise apart."""
        window = time.perf_counter() - t0
        a, b = self._cpu_at_window, cpu_times()
        total = sum(b) - sum(a)
        if len(a) > 7 and len(b) > 7 and total > 0:
            self.detail["host_steal_share"] = (b[7] - a[7]) / total
        self.detail["window_s"] = window
        return window

    @contextmanager
    def op(self, kind: str, i: int, measured: bool = True):
        """One operation. In a traced run every other measured operation
        is traced, so the untraced ones give the tracing overhead."""
        traced = self.tracer is not None and measured and i % 2 == 0
        if not traced:
            yield
            return
        self._traced_op = True
        try:
            with self.tracer.span(kind, op=f"{kind}#{i}") as rec:
                rec["window"] = self.setup_s is not None
                yield
        finally:
            self._traced_op = False
        self.tracer.resolve()

    @contextmanager
    def layer(self, name: str):
        """A call into one engine layer, inside an operation."""
        if self._traced_op:
            with self.tracer.span(name) as rec:
                yield rec
        else:
            yield {}

    def timed(self, kind: str, i: int, label: str, fn, *args,
              measured: bool = True):
        """Run and time one counted operation; returns (result, ok).
        ``ok`` is False, and the result None, when the operation raised."""
        failed = self.checks.failed
        with self.op(kind, i, measured):
            t = time.perf_counter()
            out = self.checks.op(label, fn, *args)
            ms = (time.perf_counter() - t) * 1e3
        traced = self.tracer is not None and measured and i % 2 == 0
        self._samples.setdefault(kind, []).append((ms, traced))
        return out, self.checks.failed == failed

    def samples(self, kind: str) -> list[float]:
        return [ms for ms, _ in self._samples.get(kind, [])]

    def curves(self) -> dict[str, list[int]]:
        """Every latency sample in run order, warm-up included, in ms."""
        return {k: [round(ms) for ms, _ in v]
                for k, v in self._samples.items()}

    def trace_overhead_ms(self, kind: str) -> float:
        """Median traced minus median untraced latency of ``kind``."""
        s = self._samples.get(kind, [])
        on = [ms for ms, t in s if t]
        off = [ms for ms, t in s if not t]
        if not on or not off:
            return 0.0
        return statistics.median(on) - statistics.median(off)


def cpu_times() -> list[int]:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


# -- engine calls --------------------------------------------------------

def vector_df(spark, ids: np.ndarray, vecs: np.ndarray, id_col: str,
              vec_col: str):
    return spark.createDataFrame(
        list(zip(ids.tolist(), vecs.tolist())),
        f"{id_col} bigint, {vec_col} array<float>",
    )


def search_request(run: Run, index: str, queries) -> list[tuple]:
    from cs6300_vectordbs_spark.sources import vector_index as vi

    with run.layer("vector_index.search.call"):
        df = vi.search_ivf_index(run.spark, index, queries, K, dim=DIM,
                                 n_probe=N_PROBE)
    with run.layer("vector_index.search.collect") as rec:
        rows = df.collect()
        rec["df"] = df
    return [(r.query_id, r.rank, r.id, r.sim) for r in rows]


def build(run: Run, corpus, index: str) -> None:
    from cs6300_vectordbs_spark.sources import vector_index as vi

    with run.layer("vector_index.build"):
        vi.build_ivf_index(corpus, index, dim=DIM, n_cells=N_CELLS)


def upsert(run: Run, batch, index: str, gen: int) -> None:
    from cs6300_vectordbs_spark.sources import vector_index as vi

    with run.layer("vector_index.upsert"):
        vi.upsert_ivf_index(run.spark, batch, index, dim=DIM, gen=gen)


def compact(run: Run, index: str) -> None:
    from cs6300_vectordbs_spark.sources import vector_index as vi

    with run.layer("vector_index.compact"):
        vi.compact_ivf_index(run.spark, index)


# -- output checks ---------------------------------------------------------

def response_problems(rows: list[tuple], query_ids, k: int = K) -> list[str]:
    """A top-k response has k rows per query, ranks 1..k, sims that do not
    increase down the ranks, and no repeated id within a query."""
    by: dict = {}
    for q, rank, id_, sim in rows:
        by.setdefault(q, []).append((rank, id_, sim))
    problems = []
    missing = set(int(q) for q in query_ids) - set(by)
    extra = set(by) - set(int(q) for q in query_ids)
    if missing or extra:
        problems.append(f"{len(missing)} queries unanswered, "
                        f"{len(extra)} unknown query ids")
    for q, hits in by.items():
        hits.sort()
        if [h[0] for h in hits] != list(range(1, k + 1)):
            problems.append(f"query {q}: ranks {[h[0] for h in hits]}")
        sims = [h[2] for h in hits]
        if any(a < b for a, b in zip(sims, sims[1:])):
            problems.append(f"query {q}: sims increase down the ranks")
        ids = [h[1] for h in hits]
        if len(set(ids)) != len(ids):
            problems.append(f"query {q}: repeated id")
    return problems


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int = K):
    """Exact cosine top-k ids per query, ties to the lower id."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    sims = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1),
                                np.linalg.norm(c, axis=1))
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]


def recall(rows: list[tuple], qids: np.ndarray, exact: np.ndarray) -> float:
    served: dict = {}
    for q, _, id_, _ in rows:
        served.setdefault(q, set()).add(id_)
    hit = sum(len(served.get(int(q), set()) & set(e.tolist()))
              for q, e in zip(qids, exact))
    return hit / exact.size


def index_files(index: str) -> tuple[int, int]:
    """(parquet files, bytes) under the index's ``cells/``."""
    n = size = 0
    for root, _, files in os.walk(os.path.join(index, "cells")):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


# -- workloads ---------------------------------------------------------------

def requests_for(seconds: int) -> int:
    return max(4, round(seconds * 0.7))


def serve(run: Run) -> None:
    spark = run.spark
    ids, vecs = inputs.vector_corpus(run.seed, SERVE_CORPUS, DIM)
    pq.write_table(inputs.vector_table(ids, vecs, "vec_id", "embedding"),
                   run.path("corpus.parquet"))
    corpus = spark.read.parquet(run.path("corpus.parquet"))
    index = run.path("index")
    run.timed("serve.build", 0, "build", build, run, corpus, index)
    n_req = requests_for(run.seconds)
    batches = inputs.query_batches(run.seed, "serve", SERVE_WARMUP + n_req,
                                   QUERY_BATCH, DIM)
    qdfs = [vector_df(spark, q, v, "query_id", "query_vec")
            for q, v in batches]

    for i in range(SERVE_WARMUP):
        run.timed("serve.warmup", i, f"warm-up request {i}", search_request,
                  run, index, qdfs[i], measured=False)

    responses = []
    t0 = run.start_window()
    for i in range(n_req):
        rows, _ = run.timed("serve.request", i, f"request {i}",
                            search_request, run, index, qdfs[SERVE_WARMUP + i])
        responses.append(rows)
    window = run.end_window(t0)

    served_rows = []
    for i, rows in enumerate(responses):
        if rows is not None:
            run.checks.verify(f"request {i}", response_problems(
                rows, batches[SERVE_WARMUP + i][0]))
            served_rows.append((rows, batches[SERVE_WARMUP + i]))
    recall_at_5 = statistics.mean(
        recall(rows, q, exact_topk(vecs, v)) for rows, (q, v) in served_rows
    ) if served_rows else 0.0

    lat = run.samples("serve.request")
    answered = QUERY_BATCH * sum(r is not None for r in responses)
    run.end_to_end = {
        "latency_p50_ms": statistics.median(lat),
        "throughput_per_s": answered / window,
    }
    run.detail.update({
        **latency_summary("latency", lat),
        "recall_at_5": recall_at_5,
        "index_build_s": run.samples("serve.build")[0] / 1e3,
        "corpus": f"{SERVE_CORPUS} x {DIM}-d, {N_CELLS} cells, "
                  f"n_probe={N_PROBE}",
        "requests": n_req, "warmup_requests": SERVE_WARMUP,
    })
    if run.tracer is not None:
        files, size = index_files(index)
        run.layers.update(
            search_layers(run),
            **build_layers(run, SERVE_CORPUS),
            **{"vector_index.files": files,
               "vector_index.bytes_per_vector_byte":
                   size / (SERVE_CORPUS * DIM * 4),
               "trace.overhead_ms": run.trace_overhead_ms("serve.request")},
        )


def passes_for(seconds: int) -> int:
    return max(4, round(seconds * 0.7))


def evaluate(run: Run) -> None:
    from cs6300_vectordbs_spark.operators.pipeline import (
        pipeline_report,
        search_pipeline,
    )

    ids, texts = inputs.text_corpus(run.seed, EVAL_DOCS)
    docs_path = run.path("docs.parquet")
    pq.write_table(inputs.text_table(ids, texts), docs_path)
    t = time.perf_counter()
    expected = duckdb_report(docs_path)
    run.check_s += time.perf_counter() - t
    docs = run.spark.read.parquet(docs_path)

    def lifecycle():
        with run.layer("pipeline.search_pipeline"):
            results = search_pipeline(docs)
        with run.layer("pipeline.pipeline_report"):
            report = pipeline_report(results)
        with run.layer("pipeline.collect") as rec:
            rows = report.collect()
            rec["df"] = report
        return tuple(rows[0])

    for i in range(EVAL_WARMUP):
        run.timed("evaluate.warmup", i, f"warm-up pass {i}", lifecycle,
                  measured=False)
    n_pass = passes_for(run.seconds)
    rows = []
    t0 = run.start_window()
    for i in range(n_pass):
        row, _ = run.timed("evaluate.pass", i, f"pass {i}", lifecycle)
        rows.append(row)
    window = run.end_window(t0)

    done = [r for r in rows if r is not None]
    if done:
        run.checks.verify_op("report vs DuckDB twin",
                             report_problems(done[0], expected))
        for i, r in enumerate(rows[1:], 1):
            if r is not None and r != done[0]:
                run.checks.verify(f"pass {i}", [f"row {r} != {done[0]}"])
    n_queries = expected[0]
    lat = run.samples("evaluate.pass")
    run.end_to_end = {
        "latency_p50_ms": statistics.median(lat),
        "throughput_per_s": len(done) * n_queries / window,
    }
    run.detail.update({
        **latency_summary("latency", lat),
        "report": dict(zip(REPORT_COLUMNS, done[0] if done else ())),
        "corpus": f"{EVAL_DOCS} docs, {n_queries} queries",
        "passes": n_pass, "warmup_passes": EVAL_WARMUP,
    })
    if run.tracer is not None:
        staged_layers(run, docs, done[0] if done else None, len(ids),
                      n_queries)
        run.layers["trace.overhead_ms"] = run.trace_overhead_ms(
            "evaluate.pass")


REPORT_COLUMNS = ("n_queries", "n_results", "avg_recall", "n_recall_queries",
                  "avg_ndcg", "n_ndcg_queries")


def duckdb_report(docs_path: str) -> tuple:
    """The pipeline report computed by the engine's DuckDB twin."""
    import duckdb

    import __spark_entry__

    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs_path}')")
        return tuple(con.execute(
            __spark_entry__.oracle_sql()["pipeline_report"]).fetchone())
    finally:
        con.close()


def report_problems(row: tuple, expected: tuple) -> list[str]:
    """Counts must match exactly; the averages to the twin's 9 decimals."""
    problems = []
    for name, got, want in zip(REPORT_COLUMNS, row, expected):
        ok = (abs(got - want) <= 1e-9 if isinstance(want, float)
              else got == want)
        if not ok:
            problems.append(f"{name}: {got} != twin {want}")
    return problems


def staged_layers(run: Run, docs, fused_row, n_docs: int,
                  n_queries: int) -> None:
    """One traced pass with each stage of the lifecycle materialized on
    its own, so each layer's time stands alone. Mirrors
    ``search_pipeline``'s stages; whether it reproduces the fused report
    is recorded, not counted as a failure of the engine."""
    from pyspark.sql import functions as F

    from cs6300_vectordbs_spark.functions.embed import DEFAULT_DIM, embed_text
    from cs6300_vectordbs_spark.functions.querygen import template_query
    from cs6300_vectordbs_spark.operators.judge import (
        is_relevant,
        sim_judge_score,
    )
    from cs6300_vectordbs_spark.operators.pipeline import pipeline_report
    from cs6300_vectordbs_spark.operators.sampling import hash_bucket
    from cs6300_vectordbs_spark.operators.similarity import (
        similarity_topk_blocked,
    )
    from cs6300_vectordbs_spark.operators.util import spread

    tr = run.tracer
    with tr.span("evaluate.staged", op="evaluate.staged"):
        with tr.span("embed"):
            corpus = spread(docs).filter(F.col("text").isNotNull()).select(
                "doc_id", embed_text("text", DEFAULT_DIM).alias("embedding")
            ).localCheckpoint(eager=True)
        with tr.span("querygen"):
            qtext = docs.filter(hash_bucket("doc_id", 100) < 10).select(
                F.col("doc_id").alias("query_id"),
                template_query("text", 5).alias("query"),
            ).localCheckpoint(eager=True)
        with tr.span("embed"):
            queries = qtext.withColumn(
                "query_vec", embed_text("query", DEFAULT_DIM)
            ).localCheckpoint(eager=True)
        with tr.span("similarity"):
            hits = similarity_topk_blocked(
                corpus, queries, K, corpus_id="doc_id",
                corpus_vec="embedding",
            ).localCheckpoint(eager=True)
        with tr.span("judge"):
            judged = hits.withColumn(
                "relevancy_score",
                sim_judge_score(F.col("sim"), scale=8.0, bias=-1.0),
            ).withColumn(
                "is_relevant", is_relevant(F.col("relevancy_score"))
            ).localCheckpoint(eager=True)
        with tr.span("metrics_ir.report") as rec:
            report = pipeline_report(judged)
            staged_row = tuple(report.collect()[0])
            rec["df"] = report
    tr.resolve()

    def ms(name):
        return sum((s["end"] - s["start"]) * 1e3 for s in tr.named(name))

    staged = tr.named("evaluate.staged")[0]
    run.layers.update({
        "embed.rows_per_s": (n_docs + n_queries) / (ms("embed") / 1e3),
        "querygen.ms": ms("querygen"),
        "similarity.pairs_per_s":
            n_docs * n_queries / (ms("similarity") / 1e3),
        "metrics_ir.report_ms": ms("metrics_ir.report"),
        "pipeline.fused_ms": statistics.median(
            (s["end"] - s["start"]) * 1e3 for s in tr.named("evaluate.pass")),
        "pipeline.staged_sum_ms": sum(
            (c["end"] - c["start"]) * 1e3 for c in tr.children(staged)),
    })
    run.detail["staged_matches_fused"] = staged_row == fused_row


def cycles_for(seconds: int) -> int:
    n = max(COMPACT_EVERY, round(seconds * 0.6))
    return n - n % COMPACT_EVERY  # end on a compaction


def maintain(run: Run) -> None:
    spark = run.spark
    ids, vecs = inputs.vector_corpus(run.seed, MAINTAIN_CORPUS, DIM)
    pq.write_table(inputs.vector_table(ids, vecs, "vec_id", "embedding"),
                   run.path("corpus.parquet"))
    corpus = spark.read.parquet(run.path("corpus.parquet"))
    n_cycles = cycles_for(run.seconds)
    writes = inputs.upsert_batches(run.seed, MAINTAIN_CORPUS, n_cycles,
                                   UPSERT_BATCH, DIM)
    wdfs = [vector_df(spark, i, v, "vec_id", "embedding") for i, v in writes]
    queries = inputs.query_batches(run.seed, "maintain", n_cycles,
                                   QUERY_BATCH, DIM)
    qdfs = [vector_df(spark, q, v, "query_id", "query_vec")
            for q, v in queries]

    # Warm-up: every operation shape once on a small slice, distinct inputs.
    warm = run.path("warm-index")
    w_ids, w_vecs = inputs.vector_corpus(run.seed + 1, MAINTAIN_WARM_SLICE,
                                         DIM)
    w_writes = inputs.upsert_batches(run.seed + 1, MAINTAIN_WARM_SLICE,
                                     MAINTAIN_WARMUP_CYCLES, UPSERT_BATCH, DIM)
    w_queries = inputs.query_batches(run.seed + 1, "maintain",
                                     MAINTAIN_WARMUP_CYCLES, QUERY_BATCH, DIM)
    run.timed("maintain.warmup", 0, "warm-up build", build, run,
              vector_df(spark, w_ids, w_vecs, "vec_id", "embedding"), warm,
              measured=False)
    for c, ((wi, wv), (qi, qv)) in enumerate(zip(w_writes, w_queries)):
        run.timed("maintain.warmup", c, f"warm-up upsert {c}", upsert, run,
                  vector_df(spark, wi, wv, "vec_id", "embedding"), warm, c + 1,
                  measured=False)
        run.timed("maintain.warmup", c, f"warm-up search {c}", search_request,
                  run, warm, vector_df(spark, qi, qv, "query_id", "query_vec"),
                  measured=False)
    run.timed("maintain.warmup", 0, "warm-up compaction", compact, run, warm,
              measured=False)

    index = run.path("index")
    responses = []
    files_before_compaction = []
    t0 = run.start_window()
    run.timed("maintain.build", 0, "build", build, run, corpus, index)
    upserted = 0
    for c in range(n_cycles):
        _, ok = run.timed("maintain.upsert", c, f"upsert {c}", upsert, run,
                          wdfs[c], index, c + 1)
        upserted += UPSERT_BATCH if ok else 0
        rows, _ = run.timed("maintain.search", c, f"search {c}",
                            search_request, run, index, qdfs[c])
        responses.append(rows)
        if (c + 1) % COMPACT_EVERY == 0:
            if run.tracer is not None:
                files_before_compaction.append(index_files(index)[0])
            run.timed("maintain.compact", c // COMPACT_EVERY,
                      f"compaction after cycle {c}", compact, run, index)
    window = run.end_window(t0)

    for c, rows in enumerate(responses):
        if rows is not None:
            run.checks.verify(f"search {c}",
                              response_problems(rows, queries[c][0]))
    read_your_writes(run, index, writes)

    lat = run.samples("maintain.upsert")
    run.end_to_end = {
        "latency_p50_ms": statistics.median(lat),
        "throughput_per_s": upserted / window,
    }
    run.detail.update({
        **latency_summary("latency", lat),
        **latency_summary("search", run.samples("maintain.search")),
        **latency_summary("compact", run.samples("maintain.compact")),
        "build_s": run.samples("maintain.build")[0] / 1e3,
        "corpus": f"{MAINTAIN_CORPUS} x {DIM}-d, {N_CELLS} cells, "
                  f"{n_cycles} upserts of {UPSERT_BATCH}, compaction every "
                  f"{COMPACT_EVERY}",
    })
    if run.tracer is not None:
        live = MAINTAIN_CORPUS + sum(
            int((i >= MAINTAIN_CORPUS).sum()) for i, _ in writes)
        _, size = index_files(index)
        tr = run.tracer
        run.layers.update(
            search_layers(run),
            **build_layers(run, MAINTAIN_CORPUS),
            **{"vector_index.upsert_ms": median_ms(tr, "vector_index.upsert"),
               "vector_index.upsert.jobs": statistics.median(
                   s["jobs"] for s in tr.named("vector_index.upsert")),
               "vector_index.compact_ms":
                   median_ms(tr, "vector_index.compact"),
               "vector_index.files": statistics.median(
                   files_before_compaction),
               "vector_index.bytes_per_vector_byte": size / (live * DIM * 4),
               "trace.overhead_ms": run.trace_overhead_ms("maintain.upsert")},
        )


def read_your_writes(run: Run, index: str, writes) -> None:
    """After the final compaction, a sample of upserted vectors, each
    searched for by its latest value, must come back at rank 1."""
    latest: dict[int, np.ndarray] = {}
    for ids, vecs in writes:
        for i, v in zip(ids.tolist(), vecs):
            latest[i] = v
    g = inputs.rng(run.seed, "read-your-writes")
    sample = sorted(g.choice(sorted(latest), READ_YOUR_WRITES_SAMPLE,
                             replace=False).tolist())
    qdf = vector_df(run.spark, np.array(sample, dtype=np.int64),
                    np.stack([latest[i] for i in sample]), "query_id",
                    "query_vec")
    rows = run.checks.op("read-your-writes", search_request, run, index, qdf)
    if rows is None:
        return
    top = {q: id_ for q, rank, id_, _ in rows if rank == 1}
    run.checks.verify("read-your-writes", [
        f"id {i} came back as {top.get(i)}" for i in sample if top.get(i) != i
    ])


# -- per-layer figures --------------------------------------------------

def median_ms(tr, name: str) -> float:
    recs = tr.named(name)
    return statistics.median((s["end"] - s["start"]) * 1e3 for s in recs) \
        if recs else 0.0


def search_layers(run: Run) -> dict:
    tr = run.tracer
    calls = tr.named("vector_index.search.call")
    collects = tr.named("vector_index.search.collect")
    per_req = [
        {k: a.get(k, 0) + b.get(k, 0) for k in ("jobs", "stages", "tasks")}
        for a, b in zip(calls, collects)
    ]
    return {
        "vector_index.search.call_ms":
            median_ms(tr, "vector_index.search.call"),
        "vector_index.search.collect_ms":
            median_ms(tr, "vector_index.search.collect"),
        **{f"vector_index.search.{k}": statistics.median(r[k] for r in per_req)
           for k in ("jobs", "stages", "tasks")},
    }


def build_layers(run: Run, n: int) -> dict:
    build_s = median_ms(run.tracer, "vector_index.build") / 1e3
    return {"vector_index.build_s": build_s,
            "vector.pairs_per_s": n * N_CELLS / build_s}


WORKLOADS = {"serve": serve, "evaluate": evaluate, "maintain": maintain}

"""The workloads: one closed-loop client in one process driving the
public API of noise_spark against a local Spark session.

- ``build``: repeated ``build_index`` runs over the seeded corpus, each
  into a fresh index directory.
- ``query``: the index is built during set-up, then a seeded stream of
  top-k queries (WAND and exhaustive shapes, query-language text, and a
  ``search_many`` batch per block of the stream) runs until the time is
  up.

Every result is checked against the benchmark's own BM25 reference
after the timed part.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

from . import inputs
from .reference import Reference, check_topk
from .tracing import (
    GroupStats,
    PeakRss,
    Tracer,
    children,
    read_event_logs,
    self_times,
    stats_by_span_name,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
K = 10
# Spark parallelism stays below the box (the repo default is local[32]):
# one core is left to the client and the JVM's JIT and GC threads
CPUS = max(1, min(3, (os.cpu_count() or 1) - 1))
DRIVER_MEMORY = "2g"
# a WAND query and an exhaustive (positional) one: checked after the
# traced build run's write, and run as the untimed query warm-up (the
# first query of a path compiles the Spark code that later ones reuse and
# runs up to 1.5x slower)
CHECK_SHAPES = ("or_head", "phrase")
# the query checked after a build: a phrase (positions and BM25 scores)
BUILD_CHECK_SHAPES = ("phrase",)
# the stream shapes timed one by one: WAND head-term OR, AND and
# tail-term, exhaustive NOT and proximity, and query-language text. Every
# plan shape of a block, these and or_mixed/phrase/nested, is timed in the
# block's search_many batch; a single query costs ~2 s of per-job
# overhead, so timing all nine one by one would push a run past a minute
SINGLE_SHAPES = ("or_head", "and", "term_tail", "not", "prox", "text_phrase")
# set-up steps that are cheap enough to repeat: median of this many
SETUP_REPEATS = 3
# the traced build run's maintenance probe: docs appended
APPEND_DOCS = 100


def to_plan(q: tuple):
    """A query tuple from ``inputs`` as a noise_spark plan node."""
    from noise_spark.query import plan as P

    kind = q[0]
    if kind == "term":
        return P.Term(q[1])
    if kind == "or":
        return P.Or(tuple(to_plan(c) for c in q[1]))
    if kind == "and":
        return P.And(tuple(to_plan(c) for c in q[1]))
    if kind == "not":
        return P.Not(to_plan(q[1]), to_plan(q[2]))
    if kind == "phrase":
        return P.Phrase(tuple(q[1]))
    if kind == "prox":
        return P.Proximity(tuple(q[1]), window=q[2])
    raise ValueError(f"unknown query kind {kind!r}")


def is_flat(q: tuple) -> bool:
    """Flat or/and of terms: the shapes IndexReader.query sends to WAND."""
    return q[0] in ("or", "and") and all(c[0] == "term" for c in q[1])


def query_terms(q: tuple) -> list[str]:
    if q[0] == "term":
        return [q[1]]
    if q[0] in ("or", "and"):
        return sorted({t for c in q[1] for t in query_terms(c)})
    if q[0] == "not":
        return sorted(set(query_terms(q[1])) | set(query_terms(q[2])))
    return sorted(set(q[1]))


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _quantile(xs, q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


class Run:
    """One benchmark run: its Spark session, tracer, samples and checks."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.dir = os.path.join(WORK, f"{workload}-s{seed}-p{os.getpid()}")
        self.tmp = os.path.join(self.dir, "tmp")
        self.eventlog = os.path.join(self.dir, "eventlog")
        os.makedirs(self.tmp, exist_ok=True)
        os.makedirs(self.eventlog, exist_ok=True)
        self.spark = None
        self.tracer = Tracer(enabled=trace)
        self.rss = PeakRss()
        self.attempted = 0
        self.failures: list[str] = []
        self.setup_s = 0.0
        self.end_to_end: dict[str, float] = {}
        self.report: list[tuple[str, float, str]] = []  # human-readable extras
        self.layer: dict[str, float] = {}
        self.op_s: list[float] = []  # timed operations
        self.parse_s: list[float] = []  # traced parse_query calls
        self.result_counts: list[int] = []  # rows per timed single query

    # -- session ------------------------------------------------------------------
    def start_session(self, warm: bool) -> float:
        # Python workers import noise_spark by module path, so the
        # checkout must be on PYTHONPATH (sys.path alone is not inherited)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # get_spark's own warm-up jobs start the Python workers and compile
        # the stage shapes every job uses; with them the timed build pays
        # no one-time start-up cost. The query workload turns them off:
        # its base build and warm-up queries do the same in set-up
        os.environ["NOISE_SPARK_WARM_SESSION"] = "1" if warm else "0"
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None
        from noise_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.eventLog.enabled": "true" if self.trace else "false",
            "spark.eventLog.dir": "file://" + self.eventlog,
            "spark.eventLog.compress": "false",
        }
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                "perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS, extra_conf=conf
            )
        start_s = time.perf_counter() - t0
        self.tracer.sc = self.spark.sparkContext
        self.layer["session.start_s"] = start_s
        self.rss.start()
        return start_s

    def close(self) -> None:
        """Stop Spark, end the JVM and its workers, wait for all of them;
        parse the event log and keep the spans of a traced run."""
        try:
            self._stop_spark()
            if self.trace:
                self._event_log_layers()
                keep = os.path.join(WORK, f"trace-{self.workload}-s{self.seed}")
                shutil.rmtree(keep, ignore_errors=True)
                os.makedirs(keep)
                self.tracer.write(os.path.join(keep, "spans.jsonl"))
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)

    def _stop_spark(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.rss.stop()
            self.spark.stop()
            self.spark = None
            descendants = _descendants(os.getpid())
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=60)
                    except Exception:  # noqa: BLE001 — must not leave it running
                        proc.kill()
                        proc.wait()
            _wait_gone(descendants)

    # -- checks -------------------------------------------------------------------
    def check(self, error: str | None, what: str) -> None:
        self.attempted += 1
        if error:
            self.failures.append(f"{what}: {error}")

    # -- shared steps --------------------------------------------------------------
    def generate(self) -> tuple[inputs.Corpus, str, float]:
        """The corpus, the directory of its pages table, and the median
        time of generating and writing them."""
        path = os.path.join(self.dir, "pages")
        times = []
        for _ in range(SETUP_REPEATS):
            shutil.rmtree(path, ignore_errors=True)
            t0 = time.perf_counter()
            corpus = inputs.make_corpus(self.seed)
            corpus.write(path, CPUS)
            times.append(time.perf_counter() - t0)
        return corpus, path, _median(times)

    def build(self, pages: str, index_dir: str) -> dict:
        from noise_spark.index.build import BuildConfig, build_index

        with self.tracer.span("build.build_index"):
            return build_index(self.spark, self.spark.read.parquet(pages), index_dir, BuildConfig())

    def open_reader(self, index_dir: str):
        from noise_spark.query import IndexReader

        with self.tracer.span("engine.open"):
            return IndexReader(self.spark, index_dir)

    def index_ratio(self, index_dir: str, corpus: inputs.Corpus) -> None:
        from noise_spark.index.catalog import IndexCatalog

        stages = IndexCatalog(index_dir).current_manifest()["stages"]
        total = sum(int(info.get("bytes") or 0) for info in stages.values())
        self.end_to_end["index_bytes_per_text_byte"] = total / corpus.text_bytes

    def doc_urls(self, reader) -> dict[int, str]:
        return {r["doc_id"]: r["url"] for r in reader.docs.select("doc_id", "url").collect()}

    def search(self, reader, docmap: dict, shape: str, q: tuple, blocks: list) -> list:
        """One top-k query through the layer its shape selects."""
        if shape.startswith("text_"):
            from noise_spark.query.parser import parse_query, run_query

            text = inputs.text_query(q)
            if self.tracer.enabled:
                t0 = time.perf_counter()
                with self.tracer.span("parser.parse"):
                    parse_query(text)
                self.parse_s.append(time.perf_counter() - t0)
            with self.tracer.span("parser.run_query"):
                rows = run_query(reader, text).collect()
            return [(docmap[r["id"]], r["s"]) for r in rows]
        flat = is_flat(q)
        if self.tracer.enabled:
            with self.tracer.span("engine.term_dfs"):
                reader.term_dfs(query_terms(q))
        with self.tracer.span(("wand.search." if flat else "engine.search.") + shape):
            rows = reader.query(to_plan(q), k=K).collect()
        if flat and self.tracer.enabled:
            blocks.append((query_terms(q), reader.last_blocks_decoded.value))
        return [(docmap[r["doc_id"]], r["score"]) for r in rows]

    def check_queries(self, reader, docmap: dict, ref: Reference, items) -> None:
        for shape, q in items:
            try:
                got = self.search(reader, docmap, shape, q, [])
                self.check(check_topk(got, ref.ranked(q), K), shape)
            except Exception as e:  # noqa: BLE001 — a failed query is a result
                self.check(repr(e), shape)

    def search_batch(self, reader, docmap: dict, batch: dict) -> dict | str:
        """One ``search_many`` call: each query's (url, score) list, or
        the error."""
        try:
            rows = reader.search_many({k: to_plan(q) for k, q in batch.items()}, k=K).collect()
        except Exception as e:  # noqa: BLE001 — a failed batch is a result
            return repr(e)
        by_query: dict[str, list] = {k: [] for k in batch}
        for r in rows:
            by_query[r["query_id"]].append((r["score"], r["doc_id"]))
        return {
            k: [(docmap[d], s) for s, d in sorted(v, key=lambda x: (-x[0], x[1]))]
            for k, v in by_query.items()
        }

    def check_batch(self, ref: Reference, batch: dict, got: dict | str) -> None:
        for key, q in batch.items():
            err = got if isinstance(got, str) else check_topk(got[key], ref.ranked(q), K)
            self.check(err, "search_many " + key)

    # -- traced-run probes (after the timed part) ----------------------------------
    def probe_layers(self, corpus: inputs.Corpus, reader, index_dir: str) -> None:
        import numpy as np
        from pyspark.sql import functions as F

        from noise_spark.analysis.tokenizer import analyze
        from noise_spark.index import codec as C
        from noise_spark.index.catalog import IndexCatalog

        sample = corpus.texts[:400]
        t0 = time.perf_counter()
        with self.tracer.span("analysis.analyze"):
            n_tokens = sum(len(analyze(t)) for t in sample)
        self.layer["analysis.tokens_per_s"] = n_tokens / (time.perf_counter() - t0)

        with self.tracer.span("codec.sample"):
            rows = reader.segments.select("docs", "tfs", "codec").limit(4000).collect()
            agg = reader.segments.agg(
                F.sum(
                    F.length("docs") + F.length("tfs") + F.length("dls") + F.length("positions")
                ).alias("bytes"),
                F.sum("n_docs").alias("postings"),
            ).collect()[0]
        self.layer["codec.bytes_per_posting"] = agg["bytes"] / agg["postings"]
        blocks = [(bytes(r["docs"]), r["codec"], bytes(r["tfs"])) for r in rows]
        t0 = time.perf_counter()
        with self.tracer.span("codec.decode"):
            decoded = [
                (C.for_decode(d) if c == "for" else C.delta_decode(d), C.varbyte_decode(t))
                for d, c, t in blocks
            ]
        dec_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with self.tracer.span("codec.encode"):
            out_bytes = sum(
                len(C.delta_encode(ids)) + len(C.varbyte_encode(tfs.astype(np.uint64)))
                for ids, tfs in decoded
            )
        enc_s = time.perf_counter() - t0
        in_bytes = sum(len(d) + len(t) for d, _, t in blocks)
        self.layer["codec.decode_mb_per_s"] = in_bytes / 1e6 / dec_s
        self.layer["codec.encode_mb_per_s"] = out_bytes / 1e6 / enc_s

        cat = IndexCatalog(index_dir)
        self.layer["catalog.commits_per_build"] = sum(
            n.startswith("manifest-") for n in os.listdir(cat.manifest_dir)
        )
        times = []
        for _ in range(20):
            t0 = time.perf_counter()
            IndexCatalog(index_dir).current_manifest()
            times.append(time.perf_counter() - t0)
        self.layer["catalog.manifest_read_s"] = _median(times)

    def probe_writes(self, corpus: inputs.Corpus, ref: Reference, index_dir: str) -> None:
        """Incremental maintenance on the built index: append a batch;
        then a fresh reader must see exactly the live documents and
        answer queries exactly. (A delete commit costs ~35 s of fixed
        overhead on a 4-core box, too slow for a benchmark run.)"""
        from noise_spark.index import incremental as inc
        from noise_spark.index.catalog import IndexCatalog

        cat = IndexCatalog(index_dir)
        commits0 = len(os.listdir(cat.manifest_dir))
        batch = inputs.append_batch(self.seed, len(corpus.urls), APPEND_DOCS)
        new_pages = self.spark.createDataFrame(batch.pages())
        t0 = time.perf_counter()
        with self.tracer.span("incremental.append"):
            inc.append_docs(self.spark, index_dir, new_pages)
        self.layer["incremental.append_s"] = time.perf_counter() - t0
        ref.add(batch.urls, batch.tokens)
        self._check_live(index_dir, ref, 1)

        stages = cat.current_manifest()["stages"]
        self.layer["incremental.generations"] = 1 + len({n.split("/")[0] for n in stages if n.startswith("gen")})
        self.layer["catalog.commits_per_write"] = len(os.listdir(cat.manifest_dir)) - commits0

    def _check_live(self, index_dir: str, ref: Reference, block: int) -> None:
        reader, self.layer["incremental.reader_open_s"] = _timed(self.open_reader, index_dir)
        docmap = self.doc_urls(reader)
        self.check(None if sorted(docmap.values()) == ref.urls else "live docs differ", f"write {block}")
        items = [(s, q) for s, q in inputs.pattern(self.seed, block) if s in CHECK_SHAPES]
        t0 = time.perf_counter()
        with self.tracer.span("incremental.queries"):
            self.check_queries(reader, docmap, ref, items)
        self.layer["incremental.query_s"] = (time.perf_counter() - t0) / len(items)

    def _event_log_layers(self) -> None:
        spans = [s for s in self.tracer.spans if s.end]
        groups = read_event_logs(self.eventlog)
        by_name = stats_by_span_name(groups, spans)
        builds = [s for s in spans if s.name == "build.build_index"]
        if builds:
            g = by_name.get("build.build_index", GroupStats())
            n = len(builds)
            wall = sum(s.seconds for s in builds)
            self.layer.update(
                {
                    "build.jobs": g.jobs / n,
                    "build.tasks": g.tasks / n,
                    "build.shuffle_write_bytes": g.shuffle_write_bytes / n,
                    "build.cpu_busy_ratio": g.run_s / (wall * CPUS),
                    "build.segments_task_skew": g.heaviest_stage_skew(),
                    "build.gc_s": g.gc_s / n,
                    "build.failed_tasks": g.failed_tasks / n,
                }
            )
        self.layer["incremental.shuffle_write_bytes"] = by_name.get(
            "incremental.append", GroupStats()
        ).shuffle_write_bytes
        n_queries = len(self.result_counts)
        if n_queries:
            in_requests = [s for s in spans if s.request is not None]
            g = GroupStats()
            for name, stats in stats_by_span_name(groups, in_requests).items():
                if name.startswith(("engine.search.", "wand.search.", "engine.term_dfs", "parser.")):
                    g.add(stats)
            self.layer.update(
                {
                    "engine.jobs_per_query": g.jobs / n_queries,
                    "engine.tasks_per_query": g.tasks / n_queries,
                    "engine.sched_delay_s_per_query": g.sched_delay_s / n_queries,
                    "engine.records_read_per_result": g.records_read / max(sum(self.result_counts), 1),
                }
            )

    def span_layers(self, tracer_s: float) -> None:
        """Per-layer span durations and self times, per traced request;
        ``tracer_s``: the tracer's own time during the requests."""
        spans = [s for s in self.tracer.spans if s.end and s.request is not None]
        n = max(sum(s.name == "request" for s in spans), 1)
        selfs = self_times(spans)
        for layer in ("build", "engine", "wand", "parser"):
            self.layer[f"self_s.{layer}"] = sum(v for k, v in selfs.items() if k.startswith(layer + ".")) / n
        self.layer["trace.unattributed_s"] = selfs.get("request", 0.0) / n
        # what tracing adds to a request: span bookkeeping, job-group
        # calls, and the extra parse_query of each text query
        self.layer["trace.overhead_s_per_op"] = (tracer_s + sum(self.parse_s)) / n
        self.layer["trace.latency_mean_s"] = _mean(self.op_s)

        def durations(prefix: str) -> list[float]:
            return [s.seconds for s in spans if s.name.startswith(prefix)]

        self.layer["engine.term_dfs_s"] = sum(durations("engine.term_dfs")) / n
        self.layer["engine.search_s"] = _median(durations("engine.search."))
        self.layer["wand.search_s"] = _median(durations("wand.search."))
        for shape in ("not", "prox"):
            self.layer[f"engine.search_s.{shape}"] = _median(durations(f"engine.search.{shape}"))
        for shape in ("or_head", "and", "term_tail"):
            self.layer[f"wand.search_s.{shape}"] = _median(durations(f"wand.search.{shape}"))
        self.layer["engine.search_many_s"] = _median(durations("engine.search_many"))
        self.layer["parser.run_query_s"] = _median(durations("parser.run_query"))
        self.layer["parser.parse_us"] = _median(self.parse_s) * 1e6


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


# -- workloads ------------------------------------------------------------------------


def _batch(items) -> dict:
    """The plan-node queries of a stream block, keyed for search_many."""
    return {f"{j}:{s}": q for j, (s, q) in enumerate(items) if not s.startswith("text_")}


def run_build(run: Run) -> None:
    corpus, pages, inputs_s = run.generate()
    session_s = run.start_session(warm=True)
    run.setup_s = session_s + inputs_s

    stage_s: dict[str, list[float]] = {}
    tracer_s0 = run.tracer.overhead_s
    start = time.perf_counter()
    i = 0
    index_dir = None
    while True:
        prev, index_dir = index_dir, os.path.join(run.dir, f"index{i}")
        t0 = time.perf_counter()
        try:
            with run.tracer.span("request", request=i):
                metrics = run.build(pages, index_dir)
            run.op_s.append(time.perf_counter() - t0)
            for name, st in metrics["stages"].items():
                stage_s.setdefault(name, []).append(st.get("seconds", 0.0))
            n_docs = metrics.get("n_docs")
            run.check(None if n_docs == len(corpus.urls) else f"n_docs {n_docs}", "build")
        except Exception as e:  # noqa: BLE001 — a failed build is a result
            run.check(repr(e), "build")
        if prev:
            shutil.rmtree(prev, ignore_errors=True)
        i += 1
        if time.perf_counter() - start >= run.seconds:
            break
    tracer_s = run.tracer.overhead_s - tracer_s0

    docs = len(corpus.urls)
    run.end_to_end["latency_mean_s"] = _mean(run.op_s)
    run.end_to_end["throughput_per_s"] = docs * len(run.op_s) / sum(run.op_s)
    run.report.append(
        ("build_docs_per_s", run.end_to_end["throughput_per_s"], f"docs/s ({len(run.op_s)} builds of {docs} docs)")
    )
    for name in ("docs", "segments", "term_stats", "corpus_stats"):
        run.layer[f"build.{name}_s"] = _median(stage_s.get(name, []))

    # the last index holds every doc and every term's df, and answers a
    # phrase query exactly
    run.tracer.enabled = False
    ref = Reference(corpus.urls, corpus.tokens)
    reader, run.layer["engine.reader_open_s"] = _timed(run.open_reader, index_dir)
    docmap = run.doc_urls(reader)
    run.check(None if sorted(docmap.values()) == ref.urls else f"{len(docmap)} docs stored", "docs")
    dfs = reader.term_dfs(list(inputs.WORDS))
    want = {t: ref.df(t) for t in inputs.WORDS if ref.df(t)}
    run.check(None if dfs == want else f"{sum(dfs.get(t) != n for t, n in want.items())} dfs differ", "term_dfs")
    run.check_queries(
        reader, docmap, ref, [(s, q) for s, q in inputs.pattern(run.seed, 0) if s in BUILD_CHECK_SHAPES]
    )
    run.index_ratio(index_dir, corpus)
    if run.trace:
        run.tracer.enabled = True
        run.probe_layers(corpus, reader, index_dir)
        run.span_layers(tracer_s)
        run.probe_writes(corpus, ref, index_dir)


def run_query(run: Run) -> None:
    corpus, pages, inputs_s = run.generate()
    session_s = run.start_session(warm=False)
    index_dir = os.path.join(run.dir, "index")
    metrics, build_s = _timed(run.build, pages, index_dir)
    for name, st in metrics["stages"].items():
        run.layer[f"build.{name}_s"] = st.get("seconds", 0.0)
    reader, open_s = _timed(run.open_reader, index_dir)
    run.layer["engine.reader_open_s"] = open_s
    docmap = run.doc_urls(reader)
    warm = [(s, q) for s, q in inputs.pattern(run.seed, 1_000_000) if s in CHECK_SHAPES]
    t0 = time.perf_counter()
    with run.tracer.span("warmup"):
        for shape, q in warm:
            run.search(reader, docmap, shape, q, [])
    warm_s = time.perf_counter() - t0
    run.setup_s = session_s + inputs_s + build_s + open_s + warm_s
    ref = Reference(corpus.urls, corpus.tokens)

    singles: list[tuple[str, tuple, list | str]] = []
    batches: list[tuple[dict, dict | str]] = []
    blocks: list = []
    answered = 0
    tracer_s0 = run.tracer.overhead_s
    start = time.perf_counter()
    p = 0
    while True:
        items = inputs.pattern(run.seed, p)
        for j, (shape, q) in enumerate(items):
            if shape not in SINGLE_SHAPES:
                continue
            t0 = time.perf_counter()
            try:
                with run.tracer.span("request", request=p * 100 + j):
                    got = run.search(reader, docmap, shape, q, blocks)
                run.op_s.append(time.perf_counter() - t0)
                run.result_counts.append(len(got))
            except Exception as e:  # noqa: BLE001 — a failed query is a result
                got = repr(e)
            singles.append((shape, q, got))
        batch = _batch(items)
        with run.tracer.span("request", request=p * 100 + 99):
            with run.tracer.span("engine.search_many"):
                batches.append((batch, run.search_batch(reader, docmap, batch)))
        answered += sum(s in SINGLE_SHAPES for s, _ in items) + len(batch)
        p += 1
        elapsed = time.perf_counter() - start
        if elapsed >= run.seconds:
            break
    tracer_s = run.tracer.overhead_s - tracer_s0
    run.tracer.enabled = False

    # the mean, not the median: a block's shapes fall into clusters (WAND,
    # exhaustive, parser) and its median sits on the edge between two
    run.end_to_end["latency_mean_s"] = _mean(run.op_s)
    run.end_to_end["throughput_per_s"] = answered / elapsed
    n = len(run.op_s)
    run.report += [
        ("query_p50_s", _median(run.op_s), f"s (n={n})"),
        ("query_p90_s", _quantile(run.op_s, 0.9), f"s (n={n}, {n - int(0.9 * n) - 1} beyond)"),
        ("batch_qps", answered / elapsed, f"queries/s over {elapsed:.1f} s, {p} blocks"),
    ]

    for shape, q, got in singles:
        run.check(got if isinstance(got, str) else check_topk(got, ref.ranked(q), K), shape)
    for batch, got in batches:
        run.check_batch(ref, batch, got)
    run.index_ratio(index_dir, corpus)
    if run.trace:
        stored = _blocks_stored(reader, {t for terms, _ in blocks for t in terms})
        decoded = sum(b for _, b in blocks)
        run.layer["wand.blocks_decoded"] = decoded / max(len(blocks), 1)
        run.layer["wand.blocks_decoded_ratio"] = decoded / max(
            sum(stored.get(t, 0) for terms, _ in blocks for t in terms), 1
        )
        run.tracer.enabled = True
        run.probe_layers(corpus, reader, index_dir)
        run.span_layers(tracer_s)


def _blocks_stored(reader, terms: set) -> dict[str, int]:
    from pyspark.sql import functions as F

    if not terms:
        return {}
    rows = (
        reader.segments.filter(F.col("term").isin(sorted(terms)))
        .groupBy("term")
        .count()
        .collect()
    )
    return {r["term"]: r["count"] for r in rows}


WORKLOADS = {"build": run_build, "query": run_query}

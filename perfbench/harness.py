"""Measurement plumbing shared by the workloads: the Spark session, the
seeded inputs, percentiles, the process-tree RSS sampler, and the tracer
that wraps calls into the engine's layers from outside the program.

Nothing here imports the engine at module load, so ``run.py`` can report a
missing engine package before any Spark process starts.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Rows of the synthetic corpus are addressed by index; each seed owns a
# disjoint block of this many rows, so two seeds never share a file.
SEED_STRIDE = 1_000_000
# Query terms id0 .. id{HEAD-1} are the head of the corpus's Zipf vocabulary.
HEAD = 50


def checkout_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --------------------------------------------------------------------------
# Spark
# --------------------------------------------------------------------------


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work_dir: str):
    """``local[<cores>]`` session whose scratch space lives in ``work_dir``.

    Python workers import the engine from the checkout, so the checkout
    root goes on their PYTHONPATH before the JVM starts."""
    root = checkout_root()
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # every JVM the launch starts keeps its temp files and no perf-data
    # file (which would land in /tmp) inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"

    from pyspark.sql import SparkSession

    n = cores()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        # the heap is committed and touched at start, so peak RSS does not
        # swing with how far the GC chose to grow it in this run
        .config("spark.driver.extraJavaOptions", "-Xms2g -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — any failure here means kill it
            proc.kill()
            proc.wait(timeout=30)


def partitions() -> int:
    """Build and merge partitions: one per core. At these corpus sizes the
    build is dominated by per-task overhead, so more partitions only add
    tasks (measured on 4 cores: 5.4 s per 4k-file build at 4, 9 s at 8)."""
    return cores()


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# Inputs
# --------------------------------------------------------------------------


def corpus_rows(seed: int, lo: int, n: int, vocab: int) -> list[tuple]:
    """Rows ``lo .. lo+n`` of the seed's block of the synthetic corpus."""
    from searchenginejava_spark.synth.gen_code_table import row_content

    base = seed * SEED_STRIDE + lo
    return [row_content(i, vocab) for i in range(base, base + n)]


def content_bytes(rows: list[tuple]) -> int:
    return sum(len(r[4].encode()) for r in rows)


def make_query(rng, vocab: int, kind: int) -> str:
    """One query of a mixed log: 1–5 terms alternating between the Zipf
    head and the tail of the corpus vocabulary, or an OOV / stopword-only
    query. The kind fixes the shape (term count, head/tail pattern) and the
    seed only picks the terms, so every seed's log costs about the same."""
    if kind == 8:
        return f"zzz_oov_{int(rng.integers(0, 10**9))} qqq_missing"
    if kind == 9:
        from searchenginejava_spark.functions.stopwords import STOPWORDS

        words = sorted(w for w in STOPWORDS if w.isalpha())
        return " ".join(rng.choice(words, size=4, replace=False))
    terms = []
    for j in range(1 + kind % 5):
        if (kind + j) % 2 == 0:
            terms.append(f"id{int(rng.integers(0, HEAD))}")
        else:
            terms.append(f"id{int(rng.integers(HEAD, vocab))}")
    return " ".join(terms)


def distinct_queries(rng, vocab: int, n: int) -> list[str]:
    """``n`` distinct queries; the i-th has kind ``i % 10``."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        q = make_query(rng, vocab, len(out) % 10)
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


# --------------------------------------------------------------------------
# Statistics
# --------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: list[float], p: int) -> float:
    """The p-th percentile (1..99) by ``statistics.quantiles`` inclusive."""
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=100, method="inclusive")[p - 1])


# --------------------------------------------------------------------------
# Results
# --------------------------------------------------------------------------


def pages_match(got: list[tuple], want: list[tuple], k: int) -> bool:
    """A top-k page equals the golden top-k (golden computed deeper than
    k so tie groups at the cut are known): same length, scores within
    1e-9 relative, and the same doc at every rank — except that within a
    group of equal scores any member of the group may take the slot."""
    if len(got) != min(k, len(want)):
        return False
    if len({d for d, _ in got}) != len(got):
        return False
    for r, (doc, score) in enumerate(got):
        wdoc, wscore = want[r]
        if abs(score - wscore) > 1e-9 * max(1.0, abs(wscore)):
            return False
        if doc != wdoc:
            ties = {d for d, s in want if abs(s - wscore) <= 1e-9 * max(1.0, abs(wscore))}
            if doc not in ties:
                return False
    return True


def doc_ids_for(rows: list[tuple], offset: int) -> list[int]:
    """The ids ``assign_doc_ids`` gives ``rows``: dense from ``offset``,
    in (repo, path, commit) order."""
    order = sorted(range(len(rows)), key=lambda i: rows[i][:3])
    ids = [0] * len(rows)
    for rank, i in enumerate(order):
        ids[i] = offset + rank
    return ids


class Oracle:
    """Golden BM25 pages from the benchmark's own copy of the corpus,
    independent of the index under test: the engine's tokenizer on the
    driver, then exhaustive scoring with terms summed in sorted order.

    It follows the engine's deletion semantics: a deleted doc leaves the
    results at once, but N, avgdl and df keep counting it until the
    index is compacted."""

    def __init__(self, k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.postings: dict[str, dict[int, int]] = {}
        self.doc_len: dict[int, int] = {}
        self.dead: set[int] = set()
        self._memo: dict = {}

    def add(self, doc_ids: list[int], rows: list[tuple]) -> None:
        from collections import Counter

        from searchenginejava_spark.functions.tokenize import tokenize_text

        for d, r in zip(doc_ids, rows):
            toks = tokenize_text(r[4], _memo=self._memo)
            self.doc_len[d] = len(toks)
            for term, tf in Counter(toks).items():
                self.postings.setdefault(term, {})[d] = tf

    def delete(self, doc_ids) -> None:
        self.dead.update(doc_ids)

    def compact(self) -> None:
        for d in self.dead:
            del self.doc_len[d]
        for plist in self.postings.values():
            for d in self.dead.intersection(plist):
                del plist[d]
        self.postings = {t: p for t, p in self.postings.items() if p}
        self.dead = set()

    @property
    def live(self) -> int:
        return len(self.doc_len) - len(self.dead)

    def topk(self, text: str, k: int) -> list[tuple]:
        import math
        from collections import Counter

        from searchenginejava_spark.functions.tokenize import tokenize_query

        n = len(self.doc_len)
        avgdl = sum(self.doc_len.values()) / n
        k1, b = self.k1, self.b
        acc: dict[int, float] = {}
        for term, qtf in sorted(Counter(tokenize_query(text)).items()):
            plist = self.postings.get(term)
            if not plist:
                continue
            df = len(plist)
            w = qtf * math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            for d, tf in plist.items():
                if d in self.dead:
                    continue
                norm = tf + k1 * (1.0 - b + b * self.doc_len[d] / avgdl)
                acc[d] = acc.get(d, 0.0) + w * (tf * (k1 + 1.0)) / norm
        return sorted(acc.items(), key=lambda x: (-x[1], x[0]))[:k]


def pages_by_query(rows) -> dict[int, list[tuple]]:
    out: dict[int, list[tuple]] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), float(r["score"]))
        )
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def remove_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# --------------------------------------------------------------------------
# Peak memory of the process tree (driver JVM + Python workers)
# --------------------------------------------------------------------------


def _tree_pss_kb(root: int) -> int:
    """Summed proportional set size (``Pss`` of ``/proc/<pid>/smaps_rollup``)
    of ``root`` and its descendants. Summed VmRSS would count a page shared
    by several processes once per process: the Python workers forked from
    one daemon, and a JVM child between fork and exec, which for a moment
    shows the whole JVM heap."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields restart after ')'
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            if pid == root:
                raise
            continue  # the process ended between the scan and the read
    return total


class RssSampler:
    """Samples the summed PSS of this process and its descendants. Each
    sample walks the page tables of a multi-GB JVM (about 15 ms on 4 cores),
    so it samples twice a second; the JVM heap is committed at start, so the
    peak moves slowly."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------------
# Tracing
# --------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the engine's layers, kept in memory and
    written when the run ends. Every span runs its Spark work under its
    own job group, so its jobs, stages (that ran tasks) and tasks are
    exact counts from ``SparkContext.statusTracker()``; a span's counts
    include those of the spans inside it.

    ``call`` runs one function in a span and forces its result with an
    action, so the lazy plan runs inside the span. ``layers`` patches
    functions in the modules the program calls them from, so that the
    program's own calls into them go through ``call``.

    A disabled tracer records nothing, sets no job group and patches
    nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._persisted: list = []  # DataFrames ``call`` persisted

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-{s.id}"

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), name, parent.id if parent else None,
            time.monotonic(), attrs=dict(attrs, jobs=0, stages=0, tasks=0),
        )
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(self._group(s), name)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(self._group(parent), parent.name)
            for key, n in self._counts(self._group(s)).items():
                s.attrs[key] += n
                if parent is not None:
                    parent.attrs[key] += s.attrs[key]

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` in a span named ``name``. A DataFrame
        result is persisted and counted, an index result has its postings
        counted; the count goes into the span's ``rows``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(name) as s:
            out = fn(*args, **kwargs)
            rows = self._force(out)
            if rows is not None:
                s.attrs["rows"] = rows
        return out

    def _force(self, out):
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            out.persist()
            self._persisted.append(out)
            return out.count()
        postings = getattr(out, "postings", None)
        if isinstance(postings, DataFrame):
            return postings.count()
        return None

    @contextmanager
    def layers(self, targets, *, release: bool = False):
        """Inside the block, every ``(module, attribute, span name)`` of
        ``targets`` is replaced by a wrapper that runs the original through
        ``call``. With ``release``, the DataFrames the wrappers persisted
        are unpersisted when the block ends."""
        if not self.enabled:
            yield
            return
        saved = []
        for module, attr, name in targets:
            real = getattr(module, attr)
            saved.append((module, attr, real))
            setattr(module, attr, self._wrap(name, real))
        start = len(self._persisted)
        try:
            yield
        finally:
            for module, attr, real in reversed(saved):
                setattr(module, attr, real)
            if release:
                for df in self._persisted[start:]:
                    df.unpersist()
                del self._persisted[start:]

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    def _counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            **s.attrs,
                        }
                    )
                    + "\n"
                )

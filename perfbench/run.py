#!/usr/bin/env python3
"""The repository benchmark: search and ingest workloads over the engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

One fresh process per run. Inputs are synthesized from --seed by
`fixtures.generate_pages` before Spark starts, and are never timed.
Every answer is checked (checks.py);
the last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`. --trace 0 prints the end-to-end metrics; --trace 1
wraps each layer's calls in spans (tracing.py), prints the per-layer
metrics and writes the spans to .perfbench/out/. Metrics, workloads and
layers are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import sys
import threading
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "golden.json")

DEFAULT_SEED = 1
BASE_PAGES = 1000       # pages in the base index
BATCH_NEW = 100         # new pages per micro-batch
BATCH_RESIGHT = 25      # re-sightings of base urls per micro-batch (20%)
# micro-batches generated per seed: a fixed number, not what the run uses,
# so that a seed gives the same pages whatever the mode and run length
MAX_BATCHES = 16
N_SHARDS, N_BUCKETS = 4, 16
# fixed, not derived from the core count, so the physical plan is the same
# on every box
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "1g"       # the session default (24g) exceeds small boxes
# task slots: fewer than the cores, so the JVM's JIT and GC threads and the
# python workers do not queue behind running tasks
SLOTS = max(1, min(2, len(os.sched_getaffinity(0)) - 1))
SETUPS = 2              # base build + Searcher, repeated; setup_s is the median
# micro-batch appends per run: into a spare set-up index in search, and the
# minimum number of cycles (run even past the deadline) in ingest
APPENDS = 3
WARMUP_QUERIES = 1      # the first query of a run pays a warm-up
INGEST_QUERIES = 2      # checked queries per ingest cycle
# a traced run reports per-layer medians, not the end-to-end ones: it makes
# fewer appends, so it takes no longer than an untraced run
TRACED_APPENDS = 2
BATCH_SIZE = 16         # queries per batch call (traced run)
K = 10

FOREIGN = (b"bw_watch.py", b"org.apache.spark.deploy.SparkSubmit")


# ------------------------------------------------------------------ host --

def _procs() -> dict[int, tuple[int, str]]:
    """pid → (parent pid, command name) of every process, from /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                head, tail = f.read().rsplit(b")", 1)
            out[int(name)] = (int(tail.split()[1]),
                              head.split(b"(", 1)[1].decode(errors="replace"))
        except (OSError, IndexError, ValueError):
            continue
    return out


def _proc_tree(root: int, procs: dict[int, tuple[int, str]]) -> set[int]:
    """root and all its descendants."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(children.get(pid, ()))
    return tree


def foreign_load() -> list[str]:
    """Processes that would contaminate timings: the bandwidth prober and
    any Spark JVM this run did not start."""
    mine = _proc_tree(os.getpid(), _procs())
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if any(m in cmd for m in FOREIGN):
            found.append(f"{name}: {cmd.replace(bytes(1), b' ')[:120]!r}")
    return found


def wait_for_quiet_host(limit_s: float = 60.0) -> None:
    deadline = time.monotonic() + limit_s
    while (found := foreign_load()):
        if time.monotonic() > deadline:
            sys.exit(f"perfbench: refusing to time under {found}")
        time.sleep(2)


class RssPeak(threading.Thread):
    """Peak memory of this process tree (driver, JVM, python workers),
    sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.parts: dict[str, int] = {}
        self._halt = threading.Event()

    def sample(self) -> None:
        total = 0
        parts: dict[str, int] = {}
        procs = _procs()
        for pid in _proc_tree(os.getpid(), procs):
            ppid, comm = procs[pid]
            # a child the JVM spawns (e.g. to run chmod) shares the JVM's
            # memory until it execs: count only the JVM and python processes
            if not (comm.startswith("python") or (
                    comm == "java" and procs.get(ppid, (0, ""))[1] != "java")):
                continue
            try:
                # PSS, not RSS: forked python workers share pages with
                # their daemon, and RSS would count those once per worker
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    rss = next(int(ln.split()[1]) for ln in f
                               if ln.startswith("Pss:")) * 1024
            except (OSError, StopIteration, ValueError):
                continue
            total += rss
            parts[comm] = parts.get(comm, 0) + rss
        if total > self.peak:
            self.peak, self.parts = total, parts

    def run(self) -> None:
        while not self._halt.wait(0.2):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


# --------------------------------------------------------------- session --

def start_session(run_dir: str):
    from ipfs_search_spark.session import get_spark
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    spark = get_spark(
        "perfbench", master=f"local[{SLOTS}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # the whole heap is committed and touched at start, so the
            # JVM's share of rss_peak_mb does not depend on when GC ran
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its python workers) to exit."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


# ---------------------------------------------------------------- inputs --

class Inputs:
    """Seeded pages from the load generator (`fixtures.generate_pages`,
    pure Python, so no Spark job runs before the timed set-up): a base
    table and numbered micro-batches, stored as parquet files that the
    engine reads like any stored pages table. Also the counts the checks
    expect: distinct non-empty urls per part."""

    spark = None  # set once the session is up

    def __init__(self, path: str, seed: int, base_pages: int):
        import datetime as dt
        import pyarrow as pa
        import pyarrow.parquet as pq
        from ipfs_search_spark.fixtures import generate_pages
        from ipfs_search_spark.functions.tokenize import tokenize_str
        self.path, self.n_batches = path, MAX_BATCHES
        os.makedirs(path)
        rows = generate_pages(n=base_pages + MAX_BATCHES * BATCH_NEW,
                              seed=seed, oversize_frac=0.0)
        parts: dict[str, list[dict]] = {"base": []}
        period = max(1, base_pages // BATCH_RESIGHT)
        nonempty: dict[str, int] = {}
        for r in rows:
            j = int(r["url"].rsplit("/", 1)[1].split(".")[0])
            if tokenize_str(r["text"]):
                nonempty[r["url"]] = j
            if j >= base_pages:
                parts.setdefault(f"b{(j - base_pages) // BATCH_NEW}",
                                 []).append(r)
                continue
            parts["base"].append(r)
            if j % period < MAX_BATCHES:
                # a later sighting of an already-indexed url: the append's
                # anti-join must drop it
                parts.setdefault(f"b{j % period}", []).append(
                    {**r, "warc_ts": r["warc_ts"] + dt.timedelta(days=30)})
        for name, part in parts.items():
            pq.write_table(pa.Table.from_pylist(part),
                           os.path.join(path, f"{name}.parquet"))
        self.rows = {name: len(part) for name, part in parts.items()}
        self.base_docs = sum(1 for j in nonempty.values() if j < base_pages)
        self.batch_docs = [0] * MAX_BATCHES
        for j in nonempty.values():
            if j >= base_pages:
                self.batch_docs[(j - base_pages) // BATCH_NEW] += 1
        self.html = [r["html"] for r in parts["base"]]
        self.text = [r["text"] for r in parts["base"]]

    def part(self, name: str):
        """Stored pages of one part: "base", or "b<n>" for micro-batch n."""
        return self.spark.read.parquet(
            os.path.join(self.path, f"{name}.parquet"))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not f.startswith(".") and not f.startswith("_"))


# --------------------------------------------------------------- the run --

class Run:
    """One workload run: the session, the inputs, the checker and the
    timings it collects."""

    def __init__(self, args, run_dir: str):
        from checks import Checker
        from tracing import Tracer, install
        self.args, self.run_dir = args, run_dir
        self.n_appends = TRACED_APPENDS if args.trace else APPENDS
        t0 = time.perf_counter()
        self.inputs = Inputs(os.path.join(run_dir, "inputs"), args.seed,
                             args.base_pages)
        t1 = time.perf_counter()
        self.spark = self.inputs.spark = start_session(run_dir)
        self.session_s = time.perf_counter() - t1
        self.notes: dict = {"inputs_s": t1 - t0,
                            "session_s": self.session_s}
        self.tracer = Tracer(self.spark, enabled=bool(args.trace))
        if args.trace:
            install(self.tracer)
        golden = None
        if os.path.exists(GOLDEN):
            with open(GOLDEN) as f:
                g = json.load(f)
            if (g["seed"], g["base_pages"]) == (args.seed, args.base_pages):
                golden = g["digests"]
        self.checker = Checker(golden=golden,
                               record={} if args.record_golden else None)
        self.builds: list[float] = []
        self.setups: list[float] = []
        self.appends: list[float] = []
        self.new_doc_ratios: list[float] = []
        self.queries: list[float] = []
        self.timed_queries: list = []  # the Query behind each self.queries
        self.layer: dict[str, tuple[float, str]] = {}
        self._query_ids = itertools.count()

    # ------------------------------------------------------------ ops --

    def setup(self, i: int):
        from ipfs_search_spark.catalog import TableIO
        from ipfs_search_spark.operators.index_build import build_index
        from ipfs_search_spark.plans.query import Searcher
        io = TableIO(self.spark, os.path.join(self.run_dir, f"index{i}"))
        base = self.inputs.part("base")
        self.tracer.op = f"setup{i}"
        t0 = time.perf_counter()
        with self.tracer.span("index_build.build"):
            stats = build_index(self.spark, base, io, n_shards=N_SHARDS,
                                n_buckets=N_BUCKETS)
        t1 = time.perf_counter()
        with self.tracer.span("query.init"):
            sx = Searcher(self.spark, io)
        t2 = time.perf_counter()
        self.builds.append(t1 - t0)
        self.setups.append(t2 - t0)
        self.checker.count(f"build {i} n_docs", stats["n_docs"],
                           self.inputs.base_docs)
        return io, sx

    def append(self, io, sx, b: int):
        """Append micro-batch b, then open a Searcher over base∪segments:
        the time until the batch is searchable."""
        from ipfs_search_spark.plans.query import Searcher
        from ipfs_search_spark.streaming.ingest_stream import (
            incremental_index_microbatch,
        )
        handle = incremental_index_microbatch(io, n_shards=N_SHARDS,
                                              n_buckets=N_BUCKETS)
        batch = self.inputs.part(f"b{b}")
        self.tracer.op = f"append{b}"
        t0 = time.perf_counter()
        with self.tracer.span("ingest_stream.append"):
            handle(batch, b)
        with self.tracer.span("query.init"):
            new = Searcher(self.spark, io)
        self.appends.append(time.perf_counter() - t0)
        self.checker.count(f"append {b} n_docs", new.n_docs,
                           sx.n_docs + self.inputs.batch_docs[b])
        self.new_doc_ratios.append(
            (new.n_docs - sx.n_docs) / self.inputs.rows[f"b{b}"])
        return new

    def search(self, sx, corpus, q, state: str, timed: bool = True):
        self.tracer.op = f"q{next(self._query_ids)}"
        t0 = time.perf_counter()
        with self.tracer.span("query.search", shape=q.shape):
            rows = sx.search([(0, q.text)], k=K, mode=q.mode).collect()
        dt = time.perf_counter() - t0
        if timed:
            self.queries.append(dt)
            self.timed_queries.append(q)
        self.checker.query(corpus, q, rows, state)
        return rows, dt

    def corpus(self, io):
        from checks import Corpus
        docs = io.read("documents").filter("status = 'ok'") \
            .select("doc_id", "text", "lang").collect()
        return Corpus([(r[0], r[1], r[2]) for r in docs])

    # ------------------------------------------------------- workloads --

    def run_setups(self):
        made = [self.setup(i) for i in range(SETUPS)]
        io, sx = made[-1]
        self.index_bytes = self.catalog_bytes(io, sx.n_docs, "base")
        return made

    def search_workload(self) -> None:
        from checks import SHAPES, QueryMix
        made = self.run_setups()
        side_io, side_sx = made[0]
        for b in range(self.n_appends):
            side_sx = self.append(side_io, side_sx, b)
        io, sx = made[-1]
        corpus = self.corpus(io)
        mix = QueryMix(corpus.oracle.df, self.args.seed)
        for q in mix.schedule(WARMUP_QUERIES):
            self.search(sx, corpus, q, "search", timed=False)
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        while time.perf_counter() < deadline or i < len(SHAPES):
            self.search(sx, corpus, mix.make(SHAPES[i % len(SHAPES)]),
                        "search")
            i += 1
        if self.args.trace:
            self.traced_extras(io, sx, corpus, mix, "search")

    def ingest_workload(self) -> None:
        from checks import SHAPES, QueryMix
        made = self.run_setups()
        io, sx = made[-1]
        corpus = self.corpus(io)
        mix = QueryMix(corpus.oracle.df, self.args.seed)
        for q in mix.schedule(WARMUP_QUERIES):
            self.search(sx, corpus, q, f"ingest-n{sx.n_docs}", timed=False)
        deadline = time.perf_counter() + self.args.seconds
        n_queries = 0
        b = 0
        while b < self.inputs.n_batches and (
                b < self.n_appends or time.perf_counter() < deadline):
            sx = self.append(io, sx, b)
            corpus = self.corpus(io)
            for _ in range(INGEST_QUERIES):
                q = mix.make(SHAPES[n_queries % len(SHAPES)])
                self.search(sx, corpus, q, f"ingest-n{sx.n_docs}")
                n_queries += 1
            b += 1
            if b == APPENDS:
                # after a fixed number of appends, so it repeats exactly
                self.index_bytes = self.catalog_bytes(io, sx.n_docs,
                                                     "segments")
        if self.args.trace:
            self.traced_extras(io, sx, corpus, mix, f"ingest-n{sx.n_docs}")

    # ------------------------------------------------------ traced run --

    def traced_extras(self, io, sx, corpus, mix, state) -> None:
        """Ops only the traced run makes: a search of each shape the
        workload's own searches did not reach, the tracing overhead, a
        16-query batch call, and in-process extract/codec throughput."""
        from checks import SHAPES
        seen = {s["shape"] for s in self.tracer.spans
                if s["name"] == "query.search"}
        for shape in SHAPES:
            if shape not in seen:
                self.search(sx, corpus, mix.make(shape), state, timed=False)
        # tracing overhead: the last two timed searches again, spans off
        on = self.queries[-2:]
        self.tracer.enabled = False
        off = [self.search(sx, corpus, q, state, timed=False)[1]
               for q in self.timed_queries[-2:]]
        self.tracer.enabled = True
        self.layer["trace.overhead_s"] = (median(on) - median(off), "s")
        self.batch_call(sx, corpus, mix, state)
        self.extract_throughput()
        self.codec_throughput(io)

    def batch_call(self, sx, corpus, mix, state) -> None:
        """One search call answering BATCH_SIZE queries (queries are rows);
        each answer is checked like a single search's."""
        qs = mix.schedule(BATCH_SIZE)
        self.tracer.op = "batch"
        t0 = time.perf_counter()
        with self.tracer.span("query.batch"):
            rows = sx.search(list(enumerate(q.text for q in qs)),
                             k=K).collect()
        wall = time.perf_counter() - t0
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        for i, q in enumerate(qs):
            if q.mode == "or":  # the batch call runs every query as OR
                self.checker.query(corpus, q, by_q.get(i, []), state)
        self.layer["query.batch.queries_per_s"] = (BATCH_SIZE / wall, "1/s")

    def extract_throughput(self, n: int = 400, reps: int = 3) -> None:
        import pandas as pd
        from ipfs_search_spark.functions.extract import extract_series
        html, text = self.inputs.html[:n], self.inputs.text[:n]
        series = pd.Series(html)
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            out = extract_series(series)
            times.append(time.perf_counter() - t0)
        bad = [i for i, (got, want) in enumerate(zip(out, text))
               if want and got != want]
        self.checker.op("extract_series", [f"{len(bad)} pages differ"]
                        if bad else [])
        size = sum(len(h or b"") for h in html)
        self.layer["extract.mb_per_s"] = (size / median(times) / 1e6, "MB/s")

    def codec_throughput(self, io, rows: int = 2000, reps: int = 3) -> None:
        """decode_block then encode_blocks_bulk over stored postings; the
        re-encoded blocks must equal the stored ones byte for byte."""
        import numpy as np
        import pyarrow.parquet as pq
        from ipfs_search_spark import BLOCK_SIZE
        from ipfs_search_spark.functions.codec import (
            decode_block, encode_blocks_bulk,
        )
        stored = pq.read_table(os.path.join(io.root, "postings"),
                               columns=["blocks"]).slice(0, rows)
        lists = stored["blocks"].to_pylist()
        size = sum(len(b["doc_ids"]) + len(b["tfs"]) + len(b["dls"])
                   for blocks in lists for b in blocks)
        dec_t, enc_t = [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            decoded = [[decode_block(b) for b in blocks] for blocks in lists]
            dec_t.append(time.perf_counter() - t0)
            ids = np.concatenate([d[0] for bl in decoded for d in bl])
            tfs = np.concatenate([d[1] for bl in decoded for d in bl])
            dls = np.concatenate([d[2] for bl in decoded for d in bl])
            bounds = np.zeros(len(lists) + 1, dtype=np.int64)
            np.cumsum([sum(b["n"] for b in bl) for bl in lists],
                      out=bounds[1:])
            t0 = time.perf_counter()
            encoded = encode_blocks_bulk(bounds, ids, tfs, dls,
                                         block_size=BLOCK_SIZE)
            enc_t.append(time.perf_counter() - t0)
        same = all(
            [(e["doc_ids"], e["tfs"], e["dls"]) for e in enc] ==
            [(s["doc_ids"], s["tfs"], s["dls"]) for s in orig]
            for enc, orig in zip(encoded, lists))
        self.checker.op("codec round trip", [] if same else
                        ["re-encoded blocks differ from stored blocks"])
        self.layer["codec.decode_mb_per_s"] = (size / median(dec_t) / 1e6,
                                               "MB/s")
        self.layer["codec.encode_mb_per_s"] = (size / median(enc_t) / 1e6,
                                               "MB/s")

    def catalog_bytes(self, io, n_docs: int, layout: str) -> float:
        """Bytes on disk per indexed doc; per-table figures go to the
        per-layer metrics."""
        tables = ["documents", "postings", "term_stats"]
        if layout == "segments":
            tables += ["posting_segments", "segment_term_stats",
                       "segment_doc_stats"]
        sizes = {t: dir_bytes(os.path.join(io.root, t)) for t in tables}
        for t in ("documents", "postings", "term_stats"):
            self.layer[f"catalog.{t}_bytes_per_doc"] = (sizes[t] / n_docs,
                                                        "B")
        return sum(sizes.values()) / n_docs

    # ---------------------------------------------------------- output --

    def end_to_end(self, rss_peak: int) -> dict:
        n_docs = self.inputs.base_docs
        return {
            "setup_s": (self.session_s + median(self.setups), "s"),
            "query_p50_s": (median(self.queries), "s"),
            # the first build pays the JVM's warm-up: post-warm-up builds
            "build_docs_per_s": (n_docs / median(self.builds[1:]), "1/s"),
            "append_p50_s": (median(self.appends), "s"),
            "index_bytes_per_doc": (self.index_bytes, "B"),
            "rss_peak_mb": (rss_peak / 2 ** 20, "MB"),
        }

    def per_layer(self) -> dict:
        from checks import SHAPES
        from tracing import child_time_per, phase_metrics
        spans = self.tracer.spans
        out = {"session.start_s": (self.session_s, "s")}

        def named(*names):
            return [s for s in spans if s["name"] in names]
        for t in ("documents", "postings", "term_stats"):
            out.update(phase_metrics(named(f"index_build.{t}"),
                                     f"index_build.{t}"))
        out.update(phase_metrics(named("ingest_stream.append"),
                                 "ingest_stream.append"))
        out["ingest_stream.append.new_doc_ratio"] = (
            median(self.new_doc_ratios), "ratio")
        out.update(phase_metrics(named("query.init"), "query.init"))
        single = named("query.search")
        out.update(phase_metrics(single, "query.search"))
        for shape in SHAPES:
            out.update(phase_metrics(
                [s for s in single if s["shape"] == shape],
                f"query.search.{shape}", ("jobs", "stages", "driver_s")))
        out["query.vocab_s"] = (child_time_per(spans, "query.search",
                                               "query.vocab."), "s")
        out["parser.parse_s"] = (child_time_per(spans, "query.search",
                                                "parser."), "s")
        writes = [s for s in spans if s["name"].startswith(
            ("index_build.documents", "index_build.postings",
             "index_build.term_stats", "catalog.write."))]
        out.update(phase_metrics(writes, "catalog.write", ("driver_s",)))
        out.update(phase_metrics(
            [s for s in spans if s["name"].startswith("catalog.append.")],
            "catalog.append", ("driver_s",)))
        out.update(phase_metrics(named("catalog.write_rows"),
                                 "catalog.write_rows", ("wall_s",)))
        out.update(self.layer)
        return out


# ------------------------------------------------------------------ main --

def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("search", "ingest"))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--base-pages", type=int, default=BASE_PAGES,
                   help="base index size (the self-tests use a tiny one)")
    p.add_argument("--record-golden", action="store_true",
                   help="write this run's top-k digests to golden.json")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ipfs_search_spark")):
        print("perfbench: run from a checkout of the repository "
              "(ipfs_search_spark/ not found)", file=sys.stderr)
        return 2
    wait_for_quiet_host()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    # python workers import the engine from this checkout; every temp
    # file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    sys.path.insert(0, ROOT)
    rss = RssPeak()
    rss.start()
    run = None
    try:
        run = Run(args, run_dir)
        t0 = time.perf_counter()
        getattr(run, f"{args.workload}_workload")()
        run.notes["workload_s"] = time.perf_counter() - t0
        rss.stop()
        if args.trace:
            run.tracer.write(os.path.join(
                WORK, "out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
        metrics = (run.per_layer() if args.trace
                   else run.end_to_end(rss.peak))
        if args.record_golden:
            _record_golden(args, run.checker.record)
    finally:
        if run is not None:
            stop_session(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    ck = run.checker
    tail = None
    if run.queries:
        from checks import tail_percentile
        tail = tail_percentile(run.queries)
    print(json.dumps({"notes": run.notes, "rss_parts": rss.parts,
                      "builds": run.builds,
                      "setups": run.setups, "appends": run.appends,
                      "queries": run.queries, "query_tail": tail,
                      "failures": ck.failures[:20]}), file=sys.stderr)
    print(json.dumps({
        "correct": ck.failed == 0,
        "attempted": ck.attempted,
        "failed": ck.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


def _record_golden(args, digests: dict) -> None:
    g = {"seed": args.seed, "base_pages": args.base_pages, "digests": {}}
    if os.path.exists(GOLDEN):
        with open(GOLDEN) as f:
            old = json.load(f)
        if (old["seed"], old["base_pages"]) == (args.seed, args.base_pages):
            g = old
    g["digests"].update(digests)
    with open(GOLDEN, "w") as f:
        json.dump(g, f, indent=0, sort_keys=True)


if __name__ == "__main__":
    sys.exit(main())

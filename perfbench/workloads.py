"""The two timed workloads, `build` and `serve`.

Each workload is one closed loop with one client. It calls only public
functions of the package, with their default arguments, checks every answer
against the oracle and returns the end-to-end metrics. The set-up functions
are shared with the traced runs (traced.py).
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from contextlib import contextmanager

import oracle as O
from inputs import QUERY_CYCLE, corpus_table, sample_queries, write_files

SIZES = {
    # build_docs keeps the head term's df above BuildConfig().hot_df_threshold
    # (100k), so the salted aggregate runs; serve_docs keeps the serve run's
    # one build short. Single-query latency falls by about a third from a
    # fresh session's first cycle of queries to its third, while the JVM is
    # still compiling the query path, so serve warms up with two cycles
    # before it times any.
    "full": dict(build_docs=128_000, serve_docs=16_000, files=16,
                 setup_passes=3, warmup_cycles=2, single_queries=40,
                 traced_queries=3,
                 gate_docs=400, gate_lines=6_000,
                 update_base_docs=2_000, update_batch_docs=200),
    # smoke-test scale: every code path, seconds per workload
    "tiny": dict(build_docs=3_000, serve_docs=2_000, files=4,
                 setup_passes=2, warmup_cycles=1, single_queries=20,
                 traced_queries=1,
                 gate_docs=80, gate_lines=600,
                 update_base_docs=300, update_batch_docs=40),
}
MIN_LEN, MAX_LEN = 8, 16  # tokens a document

K = 10


class Run:
    """State shared by a workload run: session, sizes, work dir, counts."""

    def __init__(self, spark, args, sizes, work):
        self.spark, self.args, self.sizes, self.work = spark, args, sizes, work
        self.attempted = 0
        self.failed = 0
        self.info: dict = {}

    @contextmanager
    def operation(self, what: str):
        """One timed call: an exception from the engine is a failed
        operation, counted and printed, not the end of the run."""
        try:
            yield
        except Exception:  # noqa: BLE001 - any engine error fails the op
            self.attempted += 1
            self.failed += 1
            print(f"FAILED {what}:\n{traceback.format_exc()}", flush=True)

    def check(self, what: str, problem: str | None) -> None:
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            print(f"MISMATCH {what}: {problem}", flush=True)

    def corpus(self, n_docs: int, name: str):
        table = corpus_table(self.args.seed, n_docs, MIN_LEN, MAX_LEN)
        files = write_files(table, os.path.join(self.work, name),
                            self.sizes["files"])
        self.info[f"{name}_docs"] = n_docs
        return table, files


def content_bytes(table) -> int:
    return sum(len(c.as_py().encode()) for c in table.column("content"))


def stored_bytes(path: str) -> int:
    """Bytes of the parquet/json data files under `path` (the local file
    system's .crc checksums and _SUCCESS markers excluded)."""
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
    return total


def index_bytes(out_dir: str) -> int:
    return sum(stored_bytes(os.path.join(out_dir, p))
               for p in ("index", "doc_stats", "collection_stats"))


def timed(op, i: int) -> float:
    """Wall time of the call `op(i)`."""
    t = time.perf_counter()
    op(i)
    return time.perf_counter() - t


def timed_loop(seconds: float, op) -> list[float]:
    """Run `op(i)` until `seconds` have passed, at least once; returns the
    wall time of each call."""
    times, t0 = [], time.perf_counter()
    while not times or time.perf_counter() - t0 < seconds:
        times.append(timed(op, len(times)))
    return times


def build_and_write(spark, files, out_dir):
    from information_retrieval_project_spark.index.build import (
        build_index,
        write_index,
    )

    idx, ds, cs = build_index(spark.read.parquet(*files))
    write_index(idx, ds, cs, out_dir)


def check_build(run: Run, out_dir: str, want: dict, label: str) -> None:
    spark = run.spark
    cs = spark.read.parquet(os.path.join(out_dir, "collection_stats")).collect()[0]
    got_df = dict(spark.read.parquet(os.path.join(out_dir, "index"))
                  .select("term", "df").collect())
    problem = None
    if (cs["n_docs"], cs["total_terms"]) != (want["n_docs"], want["total_terms"]):
        problem = (f"n_docs/total_terms {cs['n_docs']}/{cs['total_terms']}, "
                   f"expected {want['n_docs']}/{want['total_terms']}")
    else:
        exp = want["df"]
        bad = sorted(t for t in exp.keys() | got_df.keys()
                     if got_df.get(t) != exp.get(t))
        if bad:
            problem = (f"df differs on {len(bad)} terms, e.g. {bad[0]!r}: "
                       f"{got_df.get(bad[0])} vs {exp.get(bad[0])}")
    run.check(label, problem)


def oracle_for(run: Run, files, name: str, queries=()) -> dict:
    """Expected statistics and top-k answers; their time is kept out of
    every metric."""
    t = time.perf_counter()
    want = O.expected_answers(run.spark, files, list(queries),
                              os.path.join(run.work, name), K)
    if run.args.corrupt_oracle:
        top = max(want["df"], key=want["df"].get)
        want["df"][top] += 1
        O.corrupt(want["answers"])
    run.info["oracle_s"] = run.info.get("oracle_s", 0.0) + time.perf_counter() - t
    return want


# --------------------------------------------------------------------- build

def build_setup(run: Run, tracer=None):
    """Corpus, then one untimed build and write of it: Python workers,
    imports, heap growth and the JIT are paid here, so the timed builds run
    warm. Set-up time is that warm-up build; a traced run records it as the
    `index.build` span."""
    table, files = run.corpus(run.sizes["build_docs"], "corpus")
    run.spark.catalog.clearCache()
    out = os.path.join(run.work, "warm_idx")
    t = time.perf_counter()
    if tracer is not None:
        with tracer.span("index.build"):
            build_and_write(run.spark, files, out)
    else:
        build_and_write(run.spark, files, out)
    warm_s = time.perf_counter() - t
    run.info["warmup_build_s"] = warm_s
    return table, files, warm_s, oracle_for(run, files, "corpus")


def build_workload(run: Run) -> dict:
    table, files, setup_s, want = build_setup(run)
    out = os.path.join(run.work, "idx")
    times = []

    def build(i):
        run.spark.catalog.clearCache()
        t = time.perf_counter()
        with run.operation(f"build {i}"):
            build_and_write(run.spark, files, out)
            times.append(time.perf_counter() - t)
            check_build(run, out, want, f"build {i}")

    timed_loop(run.args.seconds, build)
    run.spark.catalog.clearCache()
    run.info["build_s"] = times
    return {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(times),
        "index_bytes_per_content_byte": index_bytes(out) / content_bytes(table),
    }


# --------------------------------------------------------------------- serve

class Served:
    """A loaded serving handle: stored index, doc_stats and stats."""

    def __init__(self, idx, ds, cs_df, buckets: int = 32, out_dir: str = ""):
        cs = cs_df.collect()[0]
        self.idx, self.ds, self.buckets, self.out_dir = idx, ds, buckets, out_dir
        self.n_docs, self.avgdl = cs["n_docs"], cs["avgdl"]

    @classmethod
    def load(cls, spark, out_dir: str) -> "Served":
        from information_retrieval_project_spark.index.build import (
            read_index,
            read_index_meta,
        )

        return cls(*read_index(spark, out_dir),
                   read_index_meta(spark, out_dir)["term_buckets"], out_dir)

    def query(self, spark, terms):
        from information_retrieval_project_spark.queryexec.wand import (
            bm25_topk_compressed,
        )

        return bm25_topk_compressed(spark, self.idx, self.ds, self.n_docs,
                                    self.avgdl, terms, term_buckets=self.buckets)

    def batch(self, spark, queries):
        from information_retrieval_project_spark.queryexec.wand import (
            bm25_topk_batch_compressed,
        )

        return bm25_topk_batch_compressed(
            spark, self.idx, self.ds, self.n_docs, self.avgdl,
            dict(enumerate(queries)), term_buckets=self.buckets)


def hits(rows) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]


def serve_setup(run: Run):
    """Corpus, then build and write the index once (this also warms the
    session), then the set-up passes: load the stored index, repeated; then
    untimed warm-up cycles of single queries. Set-up time is the build,
    the median load and the warm-up."""
    s = run.sizes
    table, files = run.corpus(s["serve_docs"], "corpus")
    out = os.path.join(run.work, "idx")
    t = time.perf_counter()
    build_and_write(run.spark, files, out)
    build_s = time.perf_counter() - t
    run.spark.catalog.clearCache()
    loads = []
    for _ in range(s["setup_passes"]):
        t = time.perf_counter()
        served = Served.load(run.spark, out)
        loads.append(time.perf_counter() - t)
    warm = [timed(lambda _, q=q: served.query(run.spark, q).collect(), 0)
            for q in sample_queries(table, run.args.seed + 1,
                                    s["warmup_cycles"] * QUERY_CYCLE)]
    run.info.update(index_build_s=build_s, load_passes_s=loads, warmup_s=warm)
    return table, files, build_s + statistics.median(loads) + sum(warm), served


def hot_share(want, queries) -> float:
    from information_retrieval_project_spark.index.build import BuildConfig

    hot = BuildConfig().hot_df_threshold
    return sum(any(want["df"].get(t, 0) > hot for t in q)
               for q in queries) / max(1, len(queries))


def serve_workload(run: Run) -> dict:
    table, files, setup_s, served = serve_setup(run)
    spark, seed, s = run.spark, run.args.seed, run.sizes
    singles = sample_queries(table, seed, s["single_queries"])
    want = oracle_for(run, files, "corpus", singles)
    answers = want["answers"]

    def single(i):
        i %= len(singles)
        with run.operation(f"query {singles[i]}"):
            rows = served.query(spark, singles[i]).collect()
            run.check(f"query {singles[i]}", O.rank_identical(hits(rows), answers[i]))

    # whole cycles of query lengths, at least two, so every run's median
    # sees the same mix
    lat, t0 = [], time.perf_counter()
    while len(lat) < 2 * QUERY_CYCLE or time.perf_counter() - t0 < run.args.seconds:
        lat += [timed(single, len(lat) + j) for j in range(QUERY_CYCLE)]
    used = [singles[i % len(singles)] for i in range(len(lat))]
    run.info.update(single_s=lat, samples=len(lat),
                    hot_query_share=hot_share(want, used))
    return {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(lat),
        "index_bytes_per_content_byte":
            index_bytes(served.out_dir) / content_bytes(table),
    }

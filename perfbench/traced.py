"""The traced runs: per-layer metrics from spans and the status store.

`build` traces the index build one layer at a time (tokenize, postings,
write), the posting codec, and a sweep of the entry_queries gates over small
seeded tables. `serve` traces the query layers (bucket pruning, the
compressed top-k, the batch, the top-k operator) and then the write path:
an incremental corpus update, the served read after it, `merge_index` and
`append_positions`. Every answer is checked against an oracle.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import oracle as O
import workloads as W
from inputs import QUERY_CYCLE, corpus_table, sample_queries, write_files
from trace import Tracer, plan_nodes


def files_by_inode(path: str) -> dict[int, int]:
    """inode -> size of every regular file under `path`; a hard link to an
    existing file keeps its inode, so only new inodes are bytes written."""
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(root, n))
            out[st.st_ino] = st.st_size
    return out


def written_since(before: dict[int, int], path: str) -> tuple[int, int]:
    after = files_by_inode(path)
    new = [size for ino, size in after.items() if ino not in before]
    return sum(new), len(new)


# bench.py's nine headline gates, then the compressed, batch-served and
# sharded serving gates
GATES = [
    "bm25_topk", "tfidf_cosine", "term_df", "minhash_band_pairs",
    "minhash_band_pairs_fast", "token_stats", "cosine_scores",
    "pricing_summary", "top_customers", "bm25_topk_compressed",
    "bm25_topk_batch_served", "bm25_topk_sharded",
]
DECODE_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow",
                "ArrowEvalPython", "BatchEvalPython")


def decode_rows(df) -> int:
    """Rows the Python decode nodes of `df`'s executed plan returned."""
    return sum(mx.get("pythonNumRowsReceived", 0)
               for name, mx in plan_nodes(df) if name in DECODE_NODES)


def decode_seconds(rows) -> float:
    """Time `decode_postings` takes, in this process, over the posting lists
    of the index rows `rows`: the decode work a query over them does."""
    from information_retrieval_project_spark.index.codec import decode_postings

    blobs = [r["postings"] for r in rows.select("postings").collect()]
    t = time.perf_counter()
    for b in blobs:
        decode_postings(b)
    return time.perf_counter() - t


def docs_scored(df) -> int:
    """Rows entering the top-k operator of `df`'s executed plan."""
    nodes = plan_nodes(df)
    for i, (name, _) in enumerate(nodes):
        if name == "TakeOrderedAndProject":
            return next((mx["numOutputRows"] for _, mx in nodes[i + 1:]
                         if "numOutputRows" in mx), 0)
    return 0


# ------------------------------------------------------------------- build

def build_traced(run: W.Run, m: dict) -> None:
    from information_retrieval_project_spark.index.build import (
        BuildConfig,
        build_postings,
        collection_stats,
        detect_hot_terms,
        doc_stats,
        tokenize_tf,
        with_doc_id,
        write_index,
    )

    spark, cfg = run.spark, BuildConfig()
    tr = Tracer(spark)
    # the warm-up build is one span: the build's jobs, stages and tasks
    table, files, _, want = W.build_setup(run, tr)
    c = tr.spans[-1].counters
    m["index.build.jobs"] = c["jobs"]
    m["index.build.stages"] = c["stages"]
    m["index.build.tasks"] = c["tasks"]

    # the same build as build_index runs it, warm, one layer at a time, each
    # materialized before the next; hot terms are estimated from a doc
    # sample, as build_index does
    spark.catalog.clearCache()
    out = os.path.join(run.work, "idx_layers")
    tok = (cfg.strategy, cfg.stem, cfg.stopwords)
    with tr.span("index.build.layers") as whole:
        ids = with_doc_id(spark.read.parquet(*files))
        with tr.span("index.build.tokenize_tf") as sp:
            tf = tokenize_tf(ids, *tok).persist()
            m["index.build.tokenize_tf_rows"] = tf.count()
        m["index.build.tokenize_tf_s"] = sp.wall_s
        with tr.span("index.build.build_postings") as sp:
            sample = cfg.hot_detection_sample
            if 0 < sample < 1:
                hot = detect_hot_terms(tokenize_tf(
                    ids.sample(fraction=sample, seed=42), *tok), cfg, scale=sample)
                idx = build_postings(tf, cfg, hot=hot).persist()
            else:
                idx = build_postings(tf, cfg).persist()
            idx.count()
        m["index.build.build_postings_s"] = sp.wall_s
        m["index.build.build_postings_shuffle_bytes"] = sp.counters["shuffle_write_bytes"]
        m["index.build.build_postings_spill_bytes"] = sp.counters["spill_bytes"]
        with tr.span("index.build.write_index") as sp:
            ds = doc_stats(tf)
            write_index(idx, ds, collection_stats(ds), out)
        m["index.build.write_index_s"] = sp.wall_s
    m["index.build.write_index_bytes"] = W.index_bytes(out)
    m["index.build.cpu_util"] = (whole.counters["cpu_s"]
                                 / (whole.wall_s * run.args.cores))
    W.check_build(run, out, want, "layered build")
    spark.catalog.clearCache()

    codec_traced(run, out, m)
    gates_traced(run, tr, m)
    m["trace.overhead_ratio"] = tr.overhead_ratio()
    run.tracer = tr


def codec_traced(run: W.Run, out: str, m: dict) -> None:
    from information_retrieval_project_spark.index.codec import (
        decode_postings,
        encode_postings,
    )

    blobs = [r["postings"] for r in
             run.spark.read.parquet(os.path.join(out, "index"))
             .select("postings").collect()]
    t = time.perf_counter()
    decoded = [decode_postings(b) for b in blobs]
    dec_s = time.perf_counter() - t
    t = time.perf_counter()
    again = [encode_postings(d, f) for d, f in decoded]
    enc_s = time.perf_counter() - t
    n = sum(len(d) for d, _ in decoded)
    run.check("codec round trip", None if again == blobs else
              "re-encoded postings differ from the stored bytes")
    m["index.codec.decode_postings_per_s"] = n / dec_s
    m["index.codec.encode_postings_per_s"] = n / enc_s
    m["index.codec.bytes_per_posting"] = sum(len(b) for b in blobs) / n


GATE_WORDS = ("join hash row batch scan column customer filter small slow "
              "merge order vector line table data agg value key stream window "
              "a spark part group big sort query fast the").split()


def gate_tables(seed: int, n_docs: int, n_lines: int, out: str) -> None:
    """Small seeded stand-ins for the test tables the gates read."""
    rng = np.random.default_rng((seed, 4242))
    os.makedirs(out, exist_ok=True)
    words = np.array(GATE_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(n))])
             for n in rng.integers(10, 100, n_docs)]
    for i in range(0, n_docs, 20):  # near-duplicates for the minhash gates
        texts[i] = texts[(i + 7) % n_docs] + " dup"
    langs = np.array(["en", "fr", "es", "zh", "de"])
    tables = {
        "documents": pa.table({
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.integers(0, 5, n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }),
        "embeddings": pa.table({
            "vec_id": np.arange(n_docs, dtype=np.int64),
            "embedding": list(rng.normal(0, 0.1, (n_docs, 64)).astype(np.float32)),
            "label": rng.integers(0, 10, n_docs).astype(np.int32),
        }),
    }
    n_orders, n_cust = n_lines // 4, max(1, n_lines // 40)
    day = np.datetime64("1995-01-01")
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines),
        "l_partkey": rng.integers(0, 200, n_lines),
        "l_suppkey": rng.integers(0, 10, n_lines),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
        "l_shipdate": day + rng.integers(0, 2000, n_lines).astype("timedelta64[D]"),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["F", "O"])[rng.integers(0, 2, n_orders)],
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, n_orders), 2),
        "o_orderdate": day + rng.integers(0, 2000, n_orders).astype("timedelta64[D]"),
        "o_orderpriority": np.array(["1-URGENT", "3-MEDIUM"])[rng.integers(0, 2, n_orders)],
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(["FURNITURE", "BUILDING"])[rng.integers(0, 2, n_cust)],
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def gate_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    g, w = _canon(got), _canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, rtol=0, atol=1e-9)
    except AssertionError as e:
        return str(e).replace("\n", " ")[:300]
    return None


def gates_traced(run: W.Run, tr: Tracer, m: dict) -> None:
    from information_retrieval_project_spark import entry_queries as EQ

    s = run.sizes
    sf = os.path.join(run.work, "gates")
    gate_tables(run.args.seed, s["gate_docs"], s["gate_lines"], sf)
    con = duckdb.connect()
    for t in ("documents", "embeddings", "lineitem", "orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    order = list(GATES)
    np.random.default_rng(run.args.seed).shuffle(order)
    for name in order:
        run.spark.catalog.clearCache()
        with tr.span(f"entry_queries.{name}") as sp:
            got = EQ.QUERIES[name](run.spark, sf).toPandas()
        m[f"entry_queries.{name}_s"] = sp.wall_s
        m[f"entry_queries.{name}_jobs"] = sp.counters["jobs"]
        sql = EQ.ORACLE_SQL.get(name)
        if sql is None:  # registered rows-only: no oracle exists for it
            continue
        want = con.sql(sql).df()
        if run.args.corrupt_oracle and len(want):
            want = want.iloc[1:]
        run.check(f"gate {name}", gate_mismatch(got, want))
    run.spark.catalog.clearCache()


# ------------------------------------------------------------------- serve

def serve_traced(run: W.Run, m: dict) -> None:
    from information_retrieval_project_spark.index.bucketing import prune_terms

    spark, s = run.spark, run.sizes
    table, files, _, served = W.serve_setup(run)
    queries = sample_queries(table, run.args.seed, s["traced_queries"])
    batch = sample_queries(table, run.args.seed + 2, QUERY_CYCLE)
    want = W.oracle_for(run, files, "corpus", queries + batch)
    answers, batch_answers = want["answers"][:len(queries)], want["answers"][len(queries):]
    tr = Tracer(spark)

    acc: dict[str, list[float]] = {}
    for i in range(len(queries)):
        q = queries[i]
        with tr.span("index.bucketing.prune_terms", request_id=i) as sp:
            rows = prune_terms(served.idx, q, served.buckets)
        acc.setdefault("prune_jobs", []).append(sp.counters["jobs"])
        with tr.span("index.bucketing.scan", request_id=i) as sp:
            rows.write.format("noop").mode("overwrite").save()
        acc.setdefault("rows_read", []).append(sp.counters["input_records"])
        acc.setdefault("bytes_read", []).append(sp.counters["input_bytes"])

        with tr.span("queryexec.wand.bm25_topk_compressed", request_id=i) as sp:
            df = served.query(spark, q)
            got = df.collect()
        run.check(f"query {q}", O.rank_identical(W.hits(got), answers[i]))
        c = sp.counters
        for key in ("jobs", "stages", "tasks", "sched_gap_s"):
            acc.setdefault(key, []).append(c[key])
        acc.setdefault("shuffle", []).append(
            c["shuffle_read_bytes"] + c["shuffle_write_bytes"])
        acc.setdefault("decoded", []).append(decode_rows(df))
        acc.setdefault("per_hit", []).append(docs_scored(df) / max(1, len(got)))
        # the query's final stage runs its top-k operator (queryexec.bm25.topk)
        acc.setdefault("topk", []).append(c["last_stage_s"])

    med = {k: statistics.median(v) for k, v in acc.items()}
    m["index.bucketing.prune_terms_jobs"] = med["prune_jobs"]
    m["index.bucketing.index_rows_read_per_query"] = med["rows_read"]
    m["index.bucketing.bytes_read_per_query"] = med["bytes_read"]
    for key in ("jobs", "stages", "tasks"):
        m[f"queryexec.wand.bm25_topk_compressed_{key}"] = med[key]
    m["queryexec.wand.bm25_topk_compressed_shuffle_bytes"] = med["shuffle"]
    m["queryexec.wand.postings_decoded_per_query"] = med["decoded"]
    m["queryexec.wand.docs_scored_per_hit"] = med["per_hit"]
    m["queryexec.wand.sched_gap_s"] = med["sched_gap_s"]
    m["queryexec.bm25.topk_s"] = med["topk"]

    served.batch(spark, sample_queries(table, run.args.seed + 1, QUERY_CYCLE)).collect()
    with tr.span("queryexec.wand.bm25_topk_batch_compressed") as sp:
        df = served.batch(spark, batch)
        rows = df.collect()
    for j, q in enumerate(batch):
        got = W.hits([r for r in rows if r["query_id"] == j])
        run.check(f"batch query {q}", O.rank_identical(got, batch_answers[j]))
    m["queryexec.wand.batch_jobs"] = sp.counters["jobs"]
    m["queryexec.wand.batch_postings_decoded_per_query"] = decode_rows(df) / len(batch)
    union = sorted({t for q in batch for t in q})
    m["queryexec.wand.batch_decode_share"] = decode_seconds(
        prune_terms(served.idx, union, served.buckets)) / sp.wall_s
    m["queryexec.wand.batch_sched_gap_s"] = sp.counters["sched_gap_s"]
    spark.catalog.clearCache()

    update_traced(run, tr, m)
    m["trace.overhead_ratio"] = tr.overhead_ratio()
    run.tracer = tr


def update_traced(run: W.Run, tr: Tracer, m: dict) -> None:
    """Writes beside reads on a small store: a base snapshot, one batch of
    new files committed through the corpus update and read back, then
    merge_index and append_positions on the next batch."""
    from information_retrieval_project_spark.index.build import (
        build_postings,
        tokenize_tf,
        with_doc_id,
    )
    from information_retrieval_project_spark.index.merge import merge_index
    from information_retrieval_project_spark.index.positions import (
        append_positions,
    )
    from information_retrieval_project_spark.streaming.incremental import (
        current_snapshot_dir,
        incremental_corpus_update,
        read_served_index,
    )
    spark, s, seed = run.spark, run.sizes, run.args.seed
    src = os.path.join(run.work, "update_src")
    store = os.path.join(run.work, "update_store")
    base = corpus_table(seed, s["update_base_docs"], W.MIN_LEN, W.MAX_LEN)
    b1, b2 = (corpus_table(seed, s["update_batch_docs"], W.MIN_LEN, W.MAX_LEN,
                           start=s["update_base_docs"] + k * s["update_batch_docs"])
              for k in (0, 1))
    live = write_files(base, src, 4, prefix="base")
    incremental_corpus_update(spark, src, store)

    idx_store = os.path.join(store, "index_store")
    pos_store = os.path.join(store, "positions_store")
    before_idx, before_pos = files_by_inode(idx_store), files_by_inode(pos_store)
    live += write_files(b1, src, 1, prefix="batch1")
    with tr.span("streaming.incremental.incremental_corpus_update") as sp:
        incremental_corpus_update(spark, src, store)
    m["streaming.incremental.update_s"] = sp.wall_s
    m["streaming.incremental.jobs"] = sp.counters["jobs"]
    idx_b, idx_n = written_since(before_idx, idx_store)
    pos_b, pos_n = written_since(before_pos, pos_store)
    m["streaming.incremental.index_store_bytes_written"] = idx_b
    m["streaming.incremental.positions_store_bytes_written"] = pos_b
    m["streaming.incremental.files_written"] = idx_n + pos_n

    q = sample_queries(b1, seed, 1)[0]
    answer = W.oracle_for(run, live, "update_live", [q])["answers"][0]
    with tr.span("streaming.incremental.read_served_index") as sp:
        rows = W.Served(*read_served_index(spark, idx_store)).query(spark, q).collect()
    m["streaming.incremental.read_served_index_s"] = sp.wall_s
    run.check(f"query after update {q}", O.rank_identical(W.hits(rows), answer))

    # merge_index and append_positions on the next batch, against copies
    b2_files = write_files(b2, os.path.join(run.work, "update_b2"), 1)
    delta_corpus = with_doc_id(spark.read.parquet(*b2_files))
    delta = build_postings(tokenize_tf(delta_corpus)).persist()
    delta_terms = delta.count()
    merged_dir = os.path.join(run.work, "merged")
    with tr.span("index.merge.merge_index") as sp:
        merge_index(spark.read.parquet(os.path.join(
            current_snapshot_dir(idx_store), "index")), delta
        ).write.parquet(merged_dir)
    rewritten = sum(pq.read_metadata(os.path.join(merged_dir, f)).num_rows
                    for f in os.listdir(merged_dir) if f.endswith(".parquet"))
    m["index.merge.merge_index_s"] = sp.wall_s
    m["index.merge.rows_rewritten"] = rewritten
    m["index.merge.terms_touched_ratio"] = delta_terms / rewritten
    delta.unpersist()

    pos_copy = os.path.join(run.work, "positions_copy")
    shutil.copytree(pos_store, pos_copy)
    before = files_by_inode(pos_copy)
    with tr.span("index.positions.append_positions") as sp:
        append_positions(spark, pos_copy, new_docs_corpus=delta_corpus)
    m["index.positions.append_positions_s"] = sp.wall_s
    m["index.positions.bytes_written"] = written_since(before, pos_copy)[0]
    spark.catalog.clearCache()

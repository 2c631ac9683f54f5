"""Expected answers computed outside the program under test.

Tokenization, tf, document lengths, df and BM25 top-k come from DuckDB over
the same corpus parquet files the engine reads. The doc_id of a row is
Spark's built-in ``xxhash64(repo, path, commit)``, computed by plain Spark
SQL, not by the package. BM25 uses the frozen semantics: k1=1.2, b=0.75,
idf = ln(1 + (N - df + 0.5) / (df + 0.5)), ties broken by doc_id ascending.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

K1, B = 1.2, 0.75
TOL = 1e-9


def _files_sql(files: list[str]) -> str:
    return "[" + ", ".join(f"'{f}'" for f in files) + "]"


def expected_answers(spark, files: list[str], queries: list[list[str]],
                     work_dir: str, k: int = 10) -> dict:
    """Corpus statistics and BM25 top-k answers for `queries`.

    Spark's built-in xxhash64 gives the doc ids; everything else runs in
    DuckDB. Returns n_docs, avgdl, total_terms, df (term -> df) and answers
    (one dict per query, see `_topk`)."""
    from pyspark.sql import functions as F

    ids_dir = os.path.join(work_dir, "oracle_ids")
    (spark.read.parquet(*files)
     .select(F.xxhash64("repo", "path", "commit").alias("doc_id"), "path")
     .write.mode("overwrite").parquet(ids_dir))
    con = duckdb.connect()
    try:
        return _compute(con, files, ids_dir, queries, k, work_dir)
    finally:
        con.close()


def _compute(con, files, ids_dir, queries, k, tmp) -> dict:
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{tmp}/duckdb_tmp'")
    con.execute(f"""
        CREATE TABLE tf AS
        SELECT i.doc_id, t.term, count(*)::BIGINT AS tf
        FROM (SELECT path,
                     unnest(regexp_split_to_array(lower(content),
                                                  '[^a-z0-9_]+')) AS term
              FROM read_parquet({_files_sql(files)})) t
        JOIN read_parquet('{ids_dir}/*.parquet') i USING (path)
        WHERE t.term <> ''
        GROUP BY ALL""")
    con.execute("""CREATE TABLE ds AS SELECT doc_id, sum(tf)::BIGINT AS dl
                   FROM tf GROUP BY doc_id""")
    con.execute("""CREATE TABLE dfs AS SELECT term, count(*)::BIGINT AS df
                   FROM tf GROUP BY term""")
    n, avgdl, total = con.execute(
        "SELECT count(*), avg(dl), sum(dl)::BIGINT FROM ds").fetchone()
    out = {"n_docs": int(n), "avgdl": float(avgdl), "total_terms": int(total),
           "df": dict(con.execute("SELECT term, df FROM dfs").fetchall())}
    out["answers"] = _topk(con, queries, k, out["n_docs"],
                           out["avgdl"]) if queries else []
    return out


def _topk(con, queries, k, n_docs, avgdl) -> list[dict]:
    """Per query: ``ranked`` (the expected (doc_id, score) pairs in rank
    order) and ``scores`` (oracle score of every doc that may appear in the
    top k: the first k plus all docs within TOL of the k-th score)."""
    qt = pd.DataFrame(
        [(i, t) for i, q in enumerate(queries) for t in sorted(set(q))],
        columns=["qid", "term"],
    )
    con.register("qterms", qt)
    rows = con.execute(f"""
        WITH sc AS (
            SELECT q.qid, tf.doc_id,
                   sum(ln(1 + ({n_docs} - dfs.df + 0.5) / (dfs.df + 0.5))
                       * tf.tf * ({K1} + 1)
                       / (tf.tf + {K1} * (1 - {B} + {B} * ds.dl / {avgdl!r})))
                     AS score
            FROM qterms q JOIN tf USING (term) JOIN dfs USING (term)
            JOIN ds USING (doc_id)
            GROUP BY q.qid, tf.doc_id),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
            FROM sc),
        kth AS (SELECT qid, min(score) AS ks FROM ranked
                WHERE rn <= {k} GROUP BY qid)
        SELECT r.qid, r.rn, r.doc_id, r.score
        FROM ranked r JOIN kth USING (qid)
        WHERE r.rn <= {k} OR r.score >= kth.ks - {TOL}
        ORDER BY r.qid, r.rn""").fetchall()
    out = [{"ranked": [], "scores": {}} for _ in queries]
    for qid, rn, doc, score in rows:
        if rn <= k:
            out[qid]["ranked"].append((doc, score))
        out[qid]["scores"][doc] = score
    return out


def rank_identical(got: list[tuple[int, float]], want: dict) -> str | None:
    """None when `got` (doc_id, score) pairs in rank order match the oracle:
    same length, each doc's score within TOL of its oracle score, and each
    rank's oracle score within TOL of the expected score at that rank (so
    only docs whose oracle scores differ by less than TOL may swap).
    Otherwise a one-line description of the first mismatch."""
    ranked, scores = want["ranked"], want["scores"]
    if len(got) != len(ranked):
        return f"{len(got)} hits, expected {len(ranked)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc_id in hits"
    for i, ((doc, score), (_, exp)) in enumerate(zip(got, ranked)):
        if doc not in scores:
            return f"rank {i + 1}: doc {doc} is not in the expected top k"
        if abs(score - scores[doc]) > TOL or abs(scores[doc] - exp) > TOL:
            return (f"rank {i + 1}: doc {doc} score {score!r}, oracle "
                    f"{scores[doc]!r}, expected {exp!r} at this rank")
    return None


def corrupt(answers: list[dict]) -> None:
    """Shift the first expected score of every answer, so a correct engine
    must be reported wrong: proves the check can fail."""
    for a in answers:
        if a["ranked"]:
            doc, score = a["ranked"][0]
            a["ranked"][0] = (doc, score + 1e-3)
            a["scores"][doc] = score + 1e-3


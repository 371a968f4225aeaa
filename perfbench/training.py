"""Workload `training_ops`: twelve driver queries on a seeded corpus.

Each op runs the queries of `harness.TRAINING_QUERIES` in a fixed order
and collects every result to the driver with Arrow, which materializes
the whole plan (a `count()` would let Catalyst prune it) and lets every
result be checked against its DuckDB twin in `driver_queries.ORACLE_SQL`
without computing it twice. Spotting, scoring and checkpointing are not
touched; the Arrow pair kernels and CC over near-duplicate edges are.

Traced, the queries run once more, one span and job group each, and a
replay of `neardup_dedup`'s composition with each step materialized
gives the verify ratio and a CC span of its own.
"""

from __future__ import annotations

import contextlib
import dataclasses
import hashlib
import os
import time

import harness as H
from eventlog import engine_metrics, find_log, group_figures

N_DOCS = 250
N_VECS = 500
QUERIES = list(H.TRAINING_QUERIES)


def normalize(df):
    """Order-insensitive canonical frame, as the repository's driver
    contract test compares engine and DuckDB results."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (TypeError, ValueError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def same_result(got, want) -> bool:
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    try:
        pd.testing.assert_frame_equal(normalize(got), want,
                                      check_dtype=False, rtol=0, atol=1e-9)
    except AssertionError:
        return False
    return True


def prepare_inputs(work: str, seed: int) -> tuple[str, dict]:
    """Corpus dir and normalized DuckDB expectations for `seed`, cached
    under the work dir (keyed by the oracle SQL text, so an edited twin
    is recomputed)."""
    import duckdb
    import pandas as pd

    from corpus import write_corpus
    from dbpedia_spotlight_spark.plans.driver_queries import ORACLE_SQL

    sf_dir = f"{work}/inputs/training-{N_DOCS}-{N_VECS}-{seed}"
    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        write_corpus(sf_dir, seed, N_DOCS, N_VECS)
    os.makedirs(f"{sf_dir}/expected", exist_ok=True)
    con = None
    expected = {}
    for q in QUERIES:
        sql = ORACLE_SQL[q]
        digest = hashlib.sha1(sql.encode()).hexdigest()[:12]
        path = f"{sf_dir}/expected/{q}-{digest}.parquet"
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute("SET enable_progress_bar = false")
                for t in ("documents", "embeddings"):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{sf_dir}/{t}.parquet'")
            normalize(con.execute(sql).fetchdf()).to_parquet(path + ".tmp")
            os.replace(path + ".tmp", path)
        expected[q] = pd.read_parquet(path)
    if con is not None:
        con.close()
    return sf_dir, expected


def run_queries(spark, sf_dir: str, spans=None) -> dict:
    """query -> (pandas result or the exception, seconds)."""
    from dbpedia_spotlight_spark.plans import driver_queries as DQ

    out = {}
    for q in QUERIES:
        t0 = time.perf_counter()
        try:
            with spans.span(q) if spans else contextlib.nullcontext():
                res = DQ.QUERIES[q](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — counted as a failure
            res = e
        out[q] = (res, time.perf_counter() - t0)
    return out


def check(results: dict, expected: dict) -> list[bool]:
    return [not isinstance(results[q][0], Exception)
            and same_result(results[q][0], expected[q]) for q in QUERIES]


def recall_at_3(approx, exact) -> float:
    pairs = lambda df: set(zip(df["query_id"], df["neighbor_id"]))  # noqa
    truth = pairs(exact)
    return len(pairs(approx) & truth) / len(truth)


def neardup_replay(spark, sf_dir: str, spans) -> dict[str, float]:
    """q_neardup_dedup's corpus and near_dedup's steps with each step
    materialized: LSH candidates, Jaccard-verified pairs, then CC alone
    in its span."""
    from pyspark.sql import functions as F

    from dbpedia_spotlight_spark.operators import cc as CC
    from dbpedia_spotlight_spark.operators import dedup as DD
    from dbpedia_spotlight_spark.plans import driver_queries as DQ

    docs = DQ._docs(spark, sf_dir)
    near = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    dup = DQ._dup_corpus(docs).unionByName(near)
    with spans.span("neardup_steps"):
        cand = DD.minhash_lsh_candidates(
            dup, shingle_n=3, num_hashes=8, bands=4
        ).select("id_a", "id_b").distinct().persist()
        n_cand = cand.count()
        ver = DD.ngram_jaccard(dup, cand, shingle_n=3).filter(
            F.col("jaccard") >= 0.5)
        key = lambda c: F.lpad(F.col(c).cast("string"), 8, "0")  # noqa
        edges = ver.select(key("id_a").alias("src"),
                           key("id_b").alias("dst")).persist()
        n_edges = edges.count()
    with spans.span("cc"):
        CC.connected_components(edges).count()
    return {"dedup.neardup_verify_ratio": n_edges / n_cand if n_cand else 0.0,
            "cc.edges_in": float(n_edges)}


def run(ctx) -> None:
    from dbpedia_spotlight_spark.plans import driver_queries as DQ

    report: dict = {"workload": "training_ops", "seed": ctx.seed,
                    "n_docs": N_DOCS, "n_vecs": N_VECS,
                    "loop": "closed, 1 client", "queries": QUERIES,
                    "ambient_before": H.ambient()}
    sf_dir, expected = prepare_inputs(ctx.work, ctx.seed)

    log_dir = f"{ctx.work}/eventlog" if ctx.trace else None
    # set-up, timed as one: session start and the engine's own warm-up
    t0 = time.perf_counter()
    spark = H.start_session(ctx.work, ctx.nproc, event_log_dir=log_dir)
    t1 = time.perf_counter()
    DQ.warm_session(spark, sf_dir)
    setup_s = time.perf_counter() - t0
    report.update(session_start_s=t1 - t0, warm_session_s=setup_s - (t1 - t0))

    n_op = [0]

    def prepare():
        # the first op runs on the state warm_session just built, which
        # is what a reset and re-warm would rebuild
        if n_op[0]:
            H.reset_caches(spark)
            DQ.warm_session(spark, sf_dir)
        n_op[0] += 1

    def op():
        return run_queries(spark, sf_dir)

    def check_op(results):
        report["query_s"] = {q: results[q][1] for q in QUERIES}
        report["query_errors"] = {
            q: repr(r)[:300] for q, (r, _) in results.items()
            if isinstance(r, Exception)}
        return check(results, expected)

    records = H.closed_loop(spark, ctx.seconds, prepare, op, check_op,
                            len(QUERIES))
    attempted, failed = H.tally(records)
    values = H.end_to_end_metrics(records, N_DOCS, setup_s)
    report.update(ops=[dataclasses.asdict(r) for r in records],
                  wall_s_samples=len(records),
                  engine_jobs_per_op=H.jobs_in_group(spark, "op1"))
    correct = failed == 0

    if ctx.trace:
        traced: dict[str, float] = {
            "engine.jobs": report["engine_jobs_per_op"],
            "engine.persisted_leak": max(r.leak for r in records),
        }
        spans = H.Spans(spark, run_id=f"training_ops-{ctx.seed}")
        H.reset_caches(spark)
        DQ.warm_session(spark, sf_dir)
        t0 = time.perf_counter()
        results = run_queries(spark, sf_dir, spans)
        traced_wall = time.perf_counter() - t0
        ok = check(results, expected)
        correct = correct and all(ok)
        report["traced_checks"] = ok
        traced["trace.overhead_s"] = traced_wall - values["wall_s"]
        for q, mod in H.TRAINING_QUERIES.items():
            traced[f"{mod}.{q}.wall_s"] = spans.wall(q)

        from dbpedia_spotlight_spark.operators.ann import brute_force_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        exact = brute_force_topk(emb, emb, k=3).toPandas()
        for q, name in (("ann_lsh_topk", "lsh"), ("ann_ivf_topk", "ivf")):
            res = results[q][0]
            traced[f"ann.{name}_recall_at_3"] = (
                0.0 if isinstance(res, Exception)
                else recall_at_3(res, exact))
        traced.update(neardup_replay(spark, sf_dir, spans))
        traced["cc.wall_s"] = spans.wall("cc")
        traced["cc.jobs"] = H.jobs_in_group(spark, "cc")
        os.makedirs(f"{ctx.work}/trace", exist_ok=True)
        spans.write(f"{ctx.work}/trace/training_ops-{ctx.seed}-spans.json")
        H.shutdown(spark)
        figures = group_figures(find_log(log_dir))
        report["engine_groups"] = figures
        traced.update(engine_metrics(figures, QUERIES))
        values = traced
    else:
        H.shutdown(spark)
    report["ambient_after"] = H.ambient()
    H.emit(correct, attempted, failed, values, ctx.trace, report)

"""Checks and metrics of the query_catalog workload (see CatalogBench).

The workload runs the queries ROADMAP.md singles out as targets over a
`documents` table generated from the seed (see documents.py).  Every
query's first-pass result is compared with its DuckDB oracle
(``SparkEntry.oracleSql``) with the canonicalization and cell comparison
of ``tools/check.py``.  A query without an oracle is not compared, as
there.  Each timed pass must then reproduce the first pass's fingerprint
(row count and hash).
"""
import os
import statistics
import sys

# One pass runs five of the eleven ROADMAP targets, all of which read
# only `documents`: from each target family, the ones whose passes and
# DuckDB oracles fit the time budget (pins and job count: st24; pair
# pipelines: x3, x55; HyperBall: x140, x142).
QUERIES = ["st24_rank_resume", "x3_minhash_lsh_pairs", "x55_edit_neardup",
           "x140_harmonic_centrality", "x142_harmonic_bucketed"]
# Passes per run, whatever the run length.  A pass takes under ten
# seconds, and the passes early in the JVM still share the cores with
# the JIT compiler: two untimed passes (the first writes the results),
# then the median of two timed ones.
WARMUP_PASSES = 2
MIN_PASSES = 2


def label(query):
    """Short name used in metric names: st24_rank_resume -> st24."""
    return query.split("_", 1)[0]


def oracle_problems(data_dir, results_dir, oracle_sql, names):
    """name -> problem text, for every query whose first-pass result
    disagrees with its oracle."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from check import canon, cells_equal
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(data_dir, 'documents.parquet')}')")
    out = {}
    for name in names:
        path = os.path.join(results_dir, name)
        if not os.path.isdir(path) or name not in oracle_sql:
            continue  # a query that threw is reported from the pass itself
        got = canon(pd.read_parquet(path))
        try:
            exp = canon(con.execute(oracle_sql[name]).fetchdf())
        except Exception as e:  # noqa: BLE001 - an oracle error is a finding
            out[name] = f"oracle error: {e}"
            continue
        if list(got.columns) != list(exp.columns):
            out[name] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            out[name] = f"rows {len(got)} != {len(exp)}"
        elif not cells_equal(got, exp):
            out[name] = "cells differ"
    con.close()
    return out


def check(result, oracle):
    """(attempted, failed, problems) over every query of every pass,
    the traced one included."""
    first = result["warmup"]["queries"]
    attempted = failed = 0
    problems = []
    traced = [result["trace"]] if result.get("trace") else []
    for i, p in enumerate([result["warmup"]] + result["warmup_more"] + result["passes"]
                          + traced):
        for name in QUERIES:
            q = p["queries"].get(name, {"error": "not run"})
            attempted += 1
            why = None
            if "error" in q:
                why = f"threw: {q['error']}"
            elif i == 0 and name in oracle:
                why = oracle[name]
            elif i > 0 and (q["rows"], q["hash"]) != (first[name].get("rows"),
                                                      first[name].get("hash")):
                why = "fingerprint differs from the first pass"
            if why:
                failed += 1
                problems.append(f"pass{i} {name}: {why}")
    return attempted, failed, problems


def end_to_end(result, gen_s):
    """The gated end-to-end metrics, which every workload reports, and
    the catalog's own, which are printed only (see README.md)."""
    passes = result["passes"]
    walls = sorted(q["wall_s"] for p in passes for q in p["queries"].values()
                   if "wall_s" in q)
    med = statistics.median
    gated = {
        "wall_s": (med(p["wall_s"] for p in passes), "s"),
        # process CPU net of JIT compilation, as on the ticks
        "cpu_s": (med(p["cpu_s"] - p["jit_s"] for p in passes), "s"),
        "setup_s": (gen_s + result["setup"]["ready_s"], "s"),
    }
    printed = {"query_p50_s": (med(walls), "s"),
               "query_p95_s": (statistics.quantiles(walls, n=20)[-1], "s"),
               "heap_peak_mb": (result["heap_mb"], "MB")}
    return gated, printed


def per_layer(result):
    """Per-layer metrics of the traced pass, which follows the timed
    passes in the same JVM."""
    tr, last = result["trace"], result["passes"][-1]
    qs = tr["queries"]

    def total(key):
        return sum(q.get(key, 0) for q in qs.values())
    m = {
        "queries.build_s": (total("build_s"), "s"),
        "queries.plan_s": (total("plan_s"), "s"),
        "queries.exec_s": (total("exec_s"), "s"),
        "queries.jobs_before_action": (total("jobs_before_action"), "count"),
        "queries.jobs_in_action": (total("jobs_in_action"), "count"),
        "queries.checkpoint_jobs": (total("checkpoint_jobs"), "count"),
        "spark.driver_only_s": (tr["wall_s"] - total("task_busy_s"), "s"),
        "spark.busy_share": (total("task_run_s") / (tr["wall_s"] * result["cores"]),
                             "ratio"),
        "spark.task_cpu_s": (total("task_cpu_s"), "s"),
        "spark.gc_s": (total("gc_s"), "s"),
        "spark.tasks": (total("tasks"), "count"),
        "spark.shuffle_read_bytes": (total("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (total("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (total("spill_bytes"), "bytes"),
        "trace.overhead_s": (tr["wall_s"] - last["wall_s"], "s"),
    }
    for name in QUERIES:
        q = qs[name]
        for key in ("build_s", "exec_s", "task_cpu_s"):
            m[f"queries.{label(name)}.{key}"] = (q.get(key, 0), "s")
        m[f"queries.{label(name)}.jobs"] = (
            q.get("jobs_before_action", 0) + q.get("jobs_in_action", 0), "count")
    return m

"""pipeline: batch curation and analytics over seeded tables, with no
IVF code on the path.

One pass runs six registry queries in a fixed order, each written to a
``noop`` sink: q_training_corpus_pipeline, dedup_minhash_lsh,
text_quality_score, text_tfidf, q1_pricing_summary and
q_star_join_revenue. The input (documents plus a TPC-H-like star
schema) is generated from the seed and written once through Spark
during set-up. Its row counts are those of the sf0.01 test tables
(TESTDATA.md), a tenth of sf0.1: at sf0.1 one warm pass takes ~12 s, so
a window would hold a single pass.

Correctness: the first warm-up pass and one pass after the window
collect every stage's output, and each output's value hash must match
the stage's DuckDB ``oracle_sql`` over the same parquet files.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa

from perfbench.harness import Harness
from perfbench.metrics import timing_summary
from perfbench.trace import tree_cpu_seconds

# stage name -> registry queries it runs
STAGES = {
    "curate": ("q_training_corpus_pipeline",),
    "minhash": ("dedup_minhash_lsh",),
    "quality": ("text_quality_score",),
    "tfidf": ("text_tfidf",),
    "relational": ("q1_pricing_summary", "q_star_join_revenue"),
}
QUERIES = tuple(q for qs in STAGES.values() for q in qs)
TABLES = ("documents", "region", "nation", "customer", "orders", "lineitem")
PREP_REPEATS = 3
WARMUP_PLAIN_PASSES = 2
# sf0.01 row counts; lineitem gets 1-7 lines per order (~60,000 rows)
N_DOCS, N_ORDERS, N_CUSTOMERS, N_PARTS, N_SUPPLIERS = (500, 15_000, 1_500,
                                                       2_000, 100)
DOC_WORDS = (10, 100)   # words per document, as in the test tables
# the test tables' 30-word vocabulary
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "es", "de", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _ts(rng, n, lo="1995-01-01", hi="2001-12-31"):
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(lo_d, hi_d, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"))


def make_tables(seed: int) -> dict[str, pa.Table]:
    """Seeded inputs shaped like the repository's test tables: a
    documents table with exact, formatting-only and near duplicates,
    and lineitem/orders/customer/nation/region."""
    rng = np.random.default_rng([seed, 2])
    texts = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 20 and r < 0.05:      # near-duplicate: a few words changed
            words = texts[rng.integers(i)].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[rng.integers(len(VOCAB))]
            texts.append(" ".join(words + ["dup"]))
        elif i > 20 and r < 0.08:    # formatting-only duplicate
            texts.append(texts[rng.integers(i)].upper() + " !")
        else:
            words = rng.choice(VOCAB, rng.integers(DOC_WORDS[0],
                                                   DOC_WORDS[1] + 1))
            texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}"
                            for i in range(N_CUSTOMERS)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS),
                                pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999,
                                                   N_CUSTOMERS), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], N_CUSTOMERS).tolist()),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS),
                              pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"],
                                             N_ORDERS).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1e3, 4e5,
                                                      N_ORDERS), 2)),
        "o_orderdate": _ts(rng, N_ORDERS),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            N_ORDERS).tolist()),
    })
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(N_ORDERS), lines),
                               pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n_li),
                              pa.int64()),
        "l_linenumber": pa.array(np.concatenate(
            [np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000,
                                                         n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"],
                                            n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li).tolist()),
        "l_shipdate": _ts(rng, n_li),
    })
    tables = {"documents": documents, "region": region, "nation": nation,
              "customer": customer, "orders": orders, "lineitem": lineitem}
    return {name: tables[name] for name in TABLES}


def value_hash(pdf) -> str:
    """Order-insensitive hash of a result frame: columns by name, every
    cell as text (floats to 6 decimals, -0.0 folded into 0.0), rows
    sorted."""
    cols = sorted(pdf.columns)
    rows = []
    for rec in pdf[cols].itertuples(index=False):
        cells = []
        for v in rec:
            if isinstance(v, (float, np.floating)):
                cells.append("nan" if v != v else f"{float(v) + 0.0:.6f}")
            elif v is None:
                cells.append("null")
            else:
                cells.append(str(v))
        rows.append("\x1f".join(cells))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in sorted(rows):
        h.update(b"\x1e" + r.encode())
    return h.hexdigest()


def run(h: Harness, seed: int, seconds: float) -> dict:
    from quake_vector_search_spark import session
    from quake_vector_search_spark.queries import (
        REGISTRY,
        load_all_query_modules,
    )

    tr = h.tracer
    tr.patch(session, "get_spark", "session.start")
    spark = h.spark = session.get_spark(**h.session_kwargs)
    session_s = time.perf_counter() - h.t0
    h.log("session started")
    load_all_query_modules()

    # ---- set-up, repeated: generate the tables and write them once
    preps = []
    for rep in range(PREP_REPEATS):
        in_dir = os.path.join(h.work, f"input{rep}")
        shutil.rmtree(in_dir, ignore_errors=True)
        t = time.perf_counter()
        with tr.span("pipeline.input"):
            for name, table in make_tables(seed).items():
                (spark.createDataFrame(table).coalesce(1).write
                 .parquet(os.path.join(in_dir, f"{name}.parquet")))
        preps.append(time.perf_counter() - t)
        h.log(f"set-up {rep + 1}/{PREP_REPEATS}: {preps[-1]:.2f}s")
        if rep < PREP_REPEATS - 1:
            shutil.rmtree(in_dir)

    def one_pass(collect: bool):
        outs = {}
        for stage, names in STAGES.items():
            with tr.span(f"pipeline.{stage}"):
                for q in names:
                    df = REGISTRY[q].fn(spark, in_dir)
                    if collect:
                        outs[q] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        return outs

    # ---- warm-up: one collected pass (checked after the window), then
    # plain passes — pass time keeps falling for ~10 passes after a
    # cold start as the JVM compiles the hot paths
    h.phase = "warmup"
    t = time.perf_counter()
    checked = {"warm-up": h.call("pass", one_pass, True)}
    for _ in range(WARMUP_PLAIN_PASSES):
        h.call("pass", one_pass, False)
    warmup_s = time.perf_counter() - t
    h.log(f"warm-up done: {warmup_s:.2f}s")
    setup_s = session_s + statistics.median(preps) + warmup_s

    # ---- timed window
    h.phase = "window"
    cpu0 = tree_cpu_seconds()
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < seconds:
        h.call("pass", one_pass, False)
    window_s = time.perf_counter() - t_start
    cpu_s = tree_cpu_seconds() - cpu0
    h.log(f"window done: {len(h.window('pass'))} passes in {window_s:.2f}s")

    # ---- untimed: one more collected pass, so results after repeated
    # passes are checked too
    h.phase = "check"
    checked["final"] = h.call("pass", one_pass, True)
    h.phase = "done"

    # ---- correctness: value hash against the DuckDB oracle
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{os.path.join(h.work, 'duckdb')}'")
        for name in TABLES:
            path = os.path.join(in_dir, f"{name}.parquet", "*.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        problems, matched = [], 0
        for q in QUERIES:
            want = value_hash(con.sql(REGISTRY[q].sql).df())
            for which, outputs in checked.items():
                if value_hash(outputs[q]) == want:
                    matched += 1
                else:
                    problems.append(
                        f"{q} ({which} pass): output hash differs from "
                        f"the DuckDB oracle ({len(outputs[q])} rows)")
    finally:
        con.close()
    quality = matched / (len(QUERIES) * len(checked))

    passes = h.window("pass")
    report = {
        "setup_s": setup_s,
        "call_p50_ms": statistics.median(c["ms"] for c in passes),
        "throughput_per_s": len(passes) / window_s,
        "result_quality": quality,
        "latency": {"pass": timing_summary([c["ms"] for c in passes])},
        "preps_s": preps,
        "problems": problems,
    }
    if h.trace:
        h.count_jobs()
        report["layers"] = _layers(h, {
            "session.start_s": session_s,
            "setup.cold_prep_s": preps[0],
            "pipeline.input_s": statistics.median(preps),
            "proc.cpu_ms_per_call": 1000.0 * cpu_s / len(passes),
        })
    return report


def _layers(h, base) -> dict:
    spans = h.tracer.spans
    passes = h.window("pass")
    out = dict(base)
    for stage in STAGES:
        per_pass = [sum(1000.0 * (s["end"] - s["start"]) for s in spans
                        if s["call"] == c["id"]
                        and s["name"] == f"pipeline.{stage}")
                    for c in passes]
        out[f"pipeline.{stage}_ms"] = statistics.median(per_pass)
    out["pipeline.jobs"] = statistics.median(c["jobs"] for c in passes)
    out["pipeline.tasks"] = statistics.median(c["tasks"] for c in passes)
    out["spark.failed_tasks"] = sum(c["failed_tasks"] for c in passes)
    return out

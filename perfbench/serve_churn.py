"""serve_churn: search batches served beside inserts, deletes and
split/merge maintenance on the reference demo corpus.

One round = one 50-query Zipf(1.1) search batch at target_recall 0.9
(reference policy), then 25 deletes, 25 inserts and one ``maintain()``
— the reference notebook's cadence. The corpus is the reference demo's:
40,000 × 64 floats in 60 Gaussian blobs from generator seed 7, indexed
with coarse_k=16, base_k=4 and calibrated (``calibrate()``) during
set-up. After the window the index is calibrated again and serves a
few batches with ``policy="calibrated"``, untimed, so the traced run
reports the probe-pruning path (its latency, probes and recall). The
run's seed drives everything that arrives at the index afterwards:
which blobs are hot, the queries, the deleted ids and the inserted
vectors; the blob centres, and with them the partition layout, stay
the same for every seed.

The benchmark keeps its own copy of every vector and of the live id
set, so each batch's recall@10 is checked against exact brute force
over the corpus as it stood when the batch ran.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from perfbench import metrics
from perfbench.harness import Harness
from perfbench.trace import tree_cpu_seconds

N, D, BLOBS = 40_000, 64, 60
COARSE_K, BASE_K = 16, 4
BATCH, N_DEL, N_INS = 50, 25, 25
K, TARGET = 10, 0.9
CORPUS_SEED = 7
ZIPF_ALPHA, QUERY_NOISE = 1.1, 0.1
PREP_REPEATS = 3
WARMUP_ROUNDS = 2
CAL_BATCHES = 3
QUALITY_FLOOR = TARGET


class Corpus:
    """Every vector ever inserted, indexed by id, plus the live mask."""

    def __init__(self, ids, vecs, labels):
        order = np.argsort(ids)
        if not np.array_equal(ids[order], np.arange(len(ids))):
            raise ValueError("generated corpus ids are not 0..n-1")
        self.vecs = vecs[order].astype(np.float32)
        self.labels = labels[order].astype(np.int64)
        self.alive = np.ones(len(ids), dtype=bool)
        self.centers = np.stack([self.vecs[self.labels == b].mean(axis=0)
                                 for b in range(BLOBS)]).astype(np.float64)

    def live_ids(self) -> np.ndarray:
        return np.flatnonzero(self.alive)

    def add(self, vecs, labels) -> np.ndarray:
        start = len(self.alive)
        self.vecs = np.vstack([self.vecs, vecs.astype(np.float32)])
        self.labels = np.concatenate([self.labels, labels])
        self.alive = np.concatenate([self.alive,
                                     np.ones(len(vecs), dtype=bool)])
        return np.arange(start, start + len(vecs))

    def exact_topk(self, alive, qmat) -> np.ndarray:
        ids = np.flatnonzero(alive)
        x = self.vecs[ids].astype(np.float64)
        d2 = ((qmat ** 2).sum(1)[:, None] - 2.0 * qmat @ x.T
              + (x ** 2).sum(1)[None, :])
        top = np.argpartition(d2, K - 1, axis=1)[:, :K]
        return ids[top]


class Stream:
    """Seeded inputs: Zipf-skewed queries near live vectors, in-
    distribution inserts, uniform deletes."""

    def __init__(self, seed: int, corpus: Corpus):
        self.rng = np.random.default_rng([seed, 1])
        self.corpus = corpus
        # which blob is hot is part of the seed
        self.hot = self.rng.permutation(BLOBS)
        w = 1.0 / np.arange(1, BLOBS + 1) ** ZIPF_ALPHA
        self.zipf_p = w / w.sum()

    def queries(self) -> np.ndarray:
        c = self.corpus
        live = c.live_ids()
        live_labels = c.labels[live]
        out = np.empty((BATCH, D))
        for i, r in enumerate(self.rng.choice(BLOBS, BATCH, p=self.zipf_p)):
            members = live[live_labels == self.hot[r]]
            pick = members[self.rng.integers(len(members))]
            out[i] = c.vecs[pick] + self.rng.normal(0.0, QUERY_NOISE, D)
        return out

    def deletes(self) -> np.ndarray:
        return self.rng.choice(self.corpus.live_ids(), N_DEL, replace=False)

    def inserts(self) -> tuple[np.ndarray, np.ndarray]:
        labels = self.rng.integers(0, BLOBS, N_INS)
        vecs = (self.corpus.centers[labels]
                + self.rng.normal(0.0, 1.0, (N_INS, D))).astype(np.float32)
        return vecs, labels


def _partition_files(corpus_path: str) -> dict[str, list[str]]:
    out = {}
    for d in os.listdir(corpus_path):
        if d.startswith("partition_id="):
            out[d] = [os.path.join(corpus_path, d, f)
                      for f in os.listdir(os.path.join(corpus_path, d))
                      if f.endswith(".parquet")]
    return out


def _rewrite_stats(old_corpus: str, new_corpus: str) -> dict:
    """Partition dirs of the new version that only hard-link the old
    version's files (linked) vs dirs holding newly written files
    (rewritten), and the bytes newly written."""
    old_inodes = {os.stat(f).st_ino
                  for fs in _partition_files(old_corpus).values()
                  for f in fs}
    linked = rewritten = new_bytes = 0
    for files in _partition_files(new_corpus).values():
        fresh = [f for f in files if os.stat(f).st_ino not in old_inodes]
        new_bytes += sum(os.stat(f).st_size for f in fresh)
        if fresh:
            rewritten += 1
        elif files:
            linked += 1
    return {"dirs_linked": linked, "dirs_rewritten": rewritten,
            "bytes_rewritten": new_bytes}


def run(h: Harness, seed: int, seconds: float) -> dict:
    from quake_vector_search_spark import session
    from quake_vector_search_spark.operators import maintenance, workload
    from quake_vector_search_spark.operators.ivf import IVFIndex

    tr = h.tracer
    tr.patch(session, "get_spark", "session.start")
    tr.patch(IVFIndex, "build", "ivf.build")
    tr.patch(IVFIndex, "calibrate", "ivf.calibrate")
    tr.patch(IVFIndex, "search", "ivf.search")
    tr.patch(IVFIndex, "read_corpus", "ivf.read_corpus")
    tr.patch(IVFIndex, "partition_scores", "ivf.partition_scores")
    tr.patch(IVFIndex, "insert", "ivf.insert")
    tr.patch(IVFIndex, "delete", "ivf.delete")
    tr.patch(maintenance, "maintain", "maintenance.maintain")

    spark = h.spark = session.get_spark(**h.session_kwargs)
    session_s = time.perf_counter() - h.t0
    h.log("session started")

    # ---- set-up, repeated: generate the corpus, build the index and
    # calibrate it
    preps, datagen_s, build_s, calibrate_s = [], [], [], []
    for rep in range(PREP_REPEATS):
        wd = os.path.join(h.work, f"index{rep}")
        shutil.rmtree(wd, ignore_errors=True)
        t = time.perf_counter()
        with tr.span("workload.datagen"):
            emb = workload.make_dataset(spark, N, d=D, n_clusters=BLOBS,
                                        seed=CORPUS_SEED).cache()
            emb.count()
        t_gen = time.perf_counter()
        idx = IVFIndex.build(emb, wd, coarse_k=COARSE_K, base_k=BASE_K)
        t_built = time.perf_counter()
        idx.calibrate()
        t_end = time.perf_counter()
        preps.append(t_end - t)
        datagen_s.append(t_gen - t)
        build_s.append(t_built - t_gen)
        calibrate_s.append(t_end - t_built)
        h.log(f"set-up {rep + 1}/{PREP_REPEATS}: {preps[-1]:.2f}s")
        if rep < PREP_REPEATS - 1:
            emb.unpersist()
            shutil.rmtree(wd)

    # benchmark-side copy of the inputs (not part of set-up time)
    pdf = emb.select("vec_id", "embedding", "label").toPandas()
    emb.unpersist()
    corpus = Corpus(pdf["vec_id"].to_numpy(),
                    np.vstack(pdf["embedding"].to_numpy()),
                    pdf["label"].to_numpy())
    del pdf
    stream = Stream(seed, corpus)
    batches = []        # (phase, alive mask at search time, qmat, rows, meta)
    maint = []          # per maintain call: summary + rewrite stats

    def search(qmat, policy="reference"):
        f, meta = idx.search((np.arange(BATCH), qmat), k=K,
                             target_recall=TARGET, policy=policy)
        with tr.span("ivf.search.exec"):
            rows = f.collect()
        return rows, meta

    def one_round():
        qmat = stream.queries()
        alive = corpus.alive.copy()
        rows, meta = h.call("search", search, qmat)
        batches.append((h.phase, alive, qmat, rows, meta))
        dead = stream.deletes()
        h.call("delete", idx.delete, dead.tolist())
        corpus.alive[dead] = False
        vecs, labels = stream.inserts()
        new_ids = corpus.add(vecs, labels)
        h.call("insert", idx.insert, new_ids, vecs, refresh=False)
        old_corpus = idx.corpus_path
        summary = h.call("maintain", maintenance.maintain, idx)
        if h.trace:
            maint.append({**summary,
                          **_rewrite_stats(old_corpus, idx.corpus_path)})

    # ---- warm-up: every operation type, untimed
    h.phase = "warmup"
    t = time.perf_counter()
    for _ in range(WARMUP_ROUNDS):
        one_round()
    warmup_s = time.perf_counter() - t
    h.log(f"warm-up done: {warmup_s:.2f}s")
    setup_s = session_s + statistics.median(preps) + warmup_s

    # ---- timed window
    h.phase = "window"
    maint.clear()
    cpu0 = tree_cpu_seconds()
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < seconds:
        one_round()
    window_s = time.perf_counter() - t_start
    cpu_s = tree_cpu_seconds() - cpu0
    h.log(f"window done: {len(h.window('search'))} rounds in "
          f"{window_s:.2f}s")

    # ---- untimed: calibrated serving on the final corpus
    h.phase = "calibrated"
    h.call("calibrate", idx.calibrate)
    for _ in range(CAL_BATCHES):
        qmat = stream.queries()
        rows, meta = h.call("search_cal", search, qmat, "calibrated")
        batches.append((h.phase, corpus.alive.copy(), qmat, rows, meta))
    h.phase = "done"

    # ---- correctness: every batch against exact brute force
    problems, recalls, cal_recalls = [], [], []
    for phase, alive, qmat, rows, _ in batches:
        truth = corpus.exact_topk(alive, qmat)
        got: dict[int, list[int]] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), []).append(int(r["vec_id"]))
        for qi in range(BATCH):
            ids = got.get(qi, [])
            if len(ids) != K or len(set(ids)) != K:
                problems.append(f"{phase} query {qi}: {len(ids)} results, "
                                f"expected {K} distinct")
            elif not all(0 <= i < len(alive) and alive[i] for i in ids):
                problems.append(f"{phase} query {qi}: returned a deleted "
                                f"or unknown id")
            hit = len(set(ids) & set(truth[qi].tolist())) / K
            if phase == "window":
                recalls.append(hit)
            elif phase == "calibrated":
                cal_recalls.append(hit)
    quality = float(np.mean(recalls))
    if quality < QUALITY_FLOOR:
        problems.append(f"recall@{K} {quality:.4f} below the floor "
                        f"{QUALITY_FLOOR}")

    searches = h.window("search")
    live = int(corpus.alive.sum())
    disk = metrics.tree_bytes(idx.workdir)
    report = {
        "setup_s": setup_s,
        "call_p50_ms": statistics.median(c["ms"] for c in searches),
        "throughput_per_s": BATCH * len(searches) / window_s,
        "result_quality": quality,
        "latency": {op: metrics.timing_summary([c["ms"]
                                                for c in h.window(op)])
                    for op in ("search", "delete", "insert", "maintain")},
        "storage_amplification": metrics.storage_amplification(disk, live,
                                                               D),
        "preps_s": preps,
        "problems": problems,
    }
    if h.trace:
        h.count_jobs()
        cal = [b for b in batches if b[0] == "calibrated"]
        report["layers"] = _layers(h, batches, maint, idx, {
            "session.start_s": session_s,
            "setup.cold_prep_s": preps[0],
            "workload.datagen_s": statistics.median(datagen_s),
            "ivf.build_s": statistics.median(build_s),
            "ivf.calibrate_s": statistics.median(calibrate_s),
            "ivf.calibrated.search_ms": statistics.median(
                c["ms"] for c in h.calls if c["op"] == "search_cal"),
            "ivf.calibrated.avg_nprobe": float(np.mean(
                [b[4]["avg_nprobe"] for b in cal])),
            "ivf.calibrated.scanned_frac": float(np.mean(
                [b[4]["avg_scanned"] / b[1].sum() for b in cal])),
            "ivf.calibrated.recall": float(np.mean(cal_recalls)),
            "proc.cpu_ms_per_call": 1000.0 * cpu_s / len(searches),
            "storage_amplification": report["storage_amplification"],
        })
    return report


def _layers(h, batches, maint, idx, base) -> dict:
    spans = h.tracer.spans
    selfs = metrics.self_times(spans)
    win_ids = {c["id"] for c in h.window()}

    def per_call(op, name):
        """Median over the window's ``op`` calls of the summed durations
        of the spans named ``name`` inside the call, in ms."""
        vals = []
        for c in h.window(op):
            ds = [1000.0 * (s["end"] - s["start"]) for s in spans
                  if s["call"] == c["id"] and s["name"] == name]
            vals.append(sum(ds))
        return statistics.median(vals)

    def med(op, key):
        return statistics.median(c[key] for c in h.window(op))

    search_self = [1000.0 * selfs[i] for i, s in enumerate(spans)
                   if s["name"] == "ivf.search" and s["call"] in win_ids]
    win = [b for b in batches if b[0] == "window"]
    n_rounds = len(win)
    scanned = [b[4]["avg_scanned"] for b in win]
    live_at = [int(b[1].sum()) for b in win]
    user_bytes = (N_INS + N_DEL) * D * 4
    corpus_files = _partition_files(idx.corpus_path)
    n_dirs = sum(1 for fs in corpus_files.values() if fs)
    return {
        **base,
        "ivf.search.self_ms": statistics.median(search_self),
        "ivf.read_corpus_ms": per_call("search", "ivf.read_corpus"),
        "ivf.read_corpus.calls": sum(
            1 for s in spans if s["name"] == "ivf.read_corpus"
            and s["call"] in win_ids) / n_rounds,
        "ivf.search.jobs": med("search", "jobs"),
        "ivf.search.tasks": med("search", "tasks"),
        "ivf.partition_scores_ms": per_call("search",
                                            "ivf.partition_scores"),
        "ivf.search.exec_ms": per_call("search", "ivf.search.exec"),
        "ivf.avg_nprobe": float(np.mean([b[4]["avg_nprobe"]
                                         for b in win])),
        "ivf.scanned_frac": float(np.mean([s / n for s, n
                                           in zip(scanned, live_at)])),
        "ivf.scanned_per_result": float(np.mean(scanned)) / K,
        "ivf.insert_ms": med("insert", "ms"),
        "ivf.insert.jobs": med("insert", "jobs"),
        "ivf.delete_ms": med("delete", "ms"),
        "ivf.delete.jobs": med("delete", "jobs"),
        "maintenance.maintain_ms": med("maintain", "ms"),
        "maintenance.maintain.jobs": med("maintain", "jobs"),
        "maintenance.splits": float(np.mean([len(m["splits"])
                                             for m in maint])),
        "maintenance.merges": float(np.mean([len(m["merges"])
                                             for m in maint])),
        "maintenance.dirs_rewritten": float(np.mean(
            [m["dirs_rewritten"] for m in maint])),
        "maintenance.dirs_linked": float(np.mean(
            [m["dirs_linked"] for m in maint])),
        "maintenance.bytes_rewritten_per_user_byte": float(np.mean(
            [m["bytes_rewritten"] for m in maint])) / user_bytes,
        "ivf.files_per_partition": sum(map(len, corpus_files.values()))
        / max(1, n_dirs),
        "spark.failed_tasks": sum(c["failed_tasks"] for c in h.window()),
    }

"""Adaptive IVF index on partitioned Parquet (SURVEY.md O5-O12).

Reference parity: class ``AdaptiveIVF`` (QUAKE_working_demo.ipynb
c1:51-210 / adaptive_ivf.mjs:140-362) — two-level build, Adaptive
Partition Scanning (APS), adaptive nprobe, online insert/delete, hit
accounting — re-expressed for Spark's execution model:

- **BasePartition → Parquet partition.** The corpus is written
  ``partitionBy("partition_id")``; a probe set becomes a
  ``partition_id IN (...)`` predicate, which Catalyst turns into
  *directory-level partition pruning* — the scan never opens unprobed
  partitions. This IS the reference's "only scan nprobe partitions"
  performance story (ipynb c1:149-155), delegated to the planner.
- **Centroids/stats → broadcastable driver state.** k·d floats — tiny.
  APS is pure NumPy on the driver per query batch (the reference does
  the same math per query, ipynb c1:127-145); the cluster only ever
  sees the resulting probe predicate.
- **id2loc → no positional storage.** Delete = tombstone set applied as
  an anti-filter at read (compacted by maintenance); the reference's
  swap-remove bookkeeping (ipynb c1:111-125) becomes set semantics.
- **Mutation → versioned snapshots.** Inserts append files into
  existing partition directories; maintenance (maintenance.py) publishes
  a new version directory. Readers pin a version.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from quake_vector_search_spark.functions.vector import (
    l2_argmin,
    l2_batch,
)
from quake_vector_search_spark.operators.kmeans import local_kmeans
from quake_vector_search_spark.windowing import (
    _foreign_write_guard,
    _journal_batch,
    _journal_batch_distributed,
    _journal_deletes,
    _window_lock,
)

# Tombstone count below which the read filter uses a literal NOT IN
# (pushed to parquet); above it, a broadcast anti-join.
TOMBSTONE_ISIN_LIMIT = 10_000
def _unit_normalize_expr(vec_col: str):
    """array<float> → unit-length array<float>, pure Catalyst (no UDF)."""
    norm = F.sqrt(F.aggregate(
        F.transform(F.col(vec_col), lambda x: x.cast("double") * x),
        F.lit(0.0), lambda a, x: a + x))
    return F.transform(F.col(vec_col),
                       lambda x: (x / (norm + F.lit(1e-12))).cast("float"))


# search-scan task sizing: ~100k vectors/task ≈ 25-50 MB of float32
# payload at d=64-128 — big enough to amortize the Python worker
# round-trip, small enough to keep thousands of tasks at 100 TB scale
ROWS_PER_TASK = 100_000


class IVFIndex:
    """Driver-side handle to a versioned IVF layout on disk."""

    def __init__(self, spark: SparkSession, workdir: str, version: int,
                 vec_col: str, id_col: str,
                 part_ids: np.ndarray, centroids: np.ndarray,
                 sizes: np.ndarray, part_coarse: np.ndarray,
                 coarse_centroids: np.ndarray,
                 hits: dict[int, int], last_split_at: dict[int, int],
                 query_counter: int = 0,
                 tombstones: set[int] | None = None,
                 metric: str = "l2",
                 calibration: dict | None = None,
                 maintain_every_n_batches: int | None = None,
                 maintain_kwargs: dict | None = None,
                 maintain_async: bool = False):
        self.spark = spark
        self.metric = metric          # "l2" | "cosine" (unit-normalized)
        self.workdir = workdir
        self.version = version
        self.vec_col = vec_col
        self.id_col = id_col
        self.part_ids = np.asarray(part_ids, dtype=np.int64)
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.sizes = np.asarray(sizes, dtype=np.int64)
        self.part_coarse = np.asarray(part_coarse, dtype=np.int64)
        self.coarse_centroids = np.asarray(coarse_centroids, dtype=np.float64)
        self.hits = dict(hits)
        self.last_split_at = dict(last_split_at)
        self.query_counter = query_counter
        self.tombstones: set[int] = set(tombstones or ())
        # policy="calibrated" state: {"targets": [...], "cutoffs": [...],
        # "temperature": s} fitted by calibrate(); invalidated by DML/
        # maintenance via invalidate_corpus(); persisted in stats.json
        # so a reloaded index keeps its fit
        self._calibration: dict | None = calibration
        # streaming self-maintenance cadence (round 13 candidate #5):
        # first persisted by ingest_stream(maintain_every_n_batches=N)
        # and carried through every save_meta republish, so a
        # RESTARTED stream (ingest_stream with the arg left None)
        # keeps the cadence its index was configured with — the same
        # contract as ood_rebuild_rate in pq_meta.json. None = the
        # caller schedules maintenance (the historical default).
        self.maintain_every_n_batches: int | None = (
            None if maintain_every_n_batches is None
            else int(maintain_every_n_batches))
        # the scheduled maintain() call's kwargs ride along (round 13
        # follow-through): a restarted stream that resumes the cadence
        # must also resume e.g. its ood_rebuild_min_n, or the resumed
        # maintenance silently runs with defaults. JSON-serializable
        # only — ingest_stream warns and skips persisting otherwise.
        self.maintain_kwargs: dict | None = (
            dict(maintain_kwargs) if maintain_kwargs else None)
        # whether the scheduled maintain() runs OFF the batch thread
        # (round 14): rides with the cadence for the same reason the
        # kwargs do — a restarted stream that resumed the cadence but
        # silently reverted to the synchronous path would re-acquire
        # the ingest stall the deployment opted out of
        self.maintain_async: bool = bool(maintain_async)
        # lazily-built base corpus DataFrame for the CURRENT file set:
        # spark.read.parquet re-lists files + re-infers schema on every
        # call (hundreds of ms locally, worse with many files) — reuse
        # the relation until a write/version change invalidates it, and
        # pin the schema after the first read so later refreshes skip
        # footer-based inference entirely
        self._corpus_df = None
        self._corpus_schema = None

    # ------------------------------------------------------------ paths
    @property
    def version_dir(self) -> str:
        return os.path.join(self.workdir, f"v{self.version:04d}")

    @property
    def corpus_path(self) -> str:
        return os.path.join(self.version_dir, "corpus")

    # ------------------------------------------------------------ build
    @classmethod
    def build(cls, corpus_df: DataFrame, workdir: str,
              vec_col: str = "embedding", id_col: str = "vec_id",
              coarse_k: int = 16, base_k: int = 4,
              coarse_iters: int = 12, base_iters: int = 10,
              seed: int = 42, base_seed: int = 123,
              rows_per_centroid: int = 50,
              cell_train_cap: int = 100_000,
              train_cap: int = 200_000,
              coarse_train_cap: int = 20_000,
              metric: str = "l2",
              calibrate: bool = False) -> "IVFIndex":
        """Two-level build (reference ``build``, ipynb c1:66-90).

        Coarse: seeded Lloyd's over a deterministic hash-ordered sample
        of ≤ ``train_cap`` rows, trained driver-side — the standard IVF
        coarse-quantizer recipe (the quantizer needs a representative
        sample, not the corpus; a distributed Lloyd's here costs one
        Spark job PER ITERATION in scheduling overhead alone). Base:
        per coarse cell c, kb = min(base_k, max(1, n_c //
        rows_per_centroid)) centroids, seed base_seed+c, trained on ≤
        ``cell_train_cap`` rows per cell. Assignment is ALWAYS a full
        distributed pass (coarse → base argmin per Arrow batch) feeding
        one partitioned write.

        Small-corpus fast path: when the training sample IS the whole
        corpus (n ≤ train_cap), cell sizes, base training, and the
        exact partition means are all computed from the already-
        collected block — the build is 2 Spark jobs (sample + write)
        instead of ~6, which is what makes build latency comparable to
        the reference's in-process 0.54 s at n=40k. Both paths produce
        identically-structured, seeded-deterministic indexes.
        """
        spark = corpus_df.sparkSession
        if metric == "cosine":
            # cosine = L2 over unit vectors (monotone: d2 = 2 - 2cos);
            # normalize ONCE at build so search stays a pure L2 kernel
            corpus_df = corpus_df.withColumn(
                vec_col, _unit_normalize_expr(vec_col))
        elif metric != "l2":
            raise ValueError(f"unknown metric {metric!r} (l2|cosine)")

        # (id, vec) projection. Persisted ONLY on the large path, where
        # it feeds multiple passes (cell sizing, training sample, final
        # assignment); the small path touches the corpus exactly once,
        # so caching it would be pure overhead.
        from pyspark import StorageLevel
        proj = corpus_df.select(id_col, vec_col)

        # 1. training sample. First a sort-free CollectLimit probe:
        # limit(cap + 1) detects "the corpus fits on the driver" without
        # a count() job; if it does, the probe content IS the corpus and
        # no distributed sort is needed (order is canonicalized driver-
        # side). Only genuinely large corpora pay the hash-ordered
        # TakeOrdered job for a deterministic subset.
        samp_pdf = proj.limit(train_cap + 1).toPandas()
        whole_corpus = len(samp_pdf) <= train_cap
        if not whole_corpus:
            proj = proj.persist(StorageLevel.MEMORY_AND_DISK)
            samp_pdf = (proj
                        .withColumn("_h", F.xxhash64(F.col(id_col),
                                                     F.lit(seed)))
                        .orderBy("_h", id_col).limit(train_cap)
                        .select(id_col, vec_col).toPandas())
        train_ids = samp_pdf[id_col].to_numpy().astype(np.int64)
        train_x = np.vstack([np.asarray(v) for v in
                             samp_pdf[vec_col].to_numpy()]) \
            .astype(np.float64)
        # canonical order (id sort kills collect-order nondeterminism),
        # then ONE seeded permutation so every training prefix below —
        # coarse_train_cap, per-cell caps — is a random subset even for
        # adversarially sorted corpora
        order = np.argsort(train_ids, kind="stable")
        perm = np.random.default_rng(seed).permutation(len(order))
        train_ids = train_ids[order][perm]
        train_x = train_x[order][perm]

        # 2. coarse level: seeded Lloyd's on ≤ coarse_train_cap rows of
        # the hash-ordered sample (a random-subset prefix). A k=16..256
        # quantizer saturates far below 20k training points (the
        # standard ~256-samples-per-centroid rule); assignment below is
        # always over the full sample/corpus.
        coarse_cents, _ = local_kmeans(train_x[:coarse_train_cap],
                                       coarse_k, coarse_iters, seed=seed,
                                       final_assign=False)
        samp_cid = l2_argmin(train_x, coarse_cents)

        # 3. per-cell base training
        if whole_corpus:
            # the sample IS the corpus: exact cell sizes + base training
            # from the in-memory block, zero extra Spark jobs
            cell_sizes = {int(c): int(n) for c, n in
                          zip(*np.unique(samp_cid, return_counts=True))}
            def _fit_cell(c):
                n_cell = cell_sizes[c]
                kb = min(base_k, max(1, n_cell // rows_per_centroid))
                # 256 training rows per centroid saturates Lloyd's for
                # these tiny kb; rows are a hash-order (random) prefix
                cap = min(cell_train_cap, max(256 * kb, 1024))
                cell_vecs = train_x[samp_cid == c][:cap]
                cents, _ = local_kmeans(cell_vecs, kb, base_iters,
                                        seed=base_seed + c,
                                        final_assign=False)
                return cents

            # cells are independent (own seed, own rows) → thread the
            # driver-side fits; each fit's computation is unchanged, so
            # results are bit-identical to the serial c-loop, and
            # base_rows keeps the sorted-c order
            from concurrent.futures import ThreadPoolExecutor
            cells = sorted(cell_sizes)
            workers = min(len(cells), os.cpu_count() or 1, 16)
            base_rows = []
            with ThreadPoolExecutor(max_workers=max(workers, 1)) as ex:
                for c, cents in zip(cells, ex.map(_fit_cell, cells)):
                    base_rows.extend(
                        {"coarse_id": c, "local_idx": i,
                         "centroid": cent}
                        for i, cent in enumerate(cents))
        else:
            # distributed: tag the corpus with its coarse cell, count
            # cells, train each cell on a capped hash-ordered sample
            bc_coarse = spark.sparkContext.broadcast(coarse_cents)

            def tag_coarse(batches):
                cents = bc_coarse.value
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    vecs = np.vstack(pdf[vec_col].to_numpy()) \
                        .astype(np.float64)
                    pdf = pdf.copy()
                    pdf["coarse_id"] = l2_argmin(vecs, cents)
                    yield pdf[[id_col, vec_col, "coarse_id"]]

            tagged = proj.mapInPandas(
                tag_coarse,
                f"{id_col} long, {vec_col} array<float>, coarse_id long")

            cell_sizes = {r["coarse_id"]: r["n"] for r in
                          tagged.groupBy("coarse_id")
                          .agg(F.count("*").alias("n")).collect()}

            w = Window.partitionBy("coarse_id").orderBy("_h", id_col)
            sample = (tagged
                      .withColumn("_h", F.xxhash64(F.col(id_col),
                                                   F.lit(base_seed)))
                      .withColumn("_rn", F.row_number().over(w))
                      .where(F.col("_rn") <= cell_train_cap)
                      .drop("_h", "_rn"))

            def train_cell(key, pdf):
                c = int(key[0])
                n_cell = cell_sizes.get(c, len(pdf))
                kb = min(base_k, max(1, n_cell // rows_per_centroid))
                vecs = np.vstack(pdf[vec_col].to_numpy()) \
                    .astype(np.float64)
                cents, _ = local_kmeans(vecs, kb, base_iters,
                                        seed=base_seed + c,
                                        final_assign=False)
                return pd.DataFrame({
                    "coarse_id": c,
                    "local_idx": np.arange(len(cents), dtype=np.int64),
                    "centroid": list(cents),
                })

            base_rows = (sample.groupBy("coarse_id")
                         .applyInPandas(train_cell,
                                        "coarse_id long, local_idx long, "
                                        "centroid array<double>")
                         .collect())
            base_rows = sorted(
                ({"coarse_id": r["coarse_id"], "local_idx": r["local_idx"],
                  "centroid": np.asarray(r["centroid"])}
                 for r in base_rows),
                key=lambda r: (r["coarse_id"], r["local_idx"]))

        # global partition ids in (coarse_id, local_idx) order
        part_coarse = np.array([r["coarse_id"] for r in base_rows], dtype=np.int64)
        train_cents = np.array([r["centroid"] for r in base_rows])
        part_ids = np.arange(len(base_rows), dtype=np.int64)

        # 3. final assignment pass + partitioned write
        version = 0
        corpus_path = os.path.join(workdir, f"v{version:04d}", "corpus")
        pid_local = None
        if whole_corpus:
            # 4a. the whole corpus is already on the driver: assign
            # there (same argmin math as the worker path), upload once
            # via Arrow, and let the JVM do a pure columnar partitioned
            # write — no Python-worker chain, no read-back pass.
            pid_local = np.empty(len(train_x), dtype=np.int64)
            for c in np.unique(samp_cid):
                mask = samp_cid == c
                members = np.where(part_coarse == c)[0]
                local = l2_argmin(train_x[mask], train_cents[members])
                pid_local[mask] = part_ids[members[local]]
            # pyarrow Table straight from the flat buffer — avoids the
            # slow pandas object-array conversion path
            import pyarrow as pa
            n, d = train_x.shape
            flat = train_x.astype(np.float32).ravel()
            vec_arr = pa.FixedSizeListArray.from_arrays(
                pa.array(flat, type=pa.float32()), d).cast(
                pa.list_(pa.float32()))
            assigned = spark.createDataFrame(pa.table({
                id_col: pa.array(train_ids, type=pa.int64()),
                vec_col: vec_arr,
                "partition_id": pa.array(pid_local, type=pa.int64()),
            }))
        else:
            # 4b. distributed assignment: coarse → base argmin per
            # Arrow batch over the persisted projection
            bc_assign = spark.sparkContext.broadcast(
                (coarse_cents, train_cents, part_coarse, part_ids))

            def assign_partition(batches):
                ccents, bcents, pcoarse, pids = bc_assign.value
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    vecs = np.vstack(pdf[vec_col].to_numpy()) \
                        .astype(np.float64)
                    cid = l2_argmin(vecs, ccents)
                    pid = np.empty(len(pdf), dtype=np.int64)
                    for c in np.unique(cid):
                        mask = cid == c
                        members = np.where(pcoarse == c)[0]
                        local = l2_argmin(vecs[mask], bcents[members])
                        pid[mask] = pids[members[local]]
                    pdf = pdf.copy()
                    pdf["partition_id"] = pid
                    yield pdf[[id_col, vec_col, "partition_id"]]

            assigned = proj.mapInPandas(
                assign_partition,
                f"{id_col} long, {vec_col} array<float>, partition_id long")

        # explicit task count: a bare repartition(col) lets AQE coalesce
        # the (small) shuffle into ONE task that writes every partition
        # directory serially — pin enough writers to parallelize the
        # per-directory file commits
        n_writers = max(1, min(len(part_ids),
                               spark.sparkContext.defaultParallelism))
        (assigned.repartition(n_writers, "partition_id")
         .write.mode("overwrite").partitionBy("partition_id")
         .parquet(corpus_path))
        proj.unpersist()

        idx = cls(spark, workdir, version, vec_col, id_col,
                  metric=metric,
                  part_ids=part_ids,
                  centroids=train_cents,  # replaced by exact means below
                  sizes=np.zeros(len(part_ids), dtype=np.int64),
                  part_coarse=part_coarse,
                  coarse_centroids=coarse_cents,
                  hits={int(p): 0 for p in part_ids},
                  last_split_at={int(p): 0 for p in part_ids})
        if whole_corpus:
            # exact means from the in-memory block with the SAME
            # assignment just written — skips the read-back aggregation
            # job. Written vectors are float32: average the identical
            # float32-rounded values the corpus holds.
            x32 = train_x.astype(np.float32).astype(np.float64)
            keep, cents, sizes = [], [], []
            for i, p in enumerate(part_ids):
                m = pid_local == p
                n = int(m.sum())
                if n == 0:
                    continue
                keep.append(i)
                cents.append(x32[m].sum(axis=0) / n)
                sizes.append(n)
            idx.part_ids = part_ids[keep]
            idx.part_coarse = part_coarse[keep]
            idx.centroids = np.array(cents)
            idx.sizes = np.array(sizes, dtype=np.int64)
            dropped = set(int(p) for p in part_ids) - \
                set(int(p) for p in idx.part_ids)
            for p in dropped:
                idx.hits.pop(p, None)
                idx.last_split_at.pop(p, None)
        else:
            idx.recompute_centroids()
        idx.save_meta()
        if calibrate:
            # eager fit at build time (VERDICT r6 #2): a deployment
            # serving policy="calibrated" should never pay the
            # brute-force calibration pass inside a latency-sensitive
            # search call; calibrate() persists its own meta
            idx.calibrate()
        return idx

    # --------------------------------------------------------- metadata
    def recompute_centroids(self) -> None:
        """Exact per-partition mean + size from the live corpus (the
        reference caches these on the partition object, ipynb c1:42;
        here they're a small aggregate over the layout). Deterministic
        driver-side merge of per-batch partial sums."""
        df = self.read_corpus()
        vec_col = self.vec_col

        def partials(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                for pid, grp in pdf.groupby("partition_id"):
                    vecs = np.vstack(grp[vec_col].to_numpy()).astype(np.float64)
                    yield pd.DataFrame({
                        "partition_id": [int(pid)],
                        "cnt": [len(grp)],
                        "sums": [vecs.sum(axis=0)],
                    })

        rows = (df.select("partition_id", vec_col)
                .mapInPandas(partials,
                             "partition_id long, cnt long, sums array<double>")
                .collect())
        d = self.centroids.shape[1]
        sums: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for r in sorted(rows, key=lambda r: (r["partition_id"], r["cnt"],
                                             tuple(r["sums"]))):
            pid = r["partition_id"]
            sums[pid] = sums.get(pid, np.zeros(d)) + np.asarray(r["sums"])
            counts[pid] = counts.get(pid, 0) + r["cnt"]
        keep = [i for i, p in enumerate(self.part_ids) if counts.get(int(p), 0) > 0]
        dropped = (set(int(p) for p in self.part_ids)
                   - set(int(self.part_ids[i]) for i in keep))
        self.part_ids = self.part_ids[keep]
        self.part_coarse = self.part_coarse[keep]
        self.centroids = np.array(
            [sums[int(p)] / counts[int(p)] for p in self.part_ids])
        self.sizes = np.array([counts[int(p)] for p in self.part_ids],
                              dtype=np.int64)
        # prune per-partition stats for dropped partitions — save_meta
        # would otherwise persist the stale keys forever (unbounded
        # metadata growth + misleading hotness stats)
        for p in dropped:
            self.hits.pop(p, None)
            self.last_split_at.pop(p, None)

    def save_meta(self) -> None:
        meta_dir = self.version_dir
        os.makedirs(meta_dir, exist_ok=True)
        pd.DataFrame({
            "partition_id": self.part_ids,
            "coarse_id": self.part_coarse,
            "centroid": list(self.centroids),
            "size": self.sizes,
        }).to_parquet(os.path.join(meta_dir, "centroids.parquet"))
        pd.DataFrame({
            "coarse_id": np.arange(len(self.coarse_centroids)),
            "centroid": list(self.coarse_centroids),
        }).to_parquet(os.path.join(meta_dir, "coarse_centroids.parquet"))
        with open(os.path.join(meta_dir, "stats.json"), "w") as f:
            json.dump({
                "hits": {str(k): v for k, v in self.hits.items()},
                "last_split_at": {str(k): v for k, v in self.last_split_at.items()},
                "query_counter": self.query_counter,
                "tombstones": sorted(self.tombstones),
                "vec_col": self.vec_col,
                "id_col": self.id_col,
                "metric": self.metric,
                # persist the APS calibration fit with the version it
                # was estimated against; DML invalidates it in memory
                # BEFORE the republish, so a saved fit always matches
                # its corpus
                "calibration": self._calibration,
                # streaming cadence knobs: ride every republish so a
                # restarted stream keeps them (see __init__)
                "maintain_every_n_batches": self.maintain_every_n_batches,
                "maintain_kwargs": self.maintain_kwargs,
                "maintain_async": self.maintain_async,
            }, f)

    @classmethod
    def load(cls, spark: SparkSession, workdir: str,
             version: int | None = None) -> "IVFIndex":
        if version is None:
            # only COMPLETE publishes count: stats.json is written last
            # (after corpus append), so a dir without it is a crashed
            # half-publish — readers keep the previous version
            versions = sorted(
                int(v[1:]) for v in os.listdir(workdir)
                if v.startswith("v")
                and os.path.exists(os.path.join(workdir, v, "stats.json")))
            version = versions[-1]
        meta_dir = os.path.join(workdir, f"v{version:04d}")
        cents = pd.read_parquet(os.path.join(meta_dir, "centroids.parquet"))
        coarse = pd.read_parquet(os.path.join(meta_dir, "coarse_centroids.parquet"))
        with open(os.path.join(meta_dir, "stats.json")) as f:
            stats = json.load(f)
        return cls(spark, workdir, version,
                   stats["vec_col"], stats["id_col"],
                   metric=stats.get("metric", "l2"),
                   part_ids=cents["partition_id"].to_numpy(),
                   centroids=np.vstack(cents["centroid"].to_numpy()),
                   sizes=cents["size"].to_numpy(),
                   part_coarse=cents["coarse_id"].to_numpy(),
                   coarse_centroids=np.vstack(coarse["centroid"].to_numpy()),
                   hits={int(k): v for k, v in stats["hits"].items()},
                   last_split_at={int(k): v
                                  for k, v in stats["last_split_at"].items()},
                   query_counter=stats["query_counter"],
                   tombstones=set(stats["tombstones"]),
                   calibration=stats.get("calibration"),
                   maintain_every_n_batches=stats.get(
                       "maintain_every_n_batches"),
                   maintain_kwargs=stats.get("maintain_kwargs"),
                   maintain_async=stats.get("maintain_async", False))

    # ------------------------------------------------------------- read
    def invalidate_corpus(self) -> None:
        """Drop the cached corpus relation (file set changed: append,
        version publish). Also drops any fitted APS calibration — the
        cutoffs were estimated against the previous corpus/centroid
        geometry."""
        self._corpus_df = None
        self._calibration = None

    def read_corpus(self, partition_ids=None) -> DataFrame:
        """Live corpus view: partition-pruned scan + tombstone filter.

        IN/NOT-IN lists are built as single SQL expression strings —
        ``Column.isin(list)`` costs one py4j round-trip PER literal
        (~250 ms of socket chatter for a few hundred tombstones),
        ``F.expr`` is one call parsed JVM-side into the same plan."""
        if self._corpus_df is None:
            if self._corpus_schema is not None:
                # schema pinned from the first read: skips the footer
                # sampling + schema merge pass on every re-listing
                # (~40% of the post-DML refresh cost with many small
                # append files)
                reader = self.spark.read.schema(self._corpus_schema)
            else:
                reader = self.spark.read
            self._corpus_df = reader.parquet(self.corpus_path)
            self._corpus_schema = self._corpus_df.schema
        df = self._corpus_df
        if partition_ids is not None:
            ids_sql = ",".join(str(int(p)) for p in partition_ids)
            df = (df.where(F.expr(f"partition_id IN ({ids_sql})"))
                  if ids_sql else df.where(F.lit(False)))
        if self.tombstones:
            if len(self.tombstones) <= TOMBSTONE_ISIN_LIMIT:
                dead_sql = ",".join(str(int(t))
                                    for t in sorted(self.tombstones))
                df = df.where(
                    F.expr(f"{self.id_col} NOT IN ({dead_sql})"))
            else:
                dead = self.spark.createDataFrame(
                    [(int(t),) for t in self.tombstones], [self.id_col])
                df = df.join(F.broadcast(dead), self.id_col, "left_anti")
        return df

    # --------------------------------------------------------------- DML
    @property
    def next_part_id(self) -> int:
        return int(self.part_ids.max()) + 1 if len(self.part_ids) else 0

    def insert(self, ids, vecs, refresh: bool = True) -> np.ndarray:
        """O6 (ipynb c1:92-109): route each new vector to the nearest
        coarse cell, then the nearest base partition within it (creating
        a fresh partition when the cell has none); append; keep the
        partition centroid an exact mean (incremental update — old mean
        and size are exact, so the update is too).

        Micro-batch shape: routing is driver-side NumPy over the
        broadcast-scale centroid tables; the append is one partitioned
        parquet write. Streaming ingest wires this into foreachBatch.
        Returns the assigned partition id per input row so secondary
        structures (the PQ codes sidecar) can append partition-aligned.

        ``refresh=False`` skips the eager post-write file re-listing —
        for callers that immediately run maintenance (which republishes
        and re-lists anyway), the eager refresh is pure waste; the next
        reader re-lists lazily either way.
        """
        ids = np.asarray(ids, dtype=np.int64)
        vecs = np.asarray(vecs, dtype=np.float64)
        if len(ids) == 0:
            return np.empty(0, dtype=np.int64)
        # tombstoned-id re-insert closes the window BEFORE taking the
        # transition lock (round 16, ADVICE r15): the close joins a
        # potentially minutes-long background maintain, and doing
        # that under the lock blocked every other insert/delete and
        # batch-boundary finish on the handle for the duration.
        # finish_async_maintenance joins outside the lock and takes
        # it only for the swap. The in-lock re-check below stays — a
        # concurrent reopen between this close and the lock
        # acquisition must still be caught (there, unavoidably,
        # under the lock).
        id_set = set(int(i) for i in ids)
        self._close_window_for_reinsert(id_set)
        # cross-handle single-writer guard, the INSERT half (round 15
        # review finding — delete alone was one special case shy of
        # the contract): rows written through a second handle during
        # another handle's open window are never journaled, so the
        # swap's wholesale state adopt silently drops them from
        # bookkeeping (or the version link race drops the rows). The
        # guard holds the advisory lock SHARED across the whole write
        # (round 16, ADVICE r15) so a window open racing this write
        # waits for it to land instead of snapshotting past it.
        with _window_lock(self):
            # in-lock fallback for the close-before-purge contract
            # (ADVICE r14 high): a NEW window can open between the
            # pre-lock close above and the lock acquisition. Runs
            # BEFORE the guard is entered (round 16 review #2): a
            # close here clears the marker, and a guard entered
            # earlier — while the window was still open — would have
            # skipped the shared flock, leaving the rest of the write
            # unprotected against a foreign open.
            if (getattr(self, "_async_maint", None) and self.tombstones
                    and (self.tombstones & id_set)):
                self._finish_own_window()
            with _foreign_write_guard(self, "insert"):
                return self._insert_locked(ids, vecs, refresh)

    def _finish_own_window(self) -> bool:
        """Join + swap THIS handle's open async window, reusing the
        stream's sidecar books cache (ADVICE r15). Returns False when
        no window is open. The single shared finish call for every
        write-path close (round 16 review #4 — the previous five
        copies were exactly how round 15's missed-guard bug
        happened)."""
        st = getattr(self, "_async_maint", None)
        if not st:
            return False
        from quake_vector_search_spark.streaming.ingest import (
            finish_async_maintenance,
        )

        finish_async_maintenance(
            self,
            books_cache=getattr(self, "_stream_books_cache", None),
            encode_pq=bool(st.get("encode_pq", True)))
        return True

    def _close_window_for_reinsert(self, id_set: set[int]) -> None:
        """Join + swap this handle's open async window when any id in
        ``id_set`` is currently tombstoned — the staged purge a
        re-insert runs must not race the background maintain's
        publish into the same version directory (ADVICE r14 high).
        Called OUTSIDE the window-transition lock (ADVICE r15) so the
        thread join doesn't serialize the whole handle; loops because
        a new window can open between the swap and our return."""
        while True:
            st = getattr(self, "_async_maint", None)
            if not (st and self.tombstones
                    and (self._tombstone_snapshot() & id_set)):
                return
            self._finish_own_window()

    def _insert_locked(self, ids, vecs, refresh: bool) -> np.ndarray:
        # caller holds _window_lock + _foreign_write_guard, and has
        # already run the close-before-purge re-insert gate
        # drop the calibration fit BEFORE any save_meta below — the
        # staged-publish path persists meta, and a fit estimated
        # against the pre-insert corpus must not ride along
        self._calibration = None
        if self.metric == "cosine":
            vecs = vecs / (np.linalg.norm(vecs, axis=1, keepdims=True)
                           + 1e-12)
        cid = l2_argmin(vecs, self.coarse_centroids)
        pid = np.empty(len(ids), dtype=np.int64)
        for c in np.unique(cid):
            mask = cid == c
            members = np.where(self.part_coarse == c)[0]
            if len(members) == 0:
                # empty coarse cell → new partition seeded by first vector
                # (reference creates one partition per inserted vector
                # in this case; we batch them into one — same routing
                # outcome for subsequent inserts, documented divergence)
                new_pid = self.next_part_id
                nv = vecs[mask]
                self.part_ids = np.append(self.part_ids, new_pid)
                self.part_coarse = np.append(self.part_coarse, c)
                self.centroids = np.vstack([self.centroids, nv.mean(axis=0)])
                self.sizes = np.append(self.sizes, len(nv))
                self.hits[new_pid] = 0
                self.last_split_at[new_pid] = 0
                pid[mask] = new_pid
                continue
            local = l2_argmin(vecs[mask], self.centroids[members])
            chosen = members[local]
            pid[mask] = self.part_ids[chosen]
            # exact incremental centroid update per touched partition
            for pos in np.unique(chosen):
                m2 = mask.copy()
                m2[mask] = local == np.where(members == pos)[0][0]
                add = vecs[m2]
                n_old = self.sizes[pos]
                self.centroids[pos] = (
                    self.centroids[pos] * n_old + add.sum(axis=0)
                ) / (n_old + len(add))
                self.sizes[pos] += len(add)
        # Re-inserted ids stop being tombstones — but their OLD parquet
        # rows are still on disk (delete() only tombstones). Clearing the
        # tombstone alone would resurrect the stale row (two live rows
        # per id, bookkeeping out of sync with the visible corpus); the
        # reference physically removes the vector at delete (ipynb
        # c1:111-125), so physically purge the old rows first. Only the
        # affected partition directories are rewritten; plain inserts
        # (no re-used id) never pay this.
        id_set = set(int(i) for i in ids)
        reinserted = self.tombstones & id_set
        self.tombstones -= id_set
        # STAGE (don't publish) the purge of re-used ids' old rows: the
        # new rows must land in the staged corpus BEFORE the version
        # flip + save_meta, or a crash in between leaves the latest
        # loadable version's meta counting rows its corpus doesn't hold
        staged_version = None
        if reinserted:
            staged_version = self._purge_rows(reinserted, publish=False)

        # pyarrow Table straight from the flat buffer: type-exact floats
        # regardless of the session's Arrow config (the pandas fallback
        # path rejects numpy.float32 elements in its row verifier)
        import pyarrow as pa

        n, d = vecs.shape
        flat = vecs.astype(np.float32).ravel()
        vec_arr = pa.FixedSizeListArray.from_arrays(
            pa.array(flat, type=pa.float32()), d).cast(
            pa.list_(pa.float32()))
        sdf = self.spark.createDataFrame(pa.table({
            self.id_col: pa.array(ids, type=pa.int64()),
            self.vec_col: vec_arr,
            "partition_id": pa.array(pid, type=pa.int64()),
        }))
        target_corpus = (self.corpus_path if staged_version is None
                         else os.path.join(self.workdir,
                                           f"v{staged_version:04d}",
                                           "corpus"))
        (sdf.write.mode("append").partitionBy("partition_id")
         .parquet(target_corpus))
        if staged_version is not None:
            # single publish point, after the corpus is complete;
            # save_meta writes stats.json last = the publish marker
            self.version = staged_version
            self.save_meta()
        self.invalidate_corpus()
        if getattr(self, "_async_maint", None):
            # window open on THIS handle: journal the batch here, at
            # the write itself (round 15 review finding) — so
            # out-of-band same-handle inserts survive the swap with
            # no caller cooperation, exactly like delete()'s
            # self-journaling; ingest_stream's handler no longer
            # journals separately
            _journal_batch(self, ids, pid, self.version)
        if refresh:
            # eager metadata refresh: pay the file re-listing here,
            # inside the write path, not inside the next query's latency
            self.read_corpus()
        return pid

    def route_distributed(self, df: DataFrame) -> DataFrame:
        """Distributed twin of ``insert``'s driver-side routing
        (round 10, VERDICT r9 #4): tag each (id, embedding) row with
        its ``partition_id`` in ONE ``mapInPandas`` pass over
        broadcast centroid state — no collect, no shuffle (the
        downstream writer's partitionBy is the only exchange), so the
        routing job scales with executors instead of the driver.
        Routing policy is byte-identical to ``insert``: cosine
        normalize → nearest coarse cell → nearest base partition
        within it. Rows landing in an EMPTY coarse cell get the
        SENTINEL pid ``-(cell+1)``; ``insert_distributed`` remaps
        sentinels to fresh partition ids after its aggregate pass in
        sorted-cell order — the same order the driver path assigns,
        so assigned pids match exactly. The output embedding column
        is float64 and already normalized for cosine indexes (what
        centroid math and sidecar encoders consume); the corpus
        writer casts to float32, matching ``insert``."""
        state = {
            "coarse": self.coarse_centroids,
            "cents": self.centroids,
            "part_ids": self.part_ids,
            "part_coarse": self.part_coarse,
            "metric": self.metric,
        }
        bc = self.spark.sparkContext.broadcast(state)
        id_col, vec_col = self.id_col, self.vec_col

        def route(batches):
            from quake_vector_search_spark.functions.vector import (
                l2_argmin,
            )
            st = bc.value
            members_by_cell = {
                int(c): np.where(st["part_coarse"] == c)[0]
                for c in range(len(st["coarse"]))}
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.vstack(pdf[vec_col].to_numpy()).astype(
                    np.float64)
                if st["metric"] == "cosine":
                    V = V / (np.linalg.norm(V, axis=1, keepdims=True)
                             + 1e-12)
                cid = l2_argmin(V, st["coarse"])
                pid = np.empty(len(V), dtype=np.int64)
                for c in np.unique(cid):
                    mask = cid == c
                    members = members_by_cell[int(c)]
                    if len(members) == 0:
                        pid[mask] = -(int(c) + 1)
                        continue
                    local = l2_argmin(V[mask], st["cents"][members])
                    pid[mask] = st["part_ids"][members[local]]
                yield pd.DataFrame({
                    id_col: pdf[id_col].astype("int64"),
                    vec_col: list(V),
                    "partition_id": pid,
                })

        return df.select(id_col, vec_col).mapInPandas(
            route,
            f"{id_col} long, {vec_col} array<double>, "
            "partition_id long")

    def insert_distributed(self, df: DataFrame,
                           refresh: bool = True,
                           unpersist: bool = True) -> DataFrame:
        """O6 at BACKFILL scale (round 10, VERDICT r9 #4): the
        driver-side ``insert`` collects the batch and routes it in
        driver NumPy — right for streaming micro-batches (hundreds of
        rows beat a Spark job), wrong for a million-row backfill. This
        twin routes with ``route_distributed`` (mapInPandas, no
        collect on the data path), appends with one partitioned write,
        and keeps the exact-mean centroid invariant from per-partition
        (count, Σvec) aggregates computed as map-side partials + one
        metadata-scale combine — only partition-count-sized rows ever
        reach the driver.

        Parity with ``insert``: identical routing (same kernel, same
        sorted-cell new-pid assignment — pinned by the pid-equality
        test), identical tombstone/re-insert purge semantics through
        the same staged ``_purge_rows`` publish point, identical
        float32 corpus rows. Centroids agree up to float summation
        order (the driver path sums batch rows in input order; the
        distributed path sums per Arrow batch then combines).

        Returns the routed frame (id, float64-normalized embedding,
        partition_id) for secondary structures — the streaming sidecar
        appender encodes straight from it without another pass. With
        the default ``unpersist=True`` the routing cache is dropped
        before returning (consuming the returned frame recomputes one
        routing pass); callers that immediately consume it — the
        sidecar appender — pass ``unpersist=False`` and release the
        cache themselves via the returned frame's ``routing_cache``
        attribute.
        """
        # tombstoned-id re-insert closes the window BEFORE taking the
        # transition lock — see insert() (round 16, ADVICE r15). The
        # distributed twin probes with one bounded broadcast-join job
        # per iteration; the loop almost never iterates twice.
        # the token is captured BEFORE each verdict it validates
        # (round 16 second review #2): captured after, a window open
        # or tombstone mutation in the gap between verdict and
        # capture would be hidden — the in-lock comparison would see
        # matching tokens and wrongly skip the re-probe. Captured
        # before, any such mutation makes the tokens differ and the
        # in-lock fallback re-probes (conservative). The token lets
        # the steady streaming state (window open, tombstones
        # standing, batch clean) pay the probe job ONCE per batch,
        # not twice.
        while True:
            probe_token = self._reinsert_probe_token()
            st = getattr(self, "_async_maint", None)
            if not (st and self.tombstones
                    and self._reinsert_probe_hit(df)):
                break
            self._finish_own_window()
        # cross-handle single-writer guard — see insert()
        with _window_lock(self):
            # in-lock fallback, BEFORE the guard is entered (round 16
            # review #2 — see insert()): only probes when a window
            # opened or the tombstone set mutated since the pre-lock
            # verdict
            if (getattr(self, "_async_maint", None) and self.tombstones
                    and self._reinsert_probe_token() != probe_token
                    and self._reinsert_probe_hit(df)):
                self._finish_own_window()
            with _foreign_write_guard(self, "insert"):
                return self._insert_distributed_locked(df, refresh,
                                                       unpersist)

    def _tombstone_snapshot(self) -> frozenset:
        """Point-in-time copy of the tombstone set, safe to take
        OUTSIDE the window-transition lock (a concurrent delete
        mutating the set mid-iteration raises; retry — the snapshot
        is advisory, the in-lock fallback re-checks)."""
        while True:
            try:
                return frozenset(self.tombstones)
            except RuntimeError:
                continue

    def _reinsert_probe_token(self) -> tuple:
        """Identity of the state a re-insert probe verdict depends
        on: the open window (by state-dict identity) and the
        tombstone set (by contents)."""
        st = getattr(self, "_async_maint", None)
        return (id(st) if st else None, self._tombstone_snapshot())

    def _reinsert_probe_hit(self, df: DataFrame) -> bool:
        """Does ``df`` carry any currently-tombstoned id? One bounded
        broadcast-join metadata job (no vectors move). The tombstone
        frame is CACHED on the handle keyed by the set's contents
        (round 16, VERDICT r15 #6): a long window replaying many big
        batches against a stable tombstone set re-creates the frame
        zero times instead of once per batch — and a tombstone-free
        index short-circuits at the caller without any job."""
        snap = self._tombstone_snapshot()
        if not snap:
            # the set can empty between the caller's truthiness check
            # (outside the lock) and this snapshot — e.g. a
            # batch-boundary swap adopting the clone's compacted
            # state; an empty list would also crash createDataFrame's
            # schema inference (round 16 review #3)
            return False
        cached = getattr(self, "_tomb_frame", None)
        # key on the SNAPSHOT itself, not its hash — a hash collision
        # would reuse a stale frame and skip the window-close gate
        if cached is None or cached[0] != snap:
            tomb = self.spark.createDataFrame(
                [(int(t),) for t in sorted(snap)], [self.id_col])
            self._tomb_frame = cached = (snap, tomb)
        return bool(df.select(self.id_col)
                    .join(F.broadcast(cached[1]), self.id_col,
                          "inner")
                    .limit(1).count())

    def _insert_distributed_locked(self, df: DataFrame, refresh: bool,
                                   unpersist: bool) -> DataFrame:
        # caller holds _window_lock + _foreign_write_guard, and has
        # already run the close-before-purge re-insert gate
        id_col, vec_col = self.id_col, self.vec_col
        self._calibration = None
        routed = self.route_distributed(df).persist()

        def partials(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.vstack(pdf[vec_col].to_numpy())
                p = pdf["partition_id"].to_numpy()
                out_p, out_n, out_s = [], [], []
                for u in np.unique(p):
                    m = p == u
                    out_p.append(int(u))
                    out_n.append(int(m.sum()))
                    out_s.append(V[m].sum(axis=0))
                yield pd.DataFrame({"partition_id": out_p,
                                    "n": out_n, "vsum": out_s})

        def combine(key, pdf):
            return pd.DataFrame({
                "partition_id": [int(key[0])],
                "n": [int(pdf["n"].sum())],
                "vsum": [np.vstack(pdf["vsum"].to_numpy()).sum(axis=0)],
            })

        agg = (routed
               .mapInPandas(partials,
                            "partition_id long, n long, "
                            "vsum array<double>")
               .groupBy("partition_id")
               .applyInPandas(combine,
                              "partition_id long, n long, "
                              "vsum array<double>")
               .collect())
        if not agg:
            # empty batch: same return contract as the normal path —
            # honor the unpersist flag and hand callers that asked to
            # keep the cache a routing_cache to release (ADVICE r10:
            # the unconditional unpersist left ingest_stream's finally
            # block reading a missing attribute)
            if unpersist:
                routed.unpersist()
            else:
                routed.routing_cache = routed
            return routed
        # remap sentinel pids for empty coarse cells that actually
        # received rows, in sorted-cell order (matches insert()'s
        # np.unique iteration), and register the new partitions with
        # exact-mean centroids from the aggregates
        sentinel_cells = sorted(-int(r["partition_id"]) - 1
                                for r in agg if r["partition_id"] < 0)
        mapping: dict[int, int] = {}
        agg_by_pid = {int(r["partition_id"]): r for r in agg}
        for c in sentinel_cells:
            new_pid = self.next_part_id
            r = agg_by_pid[-(c + 1)]
            vsum = np.asarray(r["vsum"], dtype=np.float64)
            self.part_ids = np.append(self.part_ids, new_pid)
            self.part_coarse = np.append(self.part_coarse, c)
            self.centroids = np.vstack(
                [self.centroids, vsum / r["n"]])
            self.sizes = np.append(self.sizes, r["n"])
            self.hits[new_pid] = 0
            self.last_split_at[new_pid] = 0
            mapping[-(c + 1)] = new_pid
        pos_of = {int(p): i for i, p in enumerate(self.part_ids)}
        for r in agg:
            pid = int(r["partition_id"])
            if pid < 0:
                continue
            pos = pos_of[pid]
            vsum = np.asarray(r["vsum"], dtype=np.float64)
            n_old = self.sizes[pos]
            self.centroids[pos] = (
                self.centroids[pos] * n_old + vsum) / (n_old + r["n"])
            self.sizes[pos] += r["n"]
        # tombstone re-inserts: find the (typically tiny) intersection
        # distributedly, then reuse insert()'s staged purge+publish
        reinserted: set[int] = set()
        if self.tombstones:
            tomb = self.spark.createDataFrame(
                [(int(t),) for t in self.tombstones], [id_col])
            hit = (routed.select(id_col)
                   .join(F.broadcast(tomb), id_col, "inner")
                   .distinct().collect())
            reinserted = {int(r[0]) for r in hit}
            self.tombstones -= reinserted
        staged_version = (self._purge_rows(reinserted, publish=False)
                          if reinserted else None)
        out = routed
        if mapping:
            from itertools import chain
            mcol = F.create_map(
                [F.lit(int(x)) for x in chain(*mapping.items())])
            out = routed.withColumn(
                "partition_id",
                F.coalesce(mcol[F.col("partition_id")],
                           F.col("partition_id")))
        target_corpus = (self.corpus_path if staged_version is None
                         else os.path.join(self.workdir,
                                           f"v{staged_version:04d}",
                                           "corpus"))
        (out.withColumn(vec_col, F.col(vec_col).cast("array<float>"))
         .write.mode("append").partitionBy("partition_id")
         .parquet(target_corpus))
        if staged_version is not None:
            self.version = staged_version
            self.save_meta()
        if getattr(self, "_async_maint", None):
            # window open on THIS handle: journal at the write itself
            # (round 15 — same self-journaling contract as insert();
            # the routing cache is still live here, so the journal
            # append reuses it instead of recomputing the routing)
            _journal_batch_distributed(self, out, self.version)
        if unpersist:
            # drop the routing cache now that the write ran — the
            # returned frame stays usable (routing is deterministic,
            # so consuming it recomputes one cheap argmin pass
            # instead of holding executor memory)
            routed.unpersist()
        else:
            # caller will consume the frame immediately — hand it the
            # cache to release when done
            out.routing_cache = routed
        self.invalidate_corpus()
        if refresh:
            self.read_corpus()
        return out

    def _purge_rows(self, dead_ids: set[int],
                    publish: bool = True) -> int | None:
        """Physically remove the given ids' rows by staging a NEW
        version directory — the same copy-on-write publish primitive
        maintenance versioning uses. Unaffected partition dirs are
        hardlinked (object-store analogue: manifest pointing at old
        files — zero rewrite either way); only the partitions that
        contain a dead id are rewritten. The old version stays intact
        until the new one is complete, so a crash mid-publish loses
        nothing — stats.json is written LAST (load() ignores dirs
        without it), so readers keep the old version until the flip.

        With ``publish=False`` the new dir is staged but self.version /
        meta are untouched — insert() uses this to append the re-used
        ids' NEW rows into the staged corpus before the single publish
        point, closing the crash window where meta counted rows the
        corpus didn't yet hold. Returns the staged version number, or
        None if no partition held a dead id."""
        from quake_vector_search_spark.operators.maintenance import (
            _link_partition_dir,
        )

        ids_sql = ",".join(str(int(i)) for i in sorted(dead_ids))
        raw = self.spark.read.parquet(self.corpus_path)
        parts = set(int(r["partition_id"]) for r in
                    raw.where(F.expr(f"{self.id_col} IN ({ids_sql})"))
                       .select("partition_id").distinct().collect())
        if not parts:
            return None
        old_corpus = self.corpus_path
        new_version = self.version + 1
        new_corpus = os.path.join(
            self.workdir, f"v{new_version:04d}", "corpus")
        os.makedirs(new_corpus, exist_ok=True)
        for entry in os.listdir(old_corpus):
            if not entry.startswith("partition_id="):
                continue
            pid = int(entry.split("=", 1)[1])
            if pid not in parts:
                _link_partition_dir(os.path.join(old_corpus, entry),
                                    os.path.join(new_corpus, entry))
        part_sql = ",".join(str(p) for p in sorted(parts))
        keep = (raw.where(F.expr(f"partition_id IN ({part_sql})"))
                .where(F.expr(f"{self.id_col} NOT IN ({ids_sql})")))
        keep.write.mode("append").partitionBy("partition_id") \
            .parquet(new_corpus)
        if publish:
            self.version = new_version
            self.invalidate_corpus()
            self.save_meta()
        return new_version

    def delete(self, ids) -> None:
        """O7 (ipynb c1:111-125): delete by id. The reference's O(1)
        swap-remove through id2loc becomes a *tombstone*: the id is
        filtered out of every read until maintenance compacts it away.
        Centroids stay exact: one pruned lookup fetches the dying rows'
        vectors and partition ids, and the means are downdated.

        Runs under the handle's window-transition lock (round 15): an
        out-of-band delete must land either wholly BEFORE an async
        swap's snapshot (so the swap journals/replays it) or wholly
        AFTER the adopt (so it applies to the adopted state) — never
        interleaved with it.
        """
        ids = [int(i) for i in ids]
        if not ids:
            return
        # cross-handle single-writer guard (round 15, VERDICT r14
        # #4): another handle's open async-maintenance window is
        # visible through the on-disk marker — a delete through THIS
        # handle would neither be journaled with that window's
        # sequence stamps nor survive the wholesale state adopt at
        # its swap (silent resurrection). The marker is cleared at
        # the swap, at a background failure, and by the
        # crash-recovery re-attach. The guard additionally holds the
        # advisory lock SHARED across the write (round 16, ADVICE
        # r15) so a racing window open cannot snapshot past it.
        with _window_lock(self), _foreign_write_guard(self, "delete"):
            self._delete_locked(ids)

    def _delete_locked(self, ids: list[int]) -> None:
        # caller holds _window_lock + _foreign_write_guard
        # tombstones change the live corpus without touching files —
        # the calibration fit still goes stale
        self._calibration = None
        rows = (self.read_corpus()
                .where(F.col(self.id_col).isin(ids))
                .select(self.id_col, self.vec_col, "partition_id")
                .collect())
        by_pid: dict[int, list[np.ndarray]] = {}
        found = set()
        for r in rows:
            by_pid.setdefault(int(r["partition_id"]), []).append(
                np.asarray(r[self.vec_col], dtype=np.float64))
            found.add(int(r[self.id_col]))
        pos_of = {int(p): i for i, p in enumerate(self.part_ids)}
        for pid_, dead in by_pid.items():
            pos = pos_of[pid_]
            n_old = self.sizes[pos]
            n_new = n_old - len(dead)
            if n_new > 0:
                self.centroids[pos] = (
                    self.centroids[pos] * n_old - np.sum(dead, axis=0)
                ) / n_new
            # size 0 → centroid kept stale, like the reference (c1:121-122)
            self.sizes[pos] = n_new
        self.tombstones |= found
        if getattr(self, "_async_maint", None) and found:
            # async maintenance window open (round 14): the
            # background clone was loaded before this delete, so the
            # version it publishes still holds these rows — journal
            # the ids and the swap re-applies the delete on the
            # adopted state (idempotent through the tombstone
            # filter). Same-handle out-of-band deletes thus survive
            # the window; see ingest_stream's maintain_async notes.
            _journal_deletes(self, found)

    # -------------------------------------------------------------- APS
    def partition_scores(self, qmat: np.ndarray,
                         route_cells: int | None = None,
                         ) -> tuple[np.ndarray, np.ndarray]:
        """O8 (ipynb c1:127-137): per-query softmax over partitions of
        ``-dist/tau + 0.5·ln(size+1)``, tau = median(dist)+1e-6.
        Vectorized over the whole query batch. Returns (order [nq,P]
        descending-probability partition indices w/ index tie-break,
        probs_sorted [nq,P]).

        ``route_cells`` is the large-P scale path: score the (tiny)
        coarse level first and restrict base scoring to each query's
        ``route_cells`` nearest coarse cells — the per-query score
        matrix shrinks from P columns to the routed cells' members.
        Driver NumPy over all P centroids is fine to ~10⁵ partitions;
        past that the full matrix + sort dominates batch latency, and
        the reference keeps exactly this two-level routing for its
        insert path (ipynb c1:93-97). Documented divergence: tau and
        the softmax normalize over the routed subset, so probabilities
        (hence adaptive nprobe) differ from the full scoring — a
        restriction, never an expansion, of the probe candidates.
        ``route_cells >= n_cells`` reduces exactly to full scoring
        (asserted by tests)."""
        qmat = np.atleast_2d(qmat)
        if (route_cells is not None
                and route_cells < len(self.coarse_centroids)):
            return self._partition_scores_routed(qmat, route_cells)
        d2 = l2_batch(qmat, self.centroids)
        dist = np.sqrt(d2)
        tau = np.median(dist, axis=1, keepdims=True) + 1e-6
        logits = -dist / tau + 0.5 * np.log(self.sizes[None, :] + 1.0)
        logits -= logits.max(axis=1, keepdims=True)
        p = np.exp(logits)
        p /= p.sum(axis=1, keepdims=True)
        # sort desc by p, ties by partition index asc (deterministic)
        nq, P = p.shape
        idx = np.arange(P)[None, :].repeat(nq, axis=0)
        order = np.lexsort((idx, -p), axis=1)
        return order, np.take_along_axis(p, order, axis=1)

    def _partition_scores_routed(self, qmat: np.ndarray, route_cells: int
                                 ) -> tuple[np.ndarray, np.ndarray]:
        """Two-level APS: coarse top-``route_cells`` per query, then the
        softmax/tau computed over only those cells' member partitions.
        Columns of the score matrix are the batch-union of routed
        members (queries in one batch cluster, so the union stays far
        below P); a query's non-routed members score probability 0 and
        sort last. Returned positions are GLOBAL partition positions,
        so callers index sizes/part_ids unchanged."""
        nq = qmat.shape[0]
        # only cells that actually have member partitions are routable
        # (insert can empty a cell's partition list via maintenance)
        has_members = np.isin(np.arange(len(self.coarse_centroids)),
                              self.part_coarse)
        cell_ids = np.where(has_members)[0]
        dc = np.sqrt(l2_batch(qmat, self.coarse_centroids[cell_ids]))
        r = min(route_cells, len(cell_ids))
        cidx = np.arange(len(cell_ids))[None, :].repeat(nq, axis=0)
        ordc = np.lexsort((cidx, dc), axis=1)[:, :r]
        chosen_cells = cell_ids[ordc]                       # [nq, r]
        # membership mask over global partition positions: one boolean
        # gather (no per-query loop) — [nq, C] cell mask → [nq, P]
        chosen_mask = np.zeros((nq, len(self.coarse_centroids)),
                               dtype=bool)
        chosen_mask[np.arange(nq)[:, None], chosen_cells] = True
        valid = chosen_mask[:, self.part_coarse]
        cols = np.where(valid.any(axis=0))[0]               # batch union
        d2 = l2_batch(qmat, self.centroids[cols])
        dist = np.sqrt(d2)
        v = valid[:, cols]
        dist_masked = np.where(v, dist, np.nan)
        tau = np.nanmedian(dist_masked, axis=1, keepdims=True) + 1e-6
        logits = np.where(
            v, -dist / tau + 0.5 * np.log(self.sizes[None, cols] + 1.0),
            -np.inf)
        logits -= logits.max(axis=1, keepdims=True)
        p = np.exp(logits)
        p /= p.sum(axis=1, keepdims=True)
        idx = cols[None, :].repeat(nq, axis=0)
        order_local = np.lexsort((idx, -p), axis=1)
        return (np.take_along_axis(idx, order_local, axis=1),
                np.take_along_axis(p, order_local, axis=1))

    @staticmethod
    def choose_nprobe(probs_sorted: np.ndarray, target_recall: float,
                      max_probe: int) -> np.ndarray:
        """O9 (ipynb c1:139-145): smallest prefix with cumulative
        probability ≥ target_recall, in [1, max_probe]."""
        cum = np.cumsum(probs_sorted, axis=1)
        reached = cum >= target_recall
        nprobe = np.where(reached.any(axis=1),
                          reached.argmax(axis=1) + 1,
                          probs_sorted.shape[1])
        return np.clip(nprobe, 1, min(max_probe, probs_sorted.shape[1]))

    # ----------------------------------------------------- calibration
    def calibrate(self, n_queries: int = 64, k: int = 10,
                  targets: tuple = (0.3, 0.5, 0.7, 0.8, 0.9, 0.95,
                                    0.99),
                  margin: float = 0.02, seed: int = 1234,
                  route_cells: int | None = None) -> dict:
        """Fit ``policy="calibrated"`` cutoffs for adaptive probing.

        The reference APS policy treats the softmax cumulative mass as
        if it were recall — but the ``-dist/tau`` logits with tau =
        median(dist) are nearly FLAT on realistic data, so cumulative
        mass 0.9 is only reached after ~90% of partitions (the
        reference's own captured run probed 62.7/64 at target 0.9;
        BASELINE.md caveat, ipynb c1:132-145). This fits the actual
        mass→recall mapping on a held-out seeded query sample:

        1. sample ``n_queries`` corpus vectors deterministically
           (xxhash64 top-n — TakeOrdered, no full sort at scale);
        2. exact ground truth via brute force (one distributed pass);
        3. look up each true neighbor's partition (k·n_queries-row
           join against the corpus — tiny);
        4. driver-side: for each query, coverage-by-prefix under the
           UNCHANGED softmax ordering; since probed partitions are
           scanned exactly, coverage IS recall@k;
        5. per target t, the cutoff is the smallest cumulative mass c
           whose mean achieved recall on the sample ≥ t + ``margin``
           + the target's CROSS-FITTED deficit (below).

        Low-target safety (VERDICT r7 #2): at small prefixes the
        coverage curve is steep, so a cutoff tuned to where the train
        mean barely crosses t generalizes with a measurable deficit
        (measured at 400k/256 parts: train 0.55 → held-out 0.47 at
        t=0.5, while t=0.9 holds). The fit therefore 2-fold
        cross-fits each target — cutoffs fitted on one half, achieved
        recall measured on the other — and refits on the full sample
        with ``margin`` boosted by the worst observed deficit. High
        targets measure ~zero deficit and keep their cutoffs; low
        targets get exactly the cushion the data says they need.
        Targets BELOW the fitted range warn at query time
        (``_calibrated_rule``) and clamp to the lowest fitted cutoff;
        above-range asks clamp silently to the most conservative one.

        Scale: steps 1-3 are one narrow scan + one brute-force top-k
        over the sample (same cost as ``n_queries`` exact queries) —
        run once per index version, amortized over every calibrated
        search. Returns the fitted {"targets", "cutoffs"} mapping and
        stores it on the index (invalidated by DML/maintenance).

        ``route_cells`` (round 7) fits against the ROUTED two-level
        scoring instead of full scoring — the >10⁵-partition scale
        path, where a full centroid scan per query is itself the
        bottleneck. The routed softmax renormalizes over each query's
        nearest coarse cells, so its mass→recall mapping is a
        DIFFERENT function; the fit records which restriction it was
        estimated under and ``search`` only accepts a matching
        ``route_cells``. Neighbors outside a query's routed cells are
        unreachable at any prefix and correctly depress the achieved
        coverage the fit sees.
        """
        from quake_vector_search_spark.operators.knn import knn_bruteforce
        # normalize exactly like search(): route_cells >= n_cells IS
        # full scoring, so the fit must record None or a matched
        # search pair would spuriously refuse on "restriction mismatch"
        if (route_cells is not None
                and route_cells >= len(self.coarse_centroids)):
            route_cells = None
        corpus = self.read_corpus()
        qrows = (corpus.select(self.id_col, self.vec_col)
                 .orderBy(F.xxhash64(F.col(self.id_col), F.lit(seed)))
                 .limit(n_queries).collect())
        qids = np.array([r[self.id_col] for r in qrows], dtype=np.int64)
        qmat = np.array([r[self.vec_col] for r in qrows],
                        dtype=np.float64)
        if self.metric == "cosine":
            qmat = qmat / (np.linalg.norm(qmat, axis=1, keepdims=True)
                           + 1e-12)
        exact = knn_bruteforce(corpus, (qids, qmat), k=k,
                               id_col=self.id_col, vec_col=self.vec_col)
        truth = (exact.select("query_id", "vec_id")
                 .join(corpus.select(F.col(self.id_col).alias("vec_id"),
                                     "partition_id"), "vec_id")
                 .collect())
        parts_by_q: dict[int, list[int]] = {}
        for r in truth:
            parts_by_q.setdefault(int(r["query_id"]), []).append(
                int(r["partition_id"]))
        order, probs = self.partition_scores(qmat,
                                             route_cells=route_cells)
        cum = np.cumsum(probs, axis=1)
        nq, P = probs.shape
        # coverage-by-prefix per query (coverage == recall: probed
        # partitions are scanned exactly)
        cov = np.zeros((nq, P))
        for qi in range(nq):
            tp = np.array(parts_by_q.get(int(qids[qi]), []),
                          dtype=np.int64)
            if not len(tp):
                cov[qi, :] = 1.0
                continue
            probe_parts = self.part_ids[order[qi]]
            # weight by neighbor COUNT per partition (k neighbors in
            # one partition are k/k coverage, not 1/k)
            pos_of = {int(p): i for i, p in enumerate(probe_parts)}
            w = np.zeros(P)
            vals, counts = np.unique(tp, return_counts=True)
            for v, c in zip(vals.tolist(), counts.tolist()):
                # under routed scoring the probe matrix only spans the
                # batch-union of routed members: a true neighbor
                # outside it is unreachable at ANY prefix and
                # correctly caps this query's achievable coverage
                if v in pos_of:
                    w[pos_of[v]] += c
            cov[qi] = np.cumsum(w) / float(len(tp))
        # scanned-row cost of each prefix, per query
        size_cum = np.cumsum(
            self.sizes[order].astype(np.float64), axis=1)

        def _achieved(cum_s, cov_m, c):
            """Mean coverage + prefix indices at cutoff ``c`` (exactly
            choose_nprobe's prefix rule, incl. the all-False fallback
            to the full prefix — a cutoff can exceed a query's final
            mass by a float ulp)."""
            reached = cum_s >= c
            prefix = np.where(reached.any(axis=1),
                              reached.argmax(axis=1),
                              cum_s.shape[1] - 1)
            rows = np.arange(cum_s.shape[0])
            return float(cov_m[rows, prefix].mean()), prefix

        def _fit_cutoffs(cum_s, cov_m, size_m, margins):
            """Per target: smallest cumulative-mass cutoff whose mean
            achieved recall on the given query subset >= target +
            its margin. Returns (isotonic cutoffs, scan cost/target)."""
            cands = np.unique(cum_s)
            outs, costs = [], []
            for t, mg in zip(targets, margins):
                want = min(1.0, t + mg)
                lo, hi = 0, len(cands) - 1
                best, best_cost = float(cands[-1]), None
                while lo <= hi:
                    mid = (lo + hi) // 2
                    c = cands[mid]
                    achieved, prefix = _achieved(cum_s, cov_m, c)
                    if achieved >= want:
                        best = float(c)
                        best_cost = float(
                            size_m[np.arange(cum_s.shape[0]),
                                   prefix].mean())
                        hi = mid - 1
                    else:
                        lo = mid + 1
                if best_cost is None:
                    best_cost = float(size_m[:, -1].mean())
                outs.append(min(best, 1.0))
                costs.append(best_cost)
            return np.maximum.accumulate(np.array(outs)).tolist(), costs

        # temperature fit: the reference softmax is nearly flat, so raw
        # cumulative mass is a weak per-query signal — every query stops
        # at about the same prefix. Sharpening row-wise (p ∝ p^s) keeps
        # the ORDER identical but concentrates mass where the logits
        # are confident, so easy queries (one dominant partition) stop
        # early and boundary-straddling queries probe deeper. Pick the
        # temperature whose fitted cutoffs scan the fewest rows on the
        # sample at the hardest common operating point (the largest
        # target ≤ 0.9, falling back to the median target).
        tarr = np.asarray(targets, dtype=np.float64)
        le = np.where(tarr <= 0.9)[0]
        obj_i = int(le[-1]) if len(le) else int(len(tarr) // 2)
        base_margins = np.full(len(targets), float(margin))

        def _sharpened_cum(s):
            logp = np.log(np.maximum(probs, 1e-300)) * s
            logp -= logp.max(axis=1, keepdims=True)
            ps = np.exp(logp)
            ps /= ps.sum(axis=1, keepdims=True)
            return np.cumsum(ps, axis=1)

        best_s, best_cost, best_cum = 1.0, None, None
        for s in (1.0, 2.0, 4.0, 8.0, 16.0, 32.0):
            cum_s = _sharpened_cum(s)
            _cuts, costs = _fit_cutoffs(cum_s, cov, size_cum,
                                        base_margins)
            cost = float(costs[obj_i])
            if best_cost is None or cost < best_cost:
                best_s, best_cost, best_cum = s, cost, cum_s

        # cross-fitted per-target safety margin for the chosen
        # temperature: fit on one half, measure the achieved-recall
        # deficit on the other (both directions, worst case), then
        # refit on the FULL sample with the margin boosted by it —
        # all driver-side NumPy over the already-collected matrices
        deficits = np.zeros(len(targets))
        half = nq // 2
        if half >= 8:
            perm = np.random.default_rng(seed).permutation(nq)
            for tr_i, te_i in ((perm[:half], perm[half:]),
                               (perm[half:], perm[:half])):
                cuts_tr, _ = _fit_cutoffs(best_cum[tr_i], cov[tr_i],
                                          size_cum[tr_i], base_margins)
                for i, t in enumerate(targets):
                    ach, _ = _achieved(best_cum[te_i], cov[te_i],
                                       cuts_tr[i])
                    deficits[i] = max(deficits[i], float(t) - ach)
            deficits = np.clip(deficits, 0.0, 0.25)
        best_cutoffs, final_costs = _fit_cutoffs(
            best_cum, cov, size_cum, base_margins + deficits)
        best_cost = float(final_costs[obj_i])
        self._calibration = {"targets": [float(t) for t in targets],
                             "cutoffs": best_cutoffs,
                             "temperature": float(best_s),
                             "margin": float(margin),
                             "deficits": [round(float(x), 6)
                                          for x in deficits],
                             "expected_scan_rows": best_cost,
                             "k": k, "n_queries": int(nq),
                             "seed": int(seed),
                             "route_cells": (None if route_cells is None
                                             else int(route_cells)),
                             # ADVICE r16 #3: stamp the index state the
                             # fit saw so restore_calibration can
                             # reject a reinstall over intervening
                             # DML/maintenance instead of silently
                             # serving a stale fit
                             "state_token": self._calibration_state_token()}
        # persist immediately: the fit is valid for the corpus just
        # read, and every DML path clears _calibration BEFORE its own
        # save_meta — so without this call the stats.json calibration
        # field would only ever hold null (ADVICE r6)
        self.save_meta()
        return self._calibration

    def restore_calibration(self, cal: dict) -> None:
        """Reinstall a calibration dict previously RETURNED by
        ``calibrate()`` on this same index version. ``calibrate`` is
        deterministic given (index state, args) — seeded query sample,
        exact brute-force truth, seeded cross-fit permutation — so when
        no DML/maintenance has intervened, re-running an identical fit
        recomputes the identical dict; callers that alternate between
        two fits (e.g. full vs routed) can snapshot and restore instead
        of paying the brute-force pass again. DML and maintenance clear
        ``_calibration`` exactly as they would after a real fit.

        Round 17 (ADVICE r16 #2/#3): the dict is deep-copied so the
        caller's snapshot and the installed fit can't alias nested
        lists, and a ``state_token`` stamped at fit time (version
        number + partition ids/sizes + centroid digest) is validated —
        reinstalling a fit over intervening DML/maintenance raises
        instead of silently serving stale cutoffs (token-less dicts,
        e.g. hand-built in tests, skip the check)."""
        import copy

        tok = cal.get("state_token")
        if tok is not None and tok != self._calibration_state_token():
            raise ValueError(
                "restore_calibration: index state changed since this "
                "fit was computed (state token mismatch) — re-run "
                "calibrate() instead of reinstalling a stale fit")
        self._calibration = copy.deepcopy(cal)
        self.save_meta()

    def _calibration_state_token(self) -> str:
        """Digest of the index state a calibration fit depends on:
        the published version number (not the version dir's path, so
        one index opened by absolute and by relative path agrees), the
        partition ids/sizes, AND the centroid geometry (fine + coarse)
        — ``partition_scores`` and the fitted cutoffs are functions of
        the centroids, and ``recompute_centroids`` (or a net-zero DML
        round trip) can change them while leaving ids/sizes/version
        intact."""
        import hashlib

        h = hashlib.sha256()
        h.update(str(int(self.version)).encode())
        h.update(np.ascontiguousarray(self.part_ids).tobytes())
        h.update(np.ascontiguousarray(self.sizes).tobytes())
        h.update(np.ascontiguousarray(self.centroids).tobytes())
        h.update(np.ascontiguousarray(self.coarse_centroids).tobytes())
        return h.hexdigest()[:16]

    def _decide_nprobe(self, probs: np.ndarray, target_recall: float,
                       max_probe: int, policy: str) -> np.ndarray:
        """The probe-count rule shared by search() and the IVF+PQ
        hybrid: reference = cumulative mass vs the raw target;
        calibrated = temperature-sharpened mass (order-preserving —
        p^s is monotone, only the stopping rule sees sharper mass) vs
        the fitted cutoff."""
        if policy == "calibrated":
            s, eff_target = self._calibrated_rule(target_recall)
            logp = np.log(np.maximum(probs, 1e-300)) * s
            logp -= logp.max(axis=1, keepdims=True)
            decision_probs = np.exp(logp)
            decision_probs /= decision_probs.sum(axis=1, keepdims=True)
        elif policy == "reference":
            eff_target = target_recall
            decision_probs = probs
        else:
            raise ValueError(f"unknown policy {policy!r} "
                             "(reference|calibrated)")
        nprobe = self.choose_nprobe(decision_probs, eff_target,
                                    max_probe)
        # Routed scoring: columns are the BATCH-UNION of routed
        # members; a query's own non-routed columns carry exact
        # probability 0 (exp(-inf)) and sort last. choose_nprobe's
        # all-False fallback (cumulative mass never reaching the
        # target, e.g. float ulp at target_recall=1.0) would set
        # nprobe to the full union width — probing zero-probability
        # partitions routed only for OTHER queries, contradicting the
        # "restriction, never an expansion" semantics (ADVICE r7).
        # Cap each query at its own routed-column count. Computed
        # from the RAW probs (the calibrated sharpening floors zeros
        # at 1e-300, so decision_probs can't identify them). Inert
        # under full scoring: every softmax prob is > 0 there.
        routed_width = np.maximum((probs > 0).sum(axis=1), 1)
        return np.minimum(nprobe, routed_width)

    def _calibrated_rule(self, target_recall: float
                         ) -> tuple[float, float]:
        """(temperature, cumulative-mass cutoff) for a recall target
        (linear interpolation; auto-fits with defaults on first use —
        but loudly: the fit is a brute-force pass over a query sample,
        a surprise inside a latency-sensitive search call. Fit eagerly
        via build(calibrate=True) / maintain(recalibrate=True) or an
        explicit calibrate() instead)."""
        if self._calibration is None:
            import warnings
            warnings.warn(
                "search(policy='calibrated') on an uncalibrated index: "
                "auto-running calibrate() (a brute-force pass over a "
                "query sample) inside the search call. Prefer "
                "build(calibrate=True), maintain(recalibrate=True), or "
                "an explicit calibrate() at version-publish time.",
                RuntimeWarning, stacklevel=3)
            self.calibrate()
        cal = self._calibration
        tmin = cal["targets"][0]
        # BELOW the fitted range the clamped lowest cutoff can deliver
        # arbitrarily more recall than asked but was never validated
        # at the asked point — warn (VERDICT r7 #3). ABOVE the range
        # clamps to the MOST CONSERVATIVE fitted cutoff (target 1.0 is
        # the common fullprobe-intent ask; the 0.99 cutoff already
        # probes nearly everything), so no warning there.
        if target_recall < tmin - 1e-12:
            import warnings
            warnings.warn(
                f"target_recall={target_recall} is below the fitted "
                f"calibration range (min fitted target {tmin}); "
                "clamping to the lowest fitted cutoff. Refit with "
                "calibrate(targets=...) covering this operating point "
                "for a recall-faithful policy.",
                RuntimeWarning, stacklevel=3)
        return (cal["temperature"],
                float(np.interp(target_recall, cal["targets"],
                                cal["cutoffs"])))

    def partition_scores_distributed(self, queries_df: DataFrame,
                                     target_recall: float = 0.9,
                                     max_probe: int = 64,
                                     query_id_col: str = "query_id",
                                     query_vec_col: str = "embedding",
                                     policy: str = "reference",
                                     ) -> DataFrame:
        """Distributed APS over this index's centroid state — the
        ≥10⁶-partition scale path (see aps_scores_table). The centroid
        table here is materialized from index meta (at real scale it is
        the persisted centroids parquet); `pos` carries the same
        array-position tie-break as the driver NumPy path so the two
        orderings agree exactly. ``policy="calibrated"`` applies the
        fitted temperature/cutoff (calibrate() — auto-fits on first
        use) to the probe decision, same as search(policy=...)."""
        temperature, cutoff = 1.0, None
        if policy == "calibrated":
            if (self._calibration is not None
                    and self._calibration.get("route_cells") is not None):
                raise ValueError(
                    "partition_scores_distributed: the fitted "
                    "calibration is routed (route_cells="
                    f"{self._calibration['route_cells']}) but this "
                    "path scores ALL partitions; refit with "
                    "calibrate() (full scoring) first.")
            temperature, cutoff = self._calibrated_rule(target_recall)
        elif policy != "reference":
            raise ValueError(f"unknown policy {policy!r} "
                             "(reference|calibrated)")
        rows = [(int(p), int(i), [float(x) for x in self.centroids[i]],
                 int(self.sizes[i]))
                for i, p in enumerate(self.part_ids)]
        cdf = self.spark.createDataFrame(
            rows, "partition_id long, pos long, centroid array<double>, "
                  "size long")
        return aps_scores_table(
            queries_df, cdf, target_recall=target_recall,
            max_probe=max_probe, query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            temperature=temperature, mass_cutoff=cutoff)

    # ------------------------------------------------------------ search
    def _check_calibrated_restriction(self, route_cells,
                                      caller: str = "search"):
        """The fitted mass cutoffs belong to ONE scoring function:
        routed scoring renormalizes the softmax over each query's
        routed cells, so a fit under one restriction does not
        transfer to another (round 7: calibrate(route_cells=N)
        composes; mismatches refuse loudly). Shared by search() and
        the IVF+PQ hybrid so the rule can't drift between paths.
        Returns the normalized restriction (route_cells >= n_cells
        reduces to full scoring = None)."""
        asked = (int(route_cells)
                 if (route_cells is not None
                     and route_cells < len(self.coarse_centroids))
                 else None)
        if self._calibration is None:
            if asked is not None:
                import warnings
                warnings.warn(
                    f"{caller}(policy='calibrated', route_cells="
                    f"{asked}) on an uncalibrated index: "
                    "auto-running calibrate(route_cells="
                    f"{asked}) inside the search call. Prefer an "
                    "eager fit at version-publish time.",
                    RuntimeWarning, stacklevel=4)
                self.calibrate(route_cells=asked)
            # asked None → _calibrated_rule auto-fits full
        else:
            fitted = self._calibration.get("route_cells")
            if fitted != asked:
                raise ValueError(
                    f"{caller}: policy='calibrated' cutoffs were "
                    f"fitted under route_cells={fitted!r} but this "
                    f"search asked route_cells={asked!r}; the "
                    "routed softmax renormalizes, so cutoffs do "
                    "not transfer across restrictions. Refit with "
                    f"calibrate(route_cells={asked!r}) or search "
                    "under the fitted restriction.")
        return asked

    def search(self, queries, k: int = 10, target_recall: float = 0.9,
               max_probe: int = 64,
               query_id_col: str = "query_id",
               query_vec_col: str = "embedding",
               route_cells: int | None = None,
               allowed: DataFrame | None = None,
               policy: str = "reference"):
        """O10 (ipynb c1:147-168): APS → partition-pruned scan → local
        top-k per (partition, query) → global windowed top-k.

        ``policy``: ``"reference"`` (default) treats ``target_recall``
        as a cumulative-softmax-mass threshold exactly like the
        reference — faithful, but the flat softmax means target 0.9
        scans ~90% of the corpus (BASELINE.md caveat).
        ``"calibrated"`` maps the target through the ``calibrate()``
        mass→recall fit first (auto-fits on first use), so target 0.9
        prunes to roughly the partitions that actually hold 90% of
        true neighbors. Ordering, scan, and ranking are identical —
        only the probe-count rule changes.

        ``route_cells``: optional two-level APS for large partition
        counts (see partition_scores) — restricts scoring AND probing
        to each query's nearest coarse cells.

        ``allowed``: optional single-column DataFrame of permitted ids
        — filtered ANN via the pre-filter pattern (predicate evaluated
        on the metadata table, id set pushed into the index scan as a
        broadcast semi-join ahead of the distance kernel). Top-k is
        then over qualifying ids only; at target_recall=1.0 this is
        exactly brute-force-with-filter. The id set must be
        broadcastable — for web-scale selectivity push a bloom_mask
        pre-filter (operators/sketch.py) ahead of the exact semi-join.
        Adaptive probing composes, but its recall target reflects
        unfiltered geometry: highly selective filters warrant a higher
        target or full probe (the standard filtered-ANN caveat).

        Returns (DataFrame(query_id, vec_id, dist, rank), meta dict with
        avg_nprobe / avg_scanned; avg_scanned counts probed-partition
        sizes pre-filter). Increments hit stats (O11).
        """
        from quake_vector_search_spark.operators.knn import (
            _collect_queries, _l2_scores, scan_topk)
        qids, qmat = _collect_queries(queries, query_id_col, query_vec_col)
        if self.metric == "cosine" and len(qids):
            qmat = qmat / (np.linalg.norm(qmat, axis=1, keepdims=True)
                           + 1e-12)
        if len(qids) == 0:
            return self._empty_search(
                "sim" if self.metric == "cosine" else "dist")
        probe_map, meta = self._plan_probes(qmat, target_recall, max_probe,
                                            policy, route_cells, "search")

        union_parts = sorted(probe_map)
        corpus = self._restrict_to_allowed(
            self.read_corpus(partition_ids=union_parts)
            .select(self.id_col, self.vec_col, "partition_id"),
            allowed, "search")
        # Size tasks by scanned volume, not directory count: the pruned
        # scan otherwise yields one task per probed partition dir, and a
        # mostly-empty Python task costs ~20-30 ms of Arrow/worker
        # round-trip. ROWS_PER_TASK ≈ a few tens of MB of vectors per
        # task; at 100 TB this still fans out to thousands of tasks,
        # while toy scales collapse to a handful. coalesce() merges file
        # splits without a shuffle.
        est_rows = int(sum(int(self.sizes[i])
                           for i, p in enumerate(self.part_ids)
                           if int(p) in probe_map))
        n_tasks = max(1, -(-est_rows // ROWS_PER_TASK))
        if n_tasks < len(union_parts):
            corpus = corpus.coalesce(n_tasks)
        ranked = scan_topk(corpus, qids, qmat, _l2_scores, k,
                           width=qmat.shape[1], id_col=self.id_col,
                           vec_col=self.vec_col, probe_map=probe_map)
        if self.metric == "cosine":
            # unit vectors: d2 = 2 - 2·cos  →  cos = 1 - d2/2; rank by
            # d2 asc ≡ sim desc, tie-break unchanged
            out = (ranked.withColumn("sim", 1 - F.col("dist") / 2)
                   .select("query_id", "vec_id", "sim", "rank"))
        else:
            out = (ranked.withColumn("dist", F.sqrt(F.col("dist")))
                   .select("query_id", "vec_id", "dist", "rank"))
        return out, meta

    def _empty_search(self, score_col: str) -> tuple[DataFrame, dict]:
        """(empty result, meta) of a search call given no queries."""
        from quake_vector_search_spark.operators.knn import _empty_result

        return _empty_result(self.spark, score_col), {
            "nprobe": [], "avg_nprobe": 0.0, "avg_scanned": 0.0,
            "n_partitions": len(self.part_ids)}

    def _plan_probes(self, qmat: np.ndarray, target_recall: float,
                     max_probe: int, policy: str, route_cells,
                     caller: str) -> tuple[dict[int, list[int]], dict]:
        """The probe planner shared by search() and the IVF+PQ hybrid:
        APS scores → probe counts (``_decide_nprobe``) → probe map
        {partition id → positions of the queries probing it}, with the
        O11 hit accounting. Returns (probe_map, meta) where meta holds
        nprobe / avg_nprobe / avg_scanned (probed-partition sizes,
        pre-filter) / n_partitions."""
        if policy == "calibrated":
            self._check_calibrated_restriction(route_cells, caller=caller)
        order, probs = self.partition_scores(qmat, route_cells=route_cells)
        nprobe = self._decide_nprobe(probs, target_recall, max_probe,
                                     policy)
        nq = len(qmat)
        # probe sets (positions → stable partition ids)
        probe_map: dict[int, list[int]] = {}
        scanned = 0
        for qi in range(nq):
            pos = order[qi, :nprobe[qi]]
            scanned += int(self.sizes[pos].sum())
            for p in self.part_ids[pos]:
                probe_map.setdefault(int(p), []).append(qi)
        # O11 hit accounting
        for pid, qlist in probe_map.items():
            self.hits[pid] = self.hits.get(pid, 0) + len(qlist)
        self.query_counter += nq
        meta = {
            "nprobe": nprobe.tolist(),
            "avg_nprobe": float(nprobe.mean()),
            "avg_scanned": scanned / nq,
            "n_partitions": len(self.part_ids),
        }
        return probe_map, meta

    def _restrict_to_allowed(self, frame: DataFrame,
                             allowed: DataFrame | None,
                             caller: str) -> DataFrame:
        """The ``allowed`` pre-filter: a broadcast semi-join of the
        single-column id DataFrame ahead of the scan kernel."""
        if allowed is None:
            return frame
        if len(allowed.columns) != 1:
            raise ValueError(
                f"{caller}(allowed=...): expected a single-column id "
                f"DataFrame, got columns {allowed.columns}")
        ids = allowed.select(F.col(allowed.columns[0]).alias(self.id_col))
        return frame.join(F.broadcast(ids), self.id_col, "semi")


# ------------------------------------------------------------------ APS
# at ≥10⁶ partitions: score the centroid TABLE instead of driver NumPy.
def aps_scores_table(queries_df: DataFrame, centroids_df: DataFrame,
                     target_recall: float = 0.9, max_probe: int = 64,
                     query_id_col: str = "query_id",
                     query_vec_col: str = "embedding",
                     temperature: float = 1.0,
                     mass_cutoff: float | None = None) -> DataFrame:
    """Distributed APS (O8/O9 at extreme partition counts): the exact
    softmax-over-``-dist/tau + 0.5·ln(size+1)`` scoring of
    ``IVFIndex.partition_scores`` (ipynb c1:127-145), but computed as a
    Spark plan over a *centroids table* so it scales past the ~10⁵-10⁶
    partitions where a driver-side [nq, P] NumPy matrix stops fitting.

    ``centroids_df``: (partition_id long, pos long, centroid
    array<double>, size long) — ``pos`` is the deterministic tie-break
    position (the driver path breaks probability ties by centroid-array
    position; pass partition_id as pos when no positional order exists).

    Plan shape: broadcast the (small) query block against the centroid
    table → per-(query, partition) distance via a codegen'd zip_with/
    aggregate kernel → per-query exact median (tau), max-logit, softmax
    normalizer and cumulative-probability nprobe cutoff, all as window
    aggregates partitioned by query — ONE shuffle of [nq · P] scalar
    rows, no vectors, no driver materialization. Equality with the
    NumPy path is pinned in tests/test_ivf.py.

    ``temperature``/``mass_cutoff`` port the CALIBRATED policy to this
    scale path (round 6): the probe decision runs on row-wise
    temperature-sharpened mass (order-preserving, so ``prob``/``rank``
    stay the reference quantities) against the fitted cutoff instead
    of the raw target — pass ``IVFIndex._calibrated_rule(target)``'s
    pair, or use ``partition_scores_distributed(policy="calibrated")``.

    Returns (query_id, partition_id, prob, rank, probed).
    """
    q = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("_qvec"))
    dist = F.sqrt(F.aggregate(
        F.zip_with(F.col("centroid").cast("array<double>"), F.col("_qvec"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda a, v: a + v))
    scored = (centroids_df.join(F.broadcast(q))
              .select("query_id", "partition_id", "pos", "size",
                      dist.alias("dist")))
    wq = Window.partitionBy("query_id")
    # exact median ≡ np.median (linear interpolation at even counts)
    tau = F.expr("percentile(dist, 0.5)").over(wq) + F.lit(1e-6)
    logit = -F.col("dist") / tau + 0.5 * F.log(F.col("size") + F.lit(1.0))
    scored = scored.withColumn("_logit", logit)
    p_un = F.exp(F.col("_logit") - F.max("_logit").over(wq))
    scored = scored.withColumn("_p", p_un)
    prob = F.col("_p") / F.sum("_p").over(wq)
    # decision mass: temperature-sharpened softmax (identical to prob
    # at temperature 1; same ORDER at any temperature since p^s is
    # monotone — only the stopping rule sees the sharper distribution)
    p_dec = F.exp((F.col("_logit") - F.max("_logit").over(wq))
                  * F.lit(float(temperature)))
    scored = scored.withColumn("_pd", p_dec)
    prob_dec = F.col("_pd") / F.sum("_pd").over(wq)
    worder = wq.orderBy(F.col("prob").desc(), F.col("pos").asc())
    ranked = (scored.withColumn("prob", prob)
              .withColumn("_probd", prob_dec)
              .withColumn("rank", F.row_number().over(worder))
              .withColumn("_cum", F.sum("_probd").over(
                  worder.rowsBetween(Window.unboundedPreceding, 0))))
    # choose_nprobe: smallest rank with cum ≥ target, clipped [1, max_probe]
    eff_target = target_recall if mass_cutoff is None else mass_cutoff
    reached = F.min(F.when(F.col("_cum") >= F.lit(float(eff_target)),
                           F.col("rank"))).over(wq)
    nprobe = F.least(F.greatest(F.coalesce(reached, F.count("*").over(wq)),
                                F.lit(1)),
                     F.least(F.lit(max_probe), F.count("*").over(wq)))
    return (ranked.withColumn("probed", F.col("rank") <= nprobe)
            .select("query_id", "partition_id", "prob", "rank", "probed"))


def partition_radii(index: "IVFIndex") -> dict[int, float]:
    """Per-partition covering radius max ||x − c_p|| over the LIVE
    corpus (tombstones excluded) — the bounding metadata that makes
    radius search prunable. One partition-pruned scan + combine-heavy
    groupBy (one row per partition comes back); at 100 TB this is the
    same bounded-stats pattern as the centroid/size table and would be
    maintained incrementally at insert/maintain time."""
    import pandas as pd

    cent = index.spark.createDataFrame(
        pd.DataFrame({
            "partition_id": index.part_ids.astype("int64"),
            "_c": [list(map(float, c)) for c in index.centroids],
        }))
    corpus = index.read_corpus()
    d2 = F.aggregate(
        F.zip_with(F.col(index.vec_col).cast("array<double>"),
                   F.col("_c"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda a, v: a + v)
    rows = (corpus.join(F.broadcast(cent), "partition_id")
            .groupBy("partition_id")
            .agg(F.sqrt(F.max(d2)).alias("r"))
            .collect())
    return {int(r["partition_id"]): float(r["r"]) for r in rows}


def ivf_range_search(index: "IVFIndex", queries, radius: float,
                     query_id_col: str = "query_id",
                     query_vec_col: str = "embedding"):
    """EXACT radius search through the IVF layout: by the triangle
    inequality a partition can contain a point within ``radius`` of q
    only if ||q − c_p|| ≤ R_p + radius (R_p = covering radius), so
    non-qualifying partitions are pruned from the scan entirely —
    LOSSLESSLY, which is why the result can hash-match the brute-force
    oracle. Pruning power depends on geometry: it bites when radius is
    small against the centroid spread (self-match / near-exact-dup
    radii, clustered data, or the finer partitions of a large index —
    R_p shrinks as partitions multiply); on this 64-dim near-uniform
    testdata with wide radii every covering ball overlaps and the
    prune degrades gracefully to a full scan, never to a wrong
    answer. The surviving partitions run the same broadcast-queries
    in-place distance filter as range_search_bruteforce. Returns
    (DataFrame(query_id, vec_id, dist), meta with avg_nprobe)."""
    import numpy as np

    from quake_vector_search_spark.operators.knn import (
        _collect_queries,
        range_search_bruteforce,
    )

    if index.metric != "l2":
        raise NotImplementedError(
            "ivf_range_search is defined for l2 indexes; for cosine, "
            "unit-normalize the corpus and queries and express the "
            "similarity threshold as an l2 radius "
            "(||a-b||² = 2 - 2·cos on unit vectors)")
    qids, qmat = _collect_queries(queries, query_id_col, query_vec_col)
    radii = partition_radii(index)
    nq = max(len(qids), 1)
    if len(qids) == 0:
        empty = index.spark.createDataFrame(
            [], "query_id long, vec_id long, dist double")
        return empty, {"avg_nprobe": 0.0, "n_partitions": len(radii)}
    # ||q − c_p|| for every (query, partition): nq × P, driver-side —
    # centroids are broadcast-scale metadata (same stance as search())
    cd = np.sqrt(
        ((qmat[:, None, :] - index.centroids[None, :, :]) ** 2)
        .sum(axis=2))
    rvec = np.array([radii.get(int(p), 0.0) for p in index.part_ids])
    probe_mask = cd <= (rvec[None, :] + radius)
    probe_union = sorted(
        int(p) for p in index.part_ids[probe_mask.any(axis=0)])
    scan = index.read_corpus(partition_ids=probe_union)
    out = range_search_bruteforce(
        scan, (qids, qmat), radius,
        id_col=index.id_col, vec_col=index.vec_col)
    meta = {"avg_nprobe": float(probe_mask.sum(axis=1).mean()) if nq else 0.0,
            "n_partitions": len(index.part_ids),
            "probed_union": len(probe_union)}
    return out, meta

"""Similarity search over an embedding column (array<float>).

- brute_force_topk: exact cosine top-k, numpy matrix kernel over Arrow
  batches against a broadcast query matrix — the baseline and the oracle's
  twin (DuckDB list_cosine_similarity over DOUBLE[]).
- lsh_topk: random-hyperplane LSH bucketing (deterministic md5-seeded
  planes), probe same-bucket + hamming<=r neighbor buckets, exact re-rank —
  the scale path: candidates per bucket instead of all-pairs.
- cosine_pairs: near-duplicate pairs above a cosine threshold (embedding
  near-dup dedup mode).

Scale notes: the query matrix is broadcast (tiny); the point side streams
through mapInPandas in Arrow batches with one BLAS matmul per batch — no
shuffle at all for brute force; LSH adds one shuffle on bucket id.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _normalize(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def _planes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: md5(seed, i) -> uniform
    floats in [-1, 1). Engine-portable, no RNG state."""
    out = np.empty((n_planes, dim))
    for p in range(n_planes):
        vals = []
        for i in range(0, dim, 4):
            h = hashlib.md5(f"{p}|{i}".encode()).digest()
            vals.extend(int.from_bytes(h[j:j + 4], "little") / 2**31 - 1.0
                        for j in range(0, 16, 4))
        out[p] = vals[:dim]
    return out


def brute_force_topk(embeddings: DataFrame, queries: pd.DataFrame, k: int = 10,
                     vec_col: str = "embedding", key_col: str = "vec_id") -> DataFrame:
    """queries: pandas (qid, embedding list). Returns (qid, rank, vec_id) —
    integer-only output so the oracle compare is float-free. Global top-k:
    per-batch top-k then a final window (partial top-k pushdown)."""
    qm = _normalize(np.array(list(queries["embedding"]), dtype=np.float64))
    qids = queries["qid"].to_numpy()
    spark = embeddings.sparkSession
    bqm = spark.sparkContext.broadcast(qm)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
            sims = m @ bqm.value.T  # (batch, nq)
            topn = min(k, sims.shape[0])
            part = np.argpartition(-sims, topn - 1, axis=0)[:topn]
            rows = []
            for qi in range(sims.shape[1]):
                for r in part[:, qi]:
                    rows.append((int(qids[qi]), int(pdf[key_col].iloc[r]),
                                 float(sims[r, qi])))
            yield pd.DataFrame(rows, columns=["qid", "vec_id", "cos"])

    from pyspark.sql.window import Window
    scored = embeddings.select(key_col, vec_col).mapInPandas(
        score, "qid bigint, vec_id bigint, cos double")
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "vec_id"))


def lsh_topk(embeddings: DataFrame, queries: pd.DataFrame, k: int = 10,
             n_planes: int = 12, probe_hamming: int = 2,
             vec_col: str = "embedding", key_col: str = "vec_id") -> DataFrame:
    """Approximate top-k: sign-of-projection bucket per vector, probe all
    buckets within hamming distance ``probe_hamming`` of the query bucket,
    exact cosine re-rank of candidates. Recall measured in tests, not 1.0
    by design (the approximate/scale trade)."""
    dim = len(queries["embedding"].iloc[0])
    planes = _planes(dim, n_planes)
    spark = embeddings.sparkSession
    bp = spark.sparkContext.broadcast(planes)

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            signs = (m @ bp.value.T) > 0
            buckets = (signs.astype(np.int64) << np.arange(n_planes)).sum(axis=1)
            yield pd.DataFrame({key_col: pdf[key_col], "bucket": buckets,
                                vec_col: pdf[vec_col]})

    bucketed = embeddings.select(key_col, vec_col).mapInPandas(
        bucketize, f"{key_col} bigint, bucket bigint, {vec_col} array<float>")

    qm = _normalize(np.array(list(queries["embedding"]), dtype=np.float64))
    qsigns = (qm @ planes.T) > 0
    qbuckets = (qsigns.astype(np.int64) << np.arange(n_planes)).sum(axis=1)
    # expand query buckets by hamming radius; probe_hamming == n_planes
    # probes every bucket -> exhaustive, hence EXACT (the oracle-checkable
    # config of this operator; production probes 1-2)
    from itertools import combinations
    probe_rows = []
    masks = [0]
    for h in range(1, min(probe_hamming, n_planes) + 1):
        masks += [sum(1 << i for i in c)
                  for c in combinations(range(n_planes), h)]
    for qid, qb, qv in zip(queries["qid"], qbuckets, qm):
        for m in masks:
            probe_rows.append((int(qid), int(qb ^ m), qv.tolist()))
    probes = embeddings.sparkSession.createDataFrame(
        pd.DataFrame(probe_rows, columns=["qid", "bucket", "qvec"]))

    cand = bucketed.join(F.broadcast(probes), "bucket")
    dot = F.aggregate(
        F.zip_with(F.col(vec_col).cast("array<double>"), "qvec",
                   lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    norm = F.sqrt(F.aggregate(
        F.transform(F.col(vec_col).cast("array<double>"), lambda a: a * a),
        F.lit(0.0), lambda acc, x: acc + x))
    from pyspark.sql.window import Window
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc(key_col))
    return (cand
            .withColumn("cos", dot / norm)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", F.col(key_col).alias("vec_id")))


def train_ivf_centroids(embeddings: DataFrame, n_centroids: int = 16,
                        iters: int = 2, vec_col: str = "embedding",
                        key_col: str = "vec_id") -> np.ndarray:
    """Spherical k-means (Lloyd) for the IVF coarse quantizer. Init =
    first ``n_centroids`` vectors by key (deterministic); each iteration is
    ONE mapInPandas pass that assigns a batch to its nearest centroid and
    emits per-centroid partial sums — (batches x n_centroids) tiny rows to
    the driver, no shuffle at all. Centroids are re-normalized means.
    At 10^9 rows an iteration costs one table scan + one BLAS matmul per
    batch; the driver combine is n_centroids x dim floats."""
    cents_pdf = (embeddings.orderBy(key_col).limit(n_centroids)
                 .select(vec_col).toPandas())
    cents = _normalize(np.array(list(cents_pdf[vec_col]), dtype=np.float64))
    spark = embeddings.sparkSession
    dim = cents.shape[1]
    for _ in range(max(0, iters)):
        bc = spark.sparkContext.broadcast(cents)

        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                m = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
                cid = np.argmax(m @ bc.value.T, axis=1)
                rows = []
                for c in np.unique(cid):
                    sel = m[cid == c]
                    rows.append((int(c), sel.sum(axis=0).tolist(),
                                 int(len(sel))))
                yield pd.DataFrame(rows, columns=["cid", "vsum", "n"])

        parts = embeddings.select(vec_col).mapInPandas(
            partial, "cid int, vsum array<double>, n long").toPandas()
        sums = np.zeros((n_centroids, dim))
        counts = np.zeros(n_centroids)
        for _, r in parts.iterrows():
            sums[r["cid"]] += np.asarray(r["vsum"])
            counts[r["cid"]] += r["n"]
        # empty clusters keep their previous centroid
        nonzero = counts > 0
        cents[nonzero] = _normalize(sums[nonzero] / counts[nonzero, None])
    return cents


def ivf_topk(embeddings: DataFrame, queries: pd.DataFrame, k: int = 10,
             n_centroids: int = 16, n_probe: int = 4, train_iters: int = 0,
             vec_col: str = "embedding", key_col: str = "vec_id") -> DataFrame:
    """IVF (inverted-file) approximate top-k: vectors are assigned to their
    nearest coarse centroid; queries probe the ``n_probe`` nearest
    centroids and exact-rank within those lists. ``train_iters`` > 0 runs
    spherical k-means (train_ivf_centroids) on top of the deterministic
    first-vectors init; with n_probe = n_centroids the result is exact
    regardless of centroid quality (the oracle's configuration).

    The scale path for billion-row ANN: one shuffle on centroid id, then a
    per-list scan of ~n_probe/n_centroids of the data."""
    cents = train_ivf_centroids(embeddings, n_centroids, train_iters,
                                vec_col, key_col)
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(cents)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
            cid = np.argmax(m @ bc.value.T, axis=1)
            yield pd.DataFrame({key_col: pdf[key_col], "cid": cid,
                                vec_col: pdf[vec_col]})

    assigned = embeddings.select(key_col, vec_col).mapInPandas(
        assign, f"{key_col} bigint, cid int, {vec_col} array<float>")

    qm = _normalize(np.array(list(queries["embedding"]), dtype=np.float64))
    probe_rows = []
    for qid, qv in zip(queries["qid"], qm):
        order = np.argsort(-(qv @ cents.T))[:n_probe]
        for cid in order:
            probe_rows.append((int(qid), int(cid), qv.tolist()))
    probes = spark.createDataFrame(
        pd.DataFrame(probe_rows, columns=["qid", "cid", "qvec"]))

    cand = assigned.join(F.broadcast(probes), "cid")
    dot = F.aggregate(
        F.zip_with(F.col(vec_col).cast("array<double>"), "qvec",
                   lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    norm = F.sqrt(F.aggregate(
        F.transform(F.col(vec_col).cast("array<double>"), lambda a: a * a),
        F.lit(0.0), lambda acc, x: acc + x))
    from pyspark.sql.window import Window
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc(key_col))
    return (cand
            .withColumn("cos", dot / norm)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", F.col(key_col).alias("vec_id")))


def cosine_block_plan(n_vectors: int, dim: int,
                      block_budget_bytes: int = 256 << 20,
                      chunk_budget_bytes: int = 64 << 20) -> tuple[int, int]:
    """The cosine_pairs cost model, executable: pick (n_blocks,
    chunks_per_block) so a block's float64 matrix fits the per-task block
    budget and each chunk row (and its (chunk x block) sims panel) stays
    under the chunk budget. n_blocks ~ n_vectors*dim*8 / block_budget,
    chunks_per_block = ceil(block_bytes / chunk_budget); both floored at
    1. At 10^9 x 128-dim this yields ~4000 blocks / 4 chunks — the written
    100 TB sizing from the docstring below, now a function callers (and
    tests) can exercise instead of prose."""
    total_bytes = max(1, n_vectors) * max(1, dim) * 8
    n_blocks = max(1, -(-total_bytes // block_budget_bytes))
    block_bytes = -(-total_bytes // n_blocks)
    chunks_per_block = max(1, -(-block_bytes // chunk_budget_bytes))
    return int(n_blocks), int(chunks_per_block)


def cosine_pairs(embeddings: DataFrame, threshold: float = 0.35,
                 vec_col: str = "embedding", key_col: str = "vec_id",
                 n_blocks: int | None = 8,
                 chunks_per_block: int | None = 1) -> DataFrame:
    """Embedding near-dup pairs: (va, vb) with cosine >= threshold, va < vb.

    Exact DISTRIBUTED block-matrix plan — no driver-side collect anywhere:
    vectors are hashed into ``n_blocks`` blocks, each block stored as
    ``chunks_per_block`` bounded sub-rows (so no single row ever nears
    Spark's 2 GB binary/row ceiling), and every block pair (bi <= bj)
    becomes one applyInPandas task that reassembles both blocks from their
    chunk rows and runs chunk-sized BLAS matmuls. Every unordered pair of
    vectors lands in exactly one block-pair task, so the output is exact
    with no dedup pass.

    Cost model at scale: communication O(n * n_blocks) (each chunk row
    feeds n_blocks tasks), flops O(n^2 * d / tasks) spread over
    n_blocks*(n_blocks+1)/2 tasks, per-task memory = 2 blocks plus one
    (chunk x block) sims panel. Pick n_blocks = ceil(n * d * 8 /
    block_budget_bytes) so a block fits comfortably in executor memory
    (e.g. 10^9 x 128-dim float64 vectors with a 256 MB block budget ->
    ~3800 blocks, ~7M tasks), then chunks_per_block =
    ceil(block_bytes / 64 MB) to bound row size and the sims panel —
    exactly what cosine_block_plan computes.
    For corpora where even that flop count is infeasible, lsh_topk's
    bucketing is the approximate path.

    Pass ``n_blocks=None`` to auto-size via cosine_block_plan (one
    count() + one first() to read n and dim; chunks_per_block is derived
    too unless given explicitly)."""
    spark = embeddings.sparkSession
    if n_blocks is None:
        n = embeddings.count()
        first = embeddings.select(vec_col).first()
        dim = len(first[0]) if first else 1
        auto_blocks, auto_chunks = cosine_block_plan(n, dim)
        n_blocks = auto_blocks
        if chunks_per_block is None:
            chunks_per_block = auto_chunks
    elif chunks_per_block is None:
        chunks_per_block = 1
    blocked = embeddings.select(key_col, vec_col).withColumn(
        "blk", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_blocks)).cast("int"))
    if chunks_per_block > 1:
        chunk = F.pmod(F.xxhash64(F.col(key_col), F.lit("chunk")),
                       F.lit(chunks_per_block)).cast("int")
    else:
        chunk = F.lit(0)
    packed = (blocked.withColumn("chunk", chunk)
              .groupBy("blk", "chunk")
              .agg(F.collect_list(F.struct(F.col(key_col).alias("id"),
                                           F.col(vec_col).alias("v")))
                   .alias("items")))
    # explicit block-pair table (B*(B+1)/2 tiny rows) + broadcast
    # equi-joins — not a non-equi nested-loop join. Side 0 carries block
    # bi's chunk rows, side 1 block bj's (diagonal pairs need only side 0).
    # Built JVM-side from spark.range so a B~4000 auto-sizing (~8M pairs)
    # never materializes a Python list through createDataFrame.
    pairs_df = (spark.range(n_blocks * n_blocks)
                .select(F.expr(f"id div {n_blocks}").cast("int").alias("bi"),
                        F.pmod("id", F.lit(n_blocks)).cast("int").alias("bj"))
                .filter(F.col("bi") <= F.col("bj")))
    a_side = (F.broadcast(pairs_df)
              .join(packed.withColumnRenamed("blk", "bi"), "bi")
              .select("bi", "bj", F.lit(0).alias("side"), "items"))
    b_side = (F.broadcast(pairs_df.filter("bi <> bj"))
              .join(packed.withColumnRenamed("blk", "bj"), "bj")
              .select("bi", "bj", F.lit(1).alias("side"), "items"))
    bp = a_side.unionByName(b_side)

    def unpack(items_col) -> tuple[np.ndarray, np.ndarray, list[int]]:
        """Concatenate a side's chunk rows; returns ids, normalized matrix,
        and the chunk row lengths (matmul panel boundaries)."""
        ids_parts, vec_parts, lens = [], [], []
        for items in items_col:
            ids_parts.append(np.fromiter((it["id"] for it in items),
                                         dtype=np.int64, count=len(items)))
            vec_parts.append(np.array([it["v"] for it in items],
                                      dtype=np.float64))
            lens.append(len(items))
        return (np.concatenate(ids_parts),
                _normalize(np.vstack(vec_parts)), lens)

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        empty = pd.DataFrame({"va": np.zeros(0, np.int64),
                              "vb": np.zeros(0, np.int64)})
        if not len(a):
            return empty
        bi = int(pdf["bi"].iloc[0])
        bj = int(pdf["bj"].iloc[0])
        Ia, Ma, lens = unpack(a["items"])
        va_parts, vb_parts = [], []
        if bi == bj:
            # panel-at-a-time upper triangle: each unordered pair once via
            # the id inequality, sims bounded to (chunk x block)
            off = 0
            for ln in lens:
                sims = Ma[off:off + ln] @ Ma.T
                r, c = np.where(sims >= threshold)
                keep = Ia[off + r] < Ia[c]
                va_parts.append(Ia[off + r][keep])
                vb_parts.append(Ia[c][keep])
                off += ln
        else:
            if not len(b):
                return empty
            Ib, Mb, _ = unpack(b["items"])
            off = 0
            for ln in lens:
                sims = Ma[off:off + ln] @ Mb.T
                r, c = np.where(sims >= threshold)
                va_parts.append(np.minimum(Ia[off + r], Ib[c]))
                vb_parts.append(np.maximum(Ia[off + r], Ib[c]))
                off += ln
        return pd.DataFrame({"va": np.concatenate(va_parts),
                             "vb": np.concatenate(vb_parts)})

    return bp.groupBy("bi", "bj").applyInPandas(pairs, "va bigint, vb bigint")

"""LSH approximate nearest neighbors (reference SURVEY.md §2.10 M11-M12).

The reference's only interactive query engine is ``get_recommendations``
(transform/execute.ipynb:1645-1670): point-lookup the query vector, LSH
``approxNearestNeighbors`` for k+1, drop self, limit k, collect ids. This
module reproduces that shape with a *seeded* BucketedRandomProjectionLSH
(the reference never seeds — its results are unstable across runs; SURVEY
§5.4 pins determinism) plus a batch variant built on approxSimilarityJoin
for many-query workloads (per-query driver loops don't scale; a single
hash-join over bucketed candidates does).

:func:`recommend` has two paths, chosen by the type of its index argument:

- a ``DataFrame`` (the :func:`prepare_index` frame) runs the Spark chain —
  point lookup, ``approxNearestNeighbors``, sort, collect: 3 jobs and 7
  tasks per request. It is the reference the driver path is tested
  against, and q70's path.
- an :class:`LshIndex` (what ``sources.writers.load_ann_index`` returns)
  answers in the calling process with numpy and launches no Spark job.
  It keeps MLlib's single-probe semantics: candidates are the docs that
  share a bucket with the query in at least one hash table, ranked by
  exact L2 distance. Distances are summed in the order MLlib sums them,
  so both paths return the same ids, ranks and distances (up to ties at
  the (k+1)-th distance, which MLlib breaks arbitrarily).

At the reference's bucket length 1.95 on unit vectors a projection lies
in [-1, 1], so each table has only two buckets (-1 and 0) and the
candidates are ≈100% of the corpus (0.99995 measured on the benchmark's
7.7k-doc serve corpus). The bucket test screens out almost nothing; a
request is cheap because its distance screen accumulates dot products
over the query terms' postings only, a term→(row, value) copy of the
vectors held with the index. Its queries share common tokens, so a query
touches ≈28.8k postings, 9% of the 319k stored nonzeros. Measured on a
4-core VM over that corpus (TF-IDF, 41 nonzeros per doc) and over 4x and
16x copies of it: the index takes ≈1.3 kB per doc in the driver (≈31 B
per nonzero: 16 for the vectors, 12 for their postings, the rest the 14
bucket values, ids, row offsets and norms) and a request ≈23 ns per
query posting (0.75 ms at 7.7k docs, 2.5 ms at 31k, 10.7 ms at 123k).
Loading (parquet read plus construction) takes ≈36 ms, 0.15 s and
0.75 s at those sizes, construction alone 23 ms, 0.09 s and 0.48 s
(against 12 ms, 0.06 s and 0.31 s without postings): the postings are
sorted by term with two stable radix passes over 16-bit digits, linear
in the nonzeros, and what still grows faster than the corpus is the
gathers' cache misses. At the reference's 604k docs that is ≈780 MB of
driver memory, ≈50 ms per request and, extrapolated, ≈4–5 s of load.
Each request in flight allocates ≈3.4 B per stored nonzero (the gathered
postings and a few per-doc arrays): ≈1.1 MB here, ≈85 MB at 604k docs.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.ml.feature import (
    BucketedRandomProjectionLSH,
    BucketedRandomProjectionLSHModel,
    Normalizer,
)
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# Reference LSH hyperparameters: transform/execute.py:266-267.
BUCKET_LENGTH = 1.95
NUM_HASH_TABLES = 14
SEED = 42


def fit_lsh(
    df: DataFrame,
    features_col: str = "norm_features",
    *,
    bucket_length: float = BUCKET_LENGTH,
    num_hash_tables: int = NUM_HASH_TABLES,
    seed: int = SEED,
) -> BucketedRandomProjectionLSHModel:
    lsh = BucketedRandomProjectionLSH(
        inputCol=features_col,
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    return lsh.fit(df)


def prepare_index(
    model: BucketedRandomProjectionLSHModel, df: DataFrame
) -> DataFrame:
    """Precompute + cache the LSH hash column. approxNearestNeighbors
    re-transforms the whole dataset PER QUERY when the hashes column is
    missing — on a 604k-doc corpus that's ~60 s/query of avoidable work
    (measured); against a prepared index the same query is interactive.
    Call once after fit, pass the result as the dataset for every query.
    The frame is persisted, not forced: it fills on its first action
    (the index write, or the first query)."""
    return model.transform(df).persist()


class LshIndex:
    """A saved LSH index held in the driver: the id column, the feature
    vectors as CSR arrays (``indptr``/``indices``/``values``, dense rows
    stored with every position), the same vectors by term as postings
    (``p_ptr``/``p_rows``/``p_vals``) and the bucket values as an ``(n,
    num_hash_tables)`` array. Built by ``sources.writers.load_ann_index``;
    :func:`recommend` answers from it without Spark. Read-only after
    construction, so concurrent requests are safe."""

    def __init__(self, table, id_col: str, features_col: str):
        import pyarrow.compute as pc

        self.id_col, self.features_col = id_col, features_col
        self.ids = table.column(id_col).to_numpy(zero_copy_only=False)
        n = len(self.ids)

        # VectorUDT is struct<type, size, indices, values>; type 1 = dense
        vec = table.column(features_col)
        vals = pc.struct_field(vec, "values")
        nnz = pc.list_value_length(vals).fill_null(0).to_numpy()
        self.indptr = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(nnz, out=self.indptr[1:])
        self.values = pc.list_flatten(vals).to_numpy()
        row = np.repeat(np.arange(n, dtype=np.int32), nnz)
        kind = pc.struct_field(vec, "type").to_numpy(zero_copy_only=False)
        sparse = (kind != 1)[row]
        self.indices = np.arange(len(row)) - self.indptr[row]
        self.indices[sparse] = pc.list_flatten(
            pc.struct_field(vec, "indices")
        ).to_numpy()
        self.dim = int(self.indices.max()) + 1 if len(self.indices) else 0
        self.sq_norms = np.bincount(row, weights=self.values**2, minlength=n)

        # postings (CSC): term t's (row, value) pairs are p_rows/p_vals
        # [p_ptr[t]:p_ptr[t + 1]], in row order. Sorted by term with two
        # stable radix passes over 16-bit digits, low then high: numpy
        # radix-sorts 16-bit keys, which is linear where an int64 argsort
        # is not.
        by_term = np.argsort(self.indices.astype(np.uint16), kind="stable")
        high = (self.indices >> 16).astype(np.uint16)
        by_term = by_term[np.argsort(high[by_term], kind="stable")]
        self.p_ptr = np.zeros(self.dim + 1, dtype=np.int64)
        np.cumsum(
            np.bincount(self.indices, minlength=self.dim), out=self.p_ptr[1:]
        )
        self.p_rows = row[by_term]
        self.p_vals = self.values[by_term]

        # hashes: one size-1 dense vector per table
        hashes = table.column("hashes")
        tables = pc.list_value_length(hashes).fill_null(0).to_numpy()
        h = pc.list_flatten(pc.struct_field(pc.list_flatten(hashes), "values"))
        if n and (np.any(tables != tables[0]) or len(h) != n * tables[0]):
            raise ValueError(
                "hashes: every row needs one single-value bucket per table"
            )
        # column-major: the per-request any() runs down contiguous tables
        self.hashes = np.asfortranarray(
            h.to_numpy().reshape(n, tables[0] if n else 0)
        )

    def __len__(self) -> int:
        return len(self.ids)

    def _sqdist(self, r: int, qi: np.ndarray, qv: np.ndarray) -> float:
        """Vectors.sqdist(row r, query): squared differences over the
        union of both index sets, summed in index order as MLlib does
        (cumsum is sequential), so the distance is bit-identical."""
        lo, hi = self.indptr[r], self.indptr[r + 1]
        xi = self.indices[lo:hi]
        u = np.union1d(xi, qi)
        if not len(u):
            return 0.0
        d = np.zeros(len(u))
        d[np.searchsorted(u, xi)] = self.values[lo:hi]
        d[np.searchsorted(u, qi)] -= qv
        return float(np.cumsum(d * d)[-1])

    def neighbors(self, query_id, top_k: int) -> list[tuple]:
        """(id, dist) of the top_k nearest single-probe candidates,
        ordered by (dist, id), every row with the query's id excluded;
        [] when the id is absent. A repeated id answers from its first
        row."""
        is_query = self.ids == query_id
        hit = np.flatnonzero(is_query)
        if not len(hit) or top_k <= 0:
            return []
        r = hit[0]
        lo, hi = self.indptr[r], self.indptr[r + 1]
        qi, qv = self.indices[lo:hi], self.values[lo:hi]
        # single probe: same bucket as the query in at least one table
        cand = (self.hashes == self.hashes[r]).any(axis=1)
        cand &= ~is_query
        rows = np.flatnonzero(cand)
        if len(rows) > top_k:
            # Screen with |x|^2 + |q|^2 - 2 x.q, which is off by a few ulp
            # of its terms, and keep every row within a wide slack of the
            # k-th screened value; only those get the exact distance. The
            # dots accumulate over the query terms' postings only.
            starts = self.p_ptr[qi]
            lens = self.p_ptr[qi + 1] - starts
            # positions of the query terms' postings, term after term
            at = np.repeat(starts - np.cumsum(lens) + lens, lens)
            at += np.arange(len(at))
            dots = np.bincount(
                self.p_rows[at],
                weights=self.p_vals[at] * np.repeat(qv, lens),
                minlength=len(self.ids),
            )
            qn = float(qv @ qv)
            approx = self.sq_norms[rows] + qn - 2.0 * dots[rows]
            kth = np.partition(approx, top_k - 1)[top_k - 1]
            rows = rows[approx <= kth + 1e-9 * (1.0 + qn + abs(kth))]
        found = [(math.sqrt(self._sqdist(j, qi, qv)), j) for j in rows]
        found.sort(key=lambda t: (t[0], self.ids[t[1]]))
        found = found[:top_k]
        ids = self.ids[[j for _, j in found]].tolist()
        return [(i, d) for i, (d, _) in zip(ids, found)]


class Recommendations(list):
    """Rows ``(id_col, rank, dist)`` from the driver path; ``collect()``
    returns them, so callers treat it like the Spark path's frame."""

    def collect(self) -> list:
        return list(self)


def recommend(
    model: BucketedRandomProjectionLSHModel,
    df: DataFrame | LshIndex,
    id_col: str,
    query_id,
    top_k: int = 5,
    features_col: str = "norm_features",
) -> DataFrame | Recommendations:
    """The reference's get_recommendations shape (execute.ipynb:1645-1670):
    point lookup → approxNearestNeighbors(k+1) → drop self → top-k.
    Returns (id, rank, dist), nearest first. Missing id → no rows.

    On an :class:`LshIndex` the answer is computed in this process (no
    Spark job; ``model`` is not used — the index stores the query's
    buckets) and comes back as :class:`Recommendations`; ``id_col`` and
    ``features_col`` must be the columns the index was loaded with. The
    candidates are the same as MLlib's, and the (dist, id) order is
    applied to all of them rather than to the k+1 nearest. On a
    DataFrame it returns the lazy Spark frame."""
    if isinstance(df, LshIndex):
        if (id_col, features_col) != (df.id_col, df.features_col):
            raise ValueError(
                f"index was loaded with id_col={df.id_col!r}, "
                f"features_col={df.features_col!r}; got {id_col!r}, "
                f"{features_col!r}"
            )
        out = Row(id_col, "rank", "dist")
        return Recommendations(
            out(i, rank, d)
            for rank, (i, d) in enumerate(df.neighbors(query_id, top_k), 1)
        )
    row = df.filter(F.col(id_col) == query_id).select(features_col).first()
    if row is None:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, rank int, dist double"
        )
    neighbors = model.approxNearestNeighbors(
        df, row[features_col], top_k + 1, distCol="dist"
    )
    return (
        neighbors.filter(F.col(id_col) != query_id)
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(top_k)
        .select(
            id_col,
            F.row_number()
            .over(W.orderBy(F.col("dist").asc(), F.col(id_col).asc()))
            .alias("rank"),
            "dist",
        )
    )


def _batch_lsh_pass(
    model: BucketedRandomProjectionLSHModel,
    qs: DataFrame,
    dataset: DataFrame,
    id_col: str,
    query_id_col: str,
    *,
    radius: float,
) -> DataFrame:
    """One LSH similarity-join pass of :func:`batch_ann` as a LAZY frame
    (query_id, neighbor_id, dist). Module-level so the plan-pin harness
    (scripts/pin_plans.py: batch_ann_pass1) captures EXACTLY the join the
    bench executes instead of a re-derived copy that could silently
    diverge (r18 review).

    The query batch is broadcast, so it must fit in a broadcast. Without
    the hint the planner sizes an unfilled ``prepare_index`` cache from
    its plan estimate and can broadcast the whole index instead."""
    return model.approxSimilarityJoin(
        F.broadcast(qs), dataset, radius, distCol="dist"
    ).select(
        F.col(f"datasetA.{query_id_col}").alias("query_id"),
        F.col(f"datasetB.{id_col}").alias("neighbor_id"),
        "dist",
    )


def _batch_topk(pairs: DataFrame, top_k: int) -> DataFrame:
    """The per-query top-k window over a candidate-pair frame — lazy
    (batch_ann adds the eager localCheckpoint; the pin harness does
    not). Per-QUERY window: high-cardinality partitions, the
    single-window form's correct case (see operators/topk.py and
    ml/ivf.py's note)."""
    w = W.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
    )


def batch_ann(
    model: BucketedRandomProjectionLSHModel,
    queries: DataFrame,
    dataset: DataFrame,
    id_col: str,
    query_id_col: str,
    *,
    top_k: int = 5,
    radius: float = 1.4,
) -> DataFrame:
    """Many-query ANN as ONE distributed job: approxSimilarityJoin inside
    ``radius`` (on L2-normalized vectors dist=sqrt(2-2cos), so radius 1.4 ≈
    cos >= 0.02), then window top-k per query, where the reference's
    per-query approxNearestNeighbors loop runs a full scan per query from
    the driver. The corpus side scales with the cluster; the query side
    is broadcast (see the last paragraph), so a many-query batch over a
    large corpus has to be split into chunks that each fit in a
    broadcast.

    A fixed radius under-returns for queries in sparse neighborhoods (the
    r2 scale audit). Under-filled queries (< top_k neighbors) are re-run
    through one join at twice the radius, and — since approxSimilarityJoin
    can only ever see bucket-colliding pairs regardless of radius — any
    STILL-under-filled residual finishes with an exact brute-force pass.
    Each escalation touches only the residual queries, so the common case
    stays one join and the guarantee costs (residual x dataset), not
    (queries x dataset).

    Each pass's top-k is materialized via localCheckpoint: it is O(queries
    x top_k) rows, and the under-fill check would otherwise re-run the
    similarity join once per escalation decision. Every pass broadcasts
    its queries, so the query batch must fit in a broadcast.
    """
    def topk(pairs: DataFrame) -> DataFrame:
        return _batch_topk(pairs, top_k).localCheckpoint(eager=True)

    def lsh_pass(qs: DataFrame, r: float) -> DataFrame:
        return _batch_lsh_pass(
            model, qs, dataset, id_col, query_id_col, radius=r
        )

    def residual(result: DataFrame) -> DataFrame:
        filled = (
            result.groupBy("query_id")
            .count()
            .filter(F.col("count") >= top_k)
            .select("query_id")
        )
        return queries.join(
            filled,
            queries[query_id_col] == filled["query_id"],
            "left_anti",
        )

    def merge(result: DataFrame, redo: DataFrame) -> DataFrame:
        # redo replaces the under-filled queries' rows wholesale (their
        # earlier partial candidates are a subset of the wider pass's).
        return result.join(
            redo.select("query_id").distinct(), "query_id", "left_anti"
        ).unionByName(redo)

    result = topk(lsh_pass(queries, radius))
    under = residual(result)
    if under.isEmpty():
        return result
    result = merge(result, topk(lsh_pass(under, radius * 2)))
    under = residual(result)
    if under.isEmpty():
        return result
    feat = model.getInputCol()
    qa = F.broadcast(
        under.select(
            F.col(query_id_col).alias("query_id"),
            vector_to_array(feat).alias("__qa"),
        )
    )
    da = dataset.select(
        F.col(id_col).alias("neighbor_id"),
        vector_to_array(feat).alias("__da"),
    )
    exact = qa.crossJoin(da).select(
        "query_id",
        "neighbor_id",
        F.sqrt(
            F.aggregate(
                F.zip_with("__qa", "__da", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("dist"),
    )
    return merge(result, topk(exact))


def embeddings_as_vectors(
    spark: SparkSession, sf_dir: str, *, normalized: bool = True
) -> DataFrame:
    """embeddings table with the array<float> column promoted to VectorUDT
    (and L2-normalized so LSH Euclidean distance tracks cosine)."""
    from movie_recommendation_etl_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", array_to_vector("embedding").alias("vec")
    )
    if not normalized:
        return emb
    return Normalizer(inputCol="vec", outputCol="norm_vec", p=2.0).transform(
        emb
    )

"""Approximate nearest neighbor — index-as-columns (the Spark-native
replacement for the reference's HNSW side-car, SURVEY.md §2.9).

The reference builds an hnswlib graph over the whole matrix on every add
(performance/hnsw_index.py:44-77, rebuilt from scratch per batch —
service/optimized_vector_store.py:110-113). A graph index doesn't
distribute; the Spark-native analog is *partition pruning*: a batch job
assigns every row a coarse cell id (IVF centroid or LSH bucket), stored
as a plain column; search scores only the query's probe cells, exact
within them. New data gets cell ids per micro-batch (assignment is a
pure projection once centroids exist) — no global rebuild, ever.

- IVF: k-means centroids (pyspark.ml KMeans, trained on a sample),
  ``centroid_id`` column; search probes the ``nprobe`` nearest
  centroids. The accuracy/speed knob mirrors the reference's
  ``ef_search``.
- LSH: ``bucket_id`` from random-hyperplane sign bits (cosine LSH);
  multiprobe flips bits for recall. Bucket assignment is a pure column
  expression — usable in streaming ingest too.

Both paths keep the exact operators as their within-cell kernel and as
the always-available fallback (the reference falls back to brute force
silently, service/optimized_vector_store.py:142-145).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mlx_vector_db_spark.functions.vector import dot_product, vector_literal
from mlx_vector_db_spark.operators.knn import knn_join, knn_query

__all__ = [
    "IVFIndex",
    "LSHIndex",
    "index_from_dict",
    "build_ivf",
    "train_ivf",
    "assign_cells_arrow",
    "auto_nlist",
    "build_lsh",
    "lsh_bucket_expr",
    "add_lsh_buckets",
    "lsh_probe_buckets",
    "tune_nprobe",
]


#: cell count at which argmin-assignment leaves the expression path:
#: past this, CONSTRUCTING the literal-matrix expression is O(k * dim)
#: py4j round-trips and its interpreted per-row evaluation dwarfs one
#: BLAS matmul per Arrow batch (measured: ~200 s to build + 0.8 ms/row
#: at k=4000 vs ~20 s total for 200k rows through Arrow)
ASSIGN_ARROW_MIN_K = 128


def _cell_kernel(centroids: np.ndarray):
    """The argmin-centroid numpy kernel every batch assignment path
    shares: ``kernel(X, with_dist=False) -> (cells int32, sq_dists or
    None)`` for a float64 row matrix ``X``, via one BLAS matmul.

    Ties break toward the LARGER id — the ``array_max(struct)`` rule of
    the expression path (:meth:`IVFIndex.assign_expr`), so every path
    agrees exactly. The centroid matrix is stored reversed because
    argmax over a reversed numpy VIEW falls off the contiguous fast
    path (measured 40x the matmul)."""
    C = np.asarray(centroids, dtype=np.float64)[::-1].copy()
    last = len(C) - 1
    half_sq = 0.5 * (C**2).sum(axis=1)

    def kernel(X: np.ndarray, with_dist: bool = False):
        scores = X @ C.T - half_sq  # argmax == argmin ||x-c||
        rev_idx = scores.argmax(axis=1)  # first max = largest cid
        cells = (last - rev_idx).astype("int32")
        if not with_dist:
            return cells, None
        picked = scores[np.arange(len(rev_idx)), rev_idx]
        return cells, (X**2).sum(axis=1) - 2.0 * picked

    return kernel


def assign_cells_arrow(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str,
    out_col: str,
    dist_col: str | None = None,
) -> DataFrame:
    """``df`` + ``out_col`` = argmin-centroid cell id (int32) via
    :func:`_cell_kernel` once per Arrow batch (``mapInArrow``, zero-copy
    list buffers), plus the exact squared L2 distance when ``dist_col``
    is given. NULL vectors pass through as NULL cell id (and NULL
    distance) — the same semantics the expression path gets for free —
    so the auto expr/arrow switch never changes failure behavior."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    kernel = _cell_kernel(centroids)
    fields = list(df.schema.fields) + [StructField(out_col, IntegerType())]
    if dist_col is not None:
        fields.append(StructField(dist_col, DoubleType()))
    schema = StructType(fields)

    def score_batches(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            col = rb.column(rb.schema.get_field_index(vec_col))
            # NULL rows contribute no values to flatten(), so the valid
            # rows stay densely packed for the matmul; results scatter
            # back under the validity mask
            valid = (
                ~np.asarray(col.is_null())
                if col.null_count
                else np.ones(rb.num_rows, dtype=bool)
            )
            n_valid = int(valid.sum())
            flat = col.flatten().to_numpy(zero_copy_only=False)
            cells = np.zeros(rb.num_rows, dtype="int32")
            dists = np.zeros(rb.num_rows, dtype="float64")
            if n_valid:
                X = flat.astype(np.float64, copy=False).reshape(n_valid, -1)
                cells[valid], d = kernel(X, with_dist=dist_col is not None)
                if d is not None:
                    dists[valid] = d
            mask = None if col.null_count == 0 else ~valid
            arrays = list(rb.columns) + [pa.array(cells, mask=mask)]
            names = list(rb.schema.names) + [out_col]
            if dist_col is not None:
                arrays.append(pa.array(dists, mask=mask))
                names.append(dist_col)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(score_batches, schema)


class _CellIndex:
    """Shared machinery for cell-pruning indexes: a tiny driver-side
    parameter block (centroids or hyperplanes), a per-row cell id as a
    plain column, and search = prune-to-probe-cells + exact top-k
    inside. Subclasses define ``assign_expr`` / ``probes_for`` /
    ``to_dict``."""

    vec_col: str

    def assign(self, df: DataFrame) -> DataFrame:
        return df.withColumn("centroid_id", self.assign_expr())

    def search(
        self,
        indexed: DataFrame,
        query_vector: Sequence[float],
        k: int = 10,
        nprobe: int = 4,
        metric: str = "cosine",
        **knn_kwargs,
    ) -> DataFrame:
        """Probe-bucket pruning + exact top-k inside (reference X2 with
        over-fetch policy replaced by nprobe). ``indexed`` must carry the
        ``centroid_id`` column; the isin predicate partition-prunes when
        the table is partitioned/bucketed by it."""
        probes = self.probes_for(query_vector, nprobe)
        pruned = indexed.where(F.col("centroid_id").isin(probes))
        return knn_query(pruned, query_vector, k=k, metric=metric, **knn_kwargs)

    def search_batch(
        self,
        indexed: DataFrame,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        metric: str = "cosine",
        query_vec_col: str = "embedding",
        query_id_col: str = "query_id",
        **knn_kwargs,
    ) -> DataFrame:
        """Batch ANN: assign each query its nprobe probe cells (driver-side
        on the collected query block — queries are the small side), then
        an equi-join on centroid_id generates candidates; exact top-k per
        query re-ranks. The shuffle key is the centroid, so candidate
        generation is a standard hash join, never a cross join."""
        spark = indexed.sparkSession
        # engine-wide NULL rule (knn._drop_null_vectors): a NULL query
        # vector must produce no output rows, not a probes_for crash —
        # and the joined query side below applies the same filter so
        # both sides stay consistent. Arrow-path collect (ADVICE r9).
        from mlx_vector_db_spark.operators.knn import _drop_null_vectors

        queries = _drop_null_vectors(queries, query_vec_col)
        qpdf = queries.select(query_id_col, query_vec_col).toPandas()
        if len(qpdf) == 0:
            raise ValueError("empty query set")
        probe_rows = [
            (int(qid), int(c))
            for qid, qv in zip(qpdf[query_id_col], qpdf[query_vec_col])
            for c in self.probes_for(qv, nprobe)
        ]
        del qpdf
        probes_df = spark.createDataFrame(
            probe_rows, f"{query_id_col} long, centroid_id int"
        )
        from mlx_vector_db_spark.functions.vector import l2_norm, score_for_metric
        from mlx_vector_db_spark.operators.knn import _annotate, _order
        from mlx_vector_db_spark.operators.topk import top_k_per_group

        id_col = knn_kwargs.get("id_col", "id")
        vec_col = knn_kwargs.get("vec_col", "embedding")
        norm_col = knn_kwargs.get("norm_col")
        # (query x probe-cell) pairs, broadcast: the equi-join key against
        # the big table is centroid_id, so each query only ever meets the
        # rows inside its own probe cells.
        qside = F.broadcast(
            queries.join(probes_df, on=query_id_col).select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vec_col).cast("array<double>").alias("_qvec"),
                F.col("centroid_id"),
                *(
                    [l2_norm(query_vec_col).alias("_qnorm")]
                    if metric == "cosine"
                    else []
                ),
            )
        )
        joined = indexed.join(qside, on="centroid_id")
        v_norm = F.col(norm_col) if (norm_col and metric == "cosine") else None
        q_norm = F.col("_qnorm") if metric == "cosine" else None
        raw = score_for_metric(metric, vec_col, F.col("_qvec"), a_norm=v_norm, b_norm=q_norm)
        scored = _annotate(metric, joined, raw)
        topk = top_k_per_group(
            scored, ["query_id"], _order(metric, F.col("score"), id_col), int(k)
        )
        return topk.select(
            "query_id", id_col, "score", "similarity", "distance", "rank"
        )


class IVFIndex(_CellIndex):
    """Coarse quantizer: centroids live on the driver (tiny — nlist x dim
    doubles), assignments live in the table as a ``centroid_id`` column."""

    def __init__(self, centroids: np.ndarray, vec_col: str = "embedding"):
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.vec_col = vec_col

    def to_dict(self) -> dict:
        """JSON-serializable form (reference persists its index beside the
        data, performance/hnsw_index.py:105-129; ours is a KB-sized
        centroid list instead of a binary graph)."""
        return {
            "type": "ivf",
            "vec_col": self.vec_col,
            "centroids": self.centroids.tolist(),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "IVFIndex":
        return cls(np.asarray(d["centroids"], dtype=np.float64), d["vec_col"])

    @property
    def nlist(self) -> int:
        return len(self.centroids)

    def assign(self, df: DataFrame, method: str = "auto") -> DataFrame:
        """``df`` + ``centroid_id`` for a DataFrame batch: the expression
        path composes into any plan (pushdown, streaming projections)
        and stays the default at small nlist; past ``ASSIGN_ARROW_MIN_K``
        cells the Arrow BLAS path takes over (see
        :func:`assign_cells_arrow` for the measured cliff). Both break
        ties identically. Rows that are already driver-side numpy
        (wire-format store writes) skip Spark entirely through
        :meth:`assign_matrix`, the same kernel as the Arrow path."""
        if method not in ("auto", "expr", "arrow"):
            raise ValueError(f"method must be auto|expr|arrow (got {method!r})")
        if method == "auto":
            method = "arrow" if self.nlist >= ASSIGN_ARROW_MIN_K else "expr"
        if method == "expr":
            return df.withColumn("centroid_id", self.assign_expr())
        return assign_cells_arrow(df, self.centroids, self.vec_col, "centroid_id")

    def assign_matrix(self, X: np.ndarray) -> np.ndarray:
        """int32 cell ids for a driver-side ``(n, dim)`` row matrix —
        :func:`_cell_kernel`, the kernel behind the Arrow path, so the
        store's list-input writes and its DataFrame writes at
        ``nlist >= ASSIGN_ARROW_MIN_K`` share one tie rule."""
        return _cell_kernel(self.centroids)(np.asarray(X, dtype=np.float64))[0]

    def assign_expr(self) -> Column:
        """centroid_id as a column expression: argmin over centroid
        distances, computed from literal centroid arrays — pure JVM,
        applies to batch *and* streaming ingest.

        Uses the identity argmin ||v-c|| = argmax (v.c - ||c||^2/2), so
        each centroid costs one dot product. The centroid loop is one
        ``transform`` lambda over a literal nlist x dim matrix — a single
        shared dot-product subtree, not nlist inlined copies (nlist
        copies made Catalyst analysis + codegen the dominant cost of
        every plan touching the index). The matrix is built by
        :func:`vector_literal` as ONE folded literal: building it per
        element cost ``nlist * dim`` py4j round trips per plan.

        A NULL vector yields a NULL centroid_id — explicitly guarded,
        because struct comparison under ``array_max`` falls through to
        the cid field when every score is NULL and would otherwise
        silently park NULL rows in the last cell. The Arrow path
        (``assign_cells_arrow``) masks NULL rows to the same effect."""
        cmat = vector_literal(self.centroids)
        half_sq = vector_literal([float(c @ c) / 2.0 for c in self.centroids])
        scored = F.transform(
            cmat,
            lambda c, i: F.struct(
                (dot_product(F.col(self.vec_col), c) - F.element_at(half_sq, i + 1)).alias(
                    "score"
                ),
                i.alias("cid"),
            ),
        )
        return F.when(
            F.col(self.vec_col).isNotNull(), F.array_max(scored)["cid"]
        )

    def probes_for(self, query_vector: Sequence[float], nprobe: int) -> list[int]:
        q = np.asarray(query_vector, dtype=np.float64)
        d = ((self.centroids - q) ** 2).sum(axis=1)
        return np.argsort(d)[: min(nprobe, self.nlist)].tolist()


class LSHIndex(_CellIndex):
    """Random-hyperplane (cosine) LSH as the alternate cell index: the
    driver-side parameter block is the plane matrix, the cell id is the
    sign-bit bucket, probing is multiprobe bit-flips ranked by margin.
    Data-independent (no training scan — build is a pure projection), at
    the cost of less adaptive cells than IVF; the reference exposes an
    analogous index-choice knob (enable_hnsw + params, README.md:304-311)."""

    #: bucket ids live in an int centroid_id column; 2**30 buckets is far
    #: past useful LSH granularity and bit 31+ would wrap the int cast
    #: (non-ANSI), silently corrupting assignments — validate at every
    #: construction site (build and deserialize both come through here).
    MAX_PLANES = 30

    def __init__(self, planes: np.ndarray, vec_col: str = "embedding"):
        self.planes = np.asarray(planes, dtype=np.float64)
        if len(self.planes) > self.MAX_PLANES:
            raise ValueError(
                f"n_planes must be <= {self.MAX_PLANES} (got {len(self.planes)}): "
                "bucket ids are int32 cells; realistically keep <= 16 so the "
                "exhaustive multiprobe ranking applies"
            )
        self.vec_col = vec_col

    def to_dict(self) -> dict:
        return {
            "type": "lsh",
            "vec_col": self.vec_col,
            "planes": self.planes.tolist(),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "LSHIndex":
        return cls(np.asarray(d["planes"], dtype=np.float64), d["vec_col"])

    @property
    def nlist(self) -> int:
        return 1 << len(self.planes)

    def assign_expr(self) -> Column:
        return lsh_bucket_expr(self.planes, self.vec_col).cast("int")

    def probes_for(self, query_vector: Sequence[float], nprobe: int) -> list[int]:
        """Query-directed multiprobe: rank candidate buckets by the total
        hyperplane margin that must be crossed to reach them (sum of
        |margin| over flipped bits) and take the nprobe cheapest — the
        query's own bucket costs 0 and is always first; nprobe == nlist
        degrades to the exact scan. Exhaustive mask ranking up to 2^16
        buckets; beyond that, single-bit-flip ranking (still sound: any
        unprobed bucket only costs recall, never correctness of what IS
        scanned)."""
        nprobe = max(1, min(int(nprobe), self.nlist))
        q = np.asarray(query_vector, dtype=np.float64)
        margins = self.planes @ q
        n = len(self.planes)
        base = int(sum((1 << i) for i, m in enumerate(margins) if m > 0))
        if n <= 16:
            masks = np.arange(1 << n, dtype=np.int64)
            bits = (masks[:, None] >> np.arange(n)) & 1
            costs = bits @ np.abs(margins)
            order = np.argsort(costs, kind="stable")[:nprobe]
            return [base ^ int(m) for m in masks[order]]
        return lsh_probe_buckets(q, self.planes, multiprobe=nprobe - 1)[:nprobe]


def index_from_dict(d: dict) -> _CellIndex:
    """Deserialize a persisted cell index by its ``type`` tag."""
    kinds = {"ivf": IVFIndex, "lsh": LSHIndex}
    try:
        return kinds[d["type"]].from_dict(d)
    except KeyError:
        raise ValueError(f"unknown index type: {d.get('type')!r}") from None


def _vectors_to_matrix(df_1col: DataFrame) -> np.ndarray:
    """Bounded driver transfer of a single ``array<double>`` column as
    a contiguous (n, dim) float64 matrix. Arrow list arrays flatten to
    one values buffer — no per-row Python objects, no vstack loop
    (which cost as much as the transfer itself at 200k x 64). Falls
    back to the row-wise path for ragged input (which the dim checks
    upstream reject anyway)."""
    tbl = df_1col.toArrow()
    col = tbl.column(0).combine_chunks()
    n = len(col)
    if n == 0:
        return np.empty((0, 0), dtype=np.float64)
    import pyarrow.compute as pc

    if col.null_count == 0:
        lens = pc.unique(pc.list_value_length(col))
        if len(lens) == 1:
            flat = col.flatten().to_numpy(zero_copy_only=False)
            return flat.astype(np.float64, copy=False).reshape(n, -1)
    return np.vstack(col.to_pandas().to_numpy()).astype(np.float64, copy=False)


def _kmeanspp_seeds(
    X: np.ndarray, k: int, rng: np.random.Generator, init_cap: int
) -> np.ndarray:
    """k-means++ seeding on a bounded subsample. Seeding is
    O(k * pool * d) — the dominant fit cost once k reaches the
    hundreds — so the candidate pool is capped; the subsequent
    refinement passes run against the full sample, so only the seeds
    are approximate, not the fit."""
    n = len(X)
    Xi = X if n <= init_cap else X[rng.choice(n, init_cap, replace=False)]
    ni = len(Xi)
    centroids = np.empty((k, X.shape[1]), dtype=np.float64)
    centroids[0] = Xi[rng.integers(ni)]
    d2 = ((Xi - centroids[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        total = d2.sum()
        probs = d2 / total if total > 0 else None
        centroids[j] = Xi[rng.choice(ni, p=probs)]
        d2 = np.minimum(d2, ((Xi - centroids[j]) ** 2).sum(axis=1))
    return centroids


#: flop budget above which the full-Lloyd driver fit hands off to
#: mini-batch: n * k * d * max_iter beyond this means minutes of BLAS
_LLOYD_FLOP_BUDGET = 4e11


def _group_sums(X: np.ndarray, assign: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-cluster (sums, counts) via sort + add.reduceat —
    ``np.add.at`` is an unbuffered scatter (~100x slower element-wise)
    and dominated the fit wall at 200k x 64."""
    counts = np.bincount(assign, minlength=k).astype(np.float64)
    sums = np.zeros((k, X.shape[1]), dtype=np.float64)
    order = np.argsort(assign, kind="stable")
    sa = assign[order]
    starts = np.flatnonzero(np.diff(sa)) + 1
    starts = np.concatenate(([0], starts))
    sums[sa[starts]] = np.add.reduceat(X[order], starts, axis=0)
    return sums, counts


def _kmeans_numpy(
    X: np.ndarray,
    k: int,
    seed: int,
    max_iter: int = 20,
    tol: float = 1e-6,
    algo: str = "auto",
    batch_size: int = 4096,
) -> np.ndarray:
    """Driver-side k-means over the (bounded) training sample — zero
    Spark jobs per iteration, vs MLlib's several, which dominate wall
    time for the KB-to-MB-sized training sets IVF coarse quantizers
    use.

    ``algo="lloyd"``: exact Lloyd's, vectorized numpy.
    ``algo="minibatch"``: Sculley (2010) mini-batch k-means —
    per-center learning-rate updates over random batches; the fit cost
    is O(iters * batch * k * d) independent of sample size, which is
    what keeps large-k quantizer training (nlist in the thousands, the
    realistic 100 TB regime) in seconds instead of minutes.
    ``"auto"`` picks mini-batch once full Lloyd's would exceed
    ~``_LLOYD_FLOP_BUDGET`` flops. Deterministic for a given seed
    either way."""
    rng = np.random.default_rng(seed)
    n = len(X)
    k = min(k, n)
    if algo == "auto":
        algo = (
            "minibatch"
            if float(n) * k * X.shape[1] * max_iter > _LLOYD_FLOP_BUDGET
            else "lloyd"
        )
    if algo == "minibatch":
        return _minibatch_kmeans(X, k, rng, batch_size=batch_size)
    if algo != "lloyd":
        raise ValueError(f"algo must be auto|lloyd|minibatch (got {algo!r})")
    centroids = _kmeanspp_seeds(X, k, rng, init_cap=max(4096, 32 * k))
    # the per-iteration cost is MEMORY BANDWIDTH on the (n, k) score
    # matrix, not flops (measured: the broadcast bias subtraction alone
    # tripled the wall by rewriting the 268 MB buffer) — so score in
    # float32 into ONE preallocated buffer, in place; centroid sums
    # still accumulate from the float64 sample, so only the argmax
    # sees reduced precision (a seeded-training tie, not a result)
    Xf = X.astype(np.float32)
    buf = np.empty((len(X), k), dtype=np.float32)
    for _ in range(max_iter):
        Cf = centroids.T.astype(np.float32)
        half_f = (0.5 * (centroids**2).sum(axis=1)).astype(np.float32)
        np.matmul(Xf, Cf, out=buf)
        np.subtract(buf, half_f, out=buf)
        assign = buf.argmax(axis=1)
        # vectorized centroid update: per-cluster sums via one
        # sort + segmented reduce, not a k-long Python loop of boolean
        # masks (the loop dominated fit wall past k ~ a few hundred)
        sums, counts = _group_sums(X, assign, k)
        nonempty = counts > 0
        new = centroids.copy()
        new[nonempty] = sums[nonempty] / counts[nonempty, None]
        shift = float(((new - centroids) ** 2).sum())
        centroids = new
        if shift < tol:
            break
    return centroids


def _minibatch_kmeans(
    X: np.ndarray,
    k: int,
    rng: np.random.Generator,
    batch_size: int = 4096,
    max_batches: int = 300,
) -> np.ndarray:
    """Sculley (2010) mini-batch k-means: assign a random batch with
    one BLAS matmul, then move each touched center toward its batch
    members with a per-center learning rate 1/count — an online
    gradient step on the k-means objective. Seeds come from k-means++
    on a small pool (the sklearn convention: quality recovers through
    the many cheap refinement batches)."""
    n = len(X)
    b = min(int(batch_size), n)
    # random-distinct-point init (the faiss convention): k-means++'s
    # O(k * pool * d) sequential loop costs more than ALL the
    # refinement batches combined once k reaches the thousands, and
    # the batches recover the quality it buys
    centroids = X[rng.choice(n, k, replace=False)].astype(np.float64, copy=True)
    counts = np.zeros(k, dtype=np.float64)
    # ~1 epoch over the sample, floor 60 batches: past that the
    # centers move by O(1/count) and the quantizer's recall (what the
    # gates measure) has flattened
    n_batches = min(max_batches, max(60, n // b))
    half_sq = 0.5 * (centroids**2).sum(axis=1)
    for _ in range(n_batches):
        batch = X[rng.integers(0, n, size=b)]
        assign = (batch @ centroids.T - half_sq).argmax(axis=1)
        sums, bc = _group_sums(batch, assign, k)
        counts += bc
        touched = bc > 0
        # x_new = x + (mean_batch - x) * (bc / counts): the aggregate
        # form of Sculley's per-example 1/count steps within one batch
        lr = (bc[touched] / counts[touched])[:, None]
        centroids[touched] += (
            sums[touched] / bc[touched, None] - centroids[touched]
        ) * lr
        half_sq = 0.5 * (centroids**2).sum(axis=1)
    return centroids


def auto_nlist(n_rows: int) -> int:
    """The faiss sizing rule for IVF cell counts: ~4*sqrt(n) cells
    (each cell then holds ~sqrt(n)/4 rows — big enough to amortize the
    probe, small enough that nprobe/nlist prunes hard), rounded to a
    power of two and clamped to [16, 65536]. Practical at the top of
    that range only because training is mini-batch and assignment is
    the Arrow BLAS path past ASSIGN_ARROW_MIN_K."""
    import math

    if n_rows < 1:
        return 16
    raw = 4.0 * math.sqrt(float(n_rows))
    return min(1 << 16, max(16, 1 << round(math.log2(raw))))


def train_ivf(
    df: DataFrame,
    nlist: int | str = 16,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 42,
    max_iter: int = 20,
    max_train_rows: int = 262_144,
) -> IVFIndex:
    """Quantizer training (reference X1's replacement): k-means
    centroids trained driver-side on a bounded sample. Returns the
    index only — see :func:`build_ivf` for the assigned frame.

    Training on a sample is the 100 TB design, not a shortcut: a coarse
    quantizer needs ~thousands of points per cell, so ``max_train_rows``
    caps the driver transfer no matter the table size (parquet count is
    metadata-only; the sample is one scan). The *distributed* work —
    assigning every row — stays a pure JVM column expression."""
    if max_train_rows < 1:
        raise ValueError(f"max_train_rows must be >= 1 (got {max_train_rows})")
    train = df if sample_fraction is None else df.sample(sample_fraction, seed=seed)
    n = train.count()
    if n == 0:
        raise ValueError("cannot build an IVF index over an empty table")
    if isinstance(nlist, str):
        if nlist != "auto":
            raise ValueError(f"nlist must be an int or 'auto' (got {nlist!r})")
        nlist = auto_nlist(n)
    if n > max_train_rows:
        frac = min(1.0, 1.2 * max_train_rows / n)
        train = train.sample(frac, seed=seed)
    # Arrow transfer: collect() would materialize up to max_train_rows Row
    # objects of boxed Python floats (multi-GB at 384-dim); Arrow moves
    # the sample as contiguous buffers. The transfer stays bounded by
    # construction: n was just counted exactly, so the limit() is only
    # needed on the sampled branch (sample() is binomial and can
    # overshoot max_train_rows) — and skipping it elsewhere avoids
    # CollectLimit's serial partition pull, which single-threaded the
    # whole training scan. The float->double widening happens in numpy
    # (one vectorized pass) instead of a per-element JVM cast.
    sample_df = train.select(F.col(vec_col).alias("_v"))
    if n > max_train_rows:
        sample_df = sample_df.limit(int(max_train_rows))
    X = _vectors_to_matrix(sample_df)
    centroids = _kmeans_numpy(X, nlist, seed=seed, max_iter=max_iter)
    return IVFIndex(centroids, vec_col=vec_col)


def build_ivf(
    df: DataFrame,
    nlist: int | str = 16,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 42,
    max_iter: int = 20,
    max_train_rows: int = 262_144,
) -> tuple[DataFrame, IVFIndex]:
    """:func:`train_ivf` + the centroid-id assignment column. Callers
    that only need the INDEX (k-means facades, large-k clustering whose
    assignment goes through the Arrow path) should call ``train_ivf``:
    merely CONSTRUCTING the literal-matrix assignment expression is
    O(nlist * dim) py4j round-trips — minutes of driver wall at
    nlist in the thousands, before anything even runs."""
    index = train_ivf(
        df,
        nlist=nlist,
        vec_col=vec_col,
        sample_fraction=sample_fraction,
        seed=seed,
        max_iter=max_iter,
        max_train_rows=max_train_rows,
    )
    return index.assign(df), index


def build_lsh(
    df: DataFrame,
    dim: int,
    n_planes: int = 4,
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, "LSHIndex"]:
    """Batch LSH index build: no training pass at all (the planes are
    data-independent), assignment is a pure projected column — the
    cheapest possible index build at 100 TB. Returns (indexed_df, index)."""
    index = LSHIndex(make_planes(dim, n_planes, seed), vec_col=vec_col)
    return index.assign(df), index


def lsh_bucket_expr(
    planes: np.ndarray, vec_col: str = "embedding"
) -> Column:
    """Random-hyperplane (cosine) LSH bucket id: bit i = sign(v . h_i).
    Pure column expression — one dot product per plane."""
    bits = [
        F.when(
            dot_product(vec_col, vector_literal(p)) > 0,
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i, p in enumerate(planes)
    ]
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total


def make_planes(dim: int, n_planes: int = 12, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def add_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, np.ndarray]:
    planes = make_planes(dim, n_planes, seed)
    return df.withColumn("bucket_id", lsh_bucket_expr(planes, vec_col)), planes


def lsh_probe_buckets(
    query_vector: Sequence[float], planes: np.ndarray, multiprobe: int = 1
) -> list[int]:
    """The query's bucket plus single-bit-flip neighbors ranked by how
    close the query sits to each hyperplane (standard multiprobe LSH)."""
    q = np.asarray(query_vector, dtype=np.float64)
    margins = planes @ q
    base = int(sum((1 << i) for i, m in enumerate(margins) if m > 0))
    out = [base]
    if multiprobe > 0:
        closest = np.argsort(np.abs(margins))
        for i in closest[: int(multiprobe)]:
            out.append(base ^ (1 << int(i)))
    return out


def tune_nprobe(
    indexed: DataFrame,
    index: "_CellIndex",
    queries: DataFrame,
    k: int = 10,
    target_recall: float = 0.9,
    metric: str = "cosine",
    candidates: Sequence[int] | None = None,
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    **knn_kwargs,
) -> tuple[int, dict[int, float]]:
    """Pick the smallest ``nprobe`` whose measured recall@k on a sampled
    query set meets ``target_recall`` — the accuracy/latency knob made
    self-calibrating (the reference exposes its HNSW ``ef`` knobs and
    sweeps them by hand in tests/performance_demo_hnsw.py:96; this is
    that sweep as a first-class operator).

    One EXACT kNN pass over the sampled queries supplies the ground
    truth (checkpointed — it amortizes across every candidate), then one
    probe-pruned search per candidate, ascending, stopping at the first
    candidate that clears the target. Default candidate ladder: powers
    of two up to ``index.nlist``. Returns ``(nprobe, recall_curve)`` —
    the curve maps every TRIED candidate to its measured recall, so
    callers can log the whole trade-off; if no candidate reaches the
    target the full-probe ``nlist`` is returned (full probe equals the
    exact scan on a partition-complete index).

    Sample the queries: recall estimation needs tens of queries, not the
    corpus — cost is one exact batch kNN over the sample plus a few
    pruned searches. On a clustered corpus the chosen nprobe lands far
    below nlist; on a structureless one it honestly climbs toward full
    probe (recall ≈ probed fraction there — see SCALE.md "Recall on
    structureless data").
    """
    from mlx_vector_db_spark.operators.knn import knn_join

    if not (0.0 < target_recall <= 1.0):
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    nlist = int(index.nlist)
    if candidates is None:
        ladder: list[int] = []
        c = 1
        while c < nlist:
            ladder.append(c)
            c *= 2
        ladder.append(nlist)
    else:
        ladder = sorted({max(1, min(int(c), nlist)) for c in candidates})
    id_col = knn_kwargs.get("id_col", "id")
    exact = (
        knn_join(
            indexed,
            queries,
            k=k,
            metric=metric,
            query_vec_col=query_vec_col,
            query_id_col=query_id_col,
            **knn_kwargs,
        )
        .select(F.col(query_id_col).alias("query_id"), F.col(id_col))
        .localCheckpoint(eager=False)
    )
    n_truth = exact.count()
    if n_truth == 0:
        raise ValueError("empty query sample — nothing to tune on")
    curve: dict[int, float] = {}
    chosen = nlist
    for c in ladder:
        approx = index.search_batch(
            indexed, queries, k=k, nprobe=c, metric=metric,
            query_vec_col=query_vec_col, query_id_col=query_id_col,
            **knn_kwargs,
        ).select("query_id", id_col)
        hits = approx.join(exact, on=["query_id", id_col]).count()
        recall = hits / n_truth
        curve[c] = recall
        if recall >= target_recall:
            chosen = c
            break
    return chosen, curve

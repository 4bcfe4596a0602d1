"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a single narrow projection (the dot
product is one ``aggregate(zip_with(...))`` Catalyst expression, no UDF,
no shuffle until the final top-k, which Spark executes as TakeOrdered —
map-side partial top-k per partition, only k rows cross the wire).

Scale path: random-hyperplane LSH bucketing — each vector lands in
``2^n_planes`` buckets; a query probes only its bucket, cutting the scan
by the bucket fan-out. Exactness is traded per-bucket; the API returns
(bucket-restricted) exact cosine order.
"""

from __future__ import annotations

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _vec_lit(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def cosine_expr(col: str | Column, query: list[float]) -> Column:
    """Cosine similarity between an array column and a constant query
    vector as a pure Catalyst expression (zip_with product + aggregate
    fold, SURVEY.md north-star item). ONE fold computes dot and
    self-norm together through a struct accumulator — half the generated
    code of separate dot/norm folds (codegen size, not arithmetic, is
    the constant cost at high dims). Per-term order inside the fold is
    unchanged (left-to-right), so values are bit-identical to the
    two-fold form and to a left-to-right SQL oracle."""
    c = F.col(col) if isinstance(col, str) else col
    q = [float(x) for x in query]
    qnorm = float(np.sqrt(np.dot(q, q)))
    acc = F.aggregate(
        F.zip_with(
            c.cast("array<double>"),
            _vec_lit(q),
            lambda a, b: F.struct((a * b).alias("d"), (a * a).alias("n")),
        ),
        F.struct(F.lit(0.0).alias("d"), F.lit(0.0).alias("n")),
        lambda s, x: F.struct(
            (s["d"] + x["d"]).alias("d"), (s["n"] + x["n"]).alias("n")
        ),
    )
    return acc["d"] / (F.sqrt(acc["n"]) * F.lit(qnorm))


# Dim threshold above which the corpus-scan cosine runs as a mapInArrow
# numpy pass instead of the interpreted Catalyst fold. Both costs are
# ~linear in dim, but with different constants: the interpreted
# higher-order fold costs ~25ns/element, the Arrow boundary ~15ns/
# element + ~1.5us/row fixed. Interleaved noop minima at 100k rows
# (r15, local[32]): dim 64 fold 0.49s vs arrow 0.64s; dim 128 fold
# 0.62 vs 0.76; dim 256 fold 1.25 vs arrow 0.90 (arrow wins); dim 768
# fold 3.48 vs arrow 1.54 (2.3x). Crossover sits between 128 and 256 —
# threshold at the midpoint. The bench's 64-dim sim_topk therefore
# KEEPS the Catalyst fold (the measured winner at that width).
_ARROW_COSINE_MIN_DIM = 192


def _cosine_scores_arrow(
    df: DataFrame, query: list[float], vec_col: str, id_col: str
) -> DataFrame:
    """(id, cosine-vs-query) via one mapInArrow numpy pass per batch
    (guide §4.2: batch-vectorize the per-row fold).

    BIT-IDENTICAL to ``cosine_expr`` by construction: dot and self-norm
    accumulate SEQUENTIALLY over the dimension index — the same
    left-to-right order as the Catalyst ``aggregate(zip_with(...))``
    fold — never via pairwise/BLAS summation, so every IEEE-754
    intermediate matches and ``round(., 4)`` cannot diverge on a
    knife-edge value (pinned corpus-wide in tests/test_pipeline.py).
    Null semantics mirror the fold exactly: a null vector, a
    length != dim vector (zip_with pads with null), or a null ELEMENT
    all fold to null."""
    import pyarrow as pa
    from pyspark.sql import types as T

    q = np.asarray([float(x) for x in query], dtype=np.float64)
    qnorm = float(np.sqrt(np.dot(q, q)))
    dim = len(q)
    out_schema = T.StructType([
        df.schema[id_col],
        T.StructField("cosine", T.DoubleType(), True),
    ])

    def _score(batches):
        for b in batches:
            n = b.num_rows
            ids, vecs = b.column(0), b.column(1)
            if n == 0:
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.array([], type=pa.float64())],
                    names=[id_col, "cosine"])
                continue
            offs = vecs.offsets.to_numpy()
            rect = (vecs.null_count == 0
                    and vecs.values.null_count == 0
                    and bool(np.all(np.diff(offs) == dim)))
            if rect:
                vals = vecs.values.to_numpy(zero_copy_only=False)
                A = vals[offs[0]:offs[-1]].reshape(n, dim)
                d = np.zeros(n, dtype=np.float64)
                s = np.zeros(n, dtype=np.float64)
                for j in range(dim):  # sequential: matches the fold
                    col = A[:, j]
                    d = d + col * q[j]
                    s = s + col * col
                den = np.sqrt(s) * qnorm
                if bool((den == 0.0).any()):
                    # ANSI parity: the Catalyst fold RAISES on a
                    # zero-norm vector (double division by zero errors
                    # under spark.sql.ansi.enabled) — numpy would
                    # silently yield NaN
                    raise ArithmeticError(
                        "[DIVIDE_BY_ZERO] zero-norm vector in cosine "
                        "(matches the ANSI Catalyst-fold behavior)")
                cos = pa.array(d / den, type=pa.float64())
            else:
                # rare path (null/ragged rows or null elements): per-row
                # Python-float fold — the same left-to-right IEEE double
                # ops, so still bit-identical; null-degrading like the
                # Catalyst tier
                out: list[float | None] = []
                for i in range(n):
                    v = vecs[i].as_py()
                    if v is None or len(v) != dim or any(
                            x is None for x in v):
                        out.append(None)
                        continue
                    d0 = s0 = 0.0
                    for j in range(dim):
                        x = v[j]
                        d0 = d0 + x * q[j]
                        s0 = s0 + x * x
                    den0 = float(np.sqrt(s0)) * qnorm
                    if den0 == 0.0:
                        raise ArithmeticError(
                            "[DIVIDE_BY_ZERO] zero-norm vector in "
                            "cosine (ANSI Catalyst-fold parity)")
                    out.append(d0 / den0)
                cos = pa.array(out, type=pa.float64())
            yield pa.RecordBatch.from_arrays(
                [ids, cos], names=[id_col, "cosine"])

    # cast to array<double> in the JVM (identical float->double widening
    # to the Catalyst tier); select ONLY the two needed columns so the
    # opaque map never defeats scan pruning (guide §4.1)
    return (
        df.select(F.col(id_col),
                  F.col(vec_col).cast("array<double>").alias("__v"))
        .mapInArrow(_score, out_schema)
    )


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: projection + TakeOrdered (no full sort, no
    shuffle of the data — only k rows per partition reach the driver-side
    merge). Deterministic tie-break on id.

    Tier-guarded (r15): at ``dim >= _ARROW_COSINE_MIN_DIM`` the corpus
    scan scores through one mapInArrow numpy pass per batch instead of
    the interpreted O(dim)-per-row Catalyst fold; the two tiers are
    bit-identical (sequential accumulation — see _cosine_scores_arrow),
    so results never depend on the tier."""
    if len(query) >= _ARROW_COSINE_MIN_DIM:
        scored = _cosine_scores_arrow(df, query, vec_col, id_col).select(
            F.col(id_col), F.round(F.col("cosine"), 4).alias("cosine"))
    else:
        scored = df.select(
            F.col(id_col),
            F.round(cosine_expr(vec_col, query), 4).alias("cosine"),
        )
    return (
        scored
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


# Matrix-size threshold (elements: n_cells*dim or n_planes*dim) above
# which inlining the matrix as Catalyst literals is replaced by a
# broadcast-matrix pandas UDF: whole-stage codegen degrades well before
# the 64KB JVM method limit, and a 1024x768 centroid table as SQL
# literals is megabytes of generated code. EVERY assignment path (inline
# probes, pair mining, persisted-index build) routes through the guarded
# assigners below — the Catalyst tier is an optimization detail, not an
# API.
_CODEGEN_LIMIT = 4096


def lsh_bucket_expr(vec_col: str | Column, planes: np.ndarray) -> Column:
    """Random-hyperplane LSH bucket id: sign pattern of <v, plane_i> packed
    into an int. Pure Catalyst (one aggregate per plane over zip_with).
    Codegen-safe only for small plane matrices — call
    :func:`assign_buckets` unless you know n_planes*dim is tiny."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(c.cast("array<double>"), _vec_lit(list(p)), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def _stack_valid(series, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """``(matrix, valid_mask)`` for an Arrow batch of embeddings.
    NULL vectors and vectors whose length differs from ``dim`` are
    masked out instead of crashing ``np.vstack`` (ADVICE r14): the
    Catalyst expression tier degrades a null vector to a null bucket
    that downstream explode/join silently skip, and the UDF tier must
    degrade identically — one bad row must never fail the query."""
    vals = series.to_numpy()
    mask = np.fromiter(
        (v is not None and len(v) == dim for v in vals),
        dtype=bool, count=len(vals))
    if not mask.any():
        return np.zeros((0, dim), dtype=np.float64), mask
    if mask.all():
        return np.vstack(vals).astype(np.float64, copy=False), mask
    return np.vstack(vals[mask]).astype(np.float64, copy=False), mask


def assign_buckets(df: DataFrame, planes: np.ndarray, vec_col: str | Column) -> Column:
    """LSH bucket id for every row, codegen-guarded.

    Small plane matrix -> pure Catalyst expression (JVM-side, WSCG).
    Large (n_planes*dim > _CODEGEN_LIMIT) -> Arrow-batched pandas UDF:
    planes broadcast once, one (batch x dim)@(dim x planes) BLAS multiply
    + sign-pack per batch.

    API contract (ADVICE r14): on the UDF tier the returned Column is
    marked non-deterministic (it stops the optimizer evaluating the
    matmul twice around pushed-down filters — guide §4.4), so it must
    be PROJECTED first (``withColumn``/``select``) before use in
    groupBy/join/repartition expressions; composing it directly into
    grouping keys raises AnalysisException. Every in-repo caller
    projects."""
    n_planes, dim = planes.shape
    if n_planes * dim <= _CODEGEN_LIMIT:
        return lsh_bucket_expr(vec_col, planes)

    bc = df.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(planes, dtype=np.float64)
    )
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("long")
    def _assign(v):
        import pandas as pd

        mat, mask = _stack_valid(v, dim)
        bits = (mat @ bc.value.T) > 0
        out = np.empty(len(mask), dtype=object)
        out[mask] = (bits @ weights).astype("int64")
        return pd.Series(out)  # null bucket for null/ragged vectors

    # the function is pure, but every caller FILTERS on its output
    # (bucket == probe bucket); marking non-deterministic stops the
    # optimizer duplicating the evaluation below the pushed-down filter
    # (guide §4.4: two ArrowEvalPython nodes = the full matmul twice)
    _assign = _assign.asNondeterministic()

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _assign(c.cast("array<double>"))


def assign_buckets_multi(
    df: DataFrame, plane_sets: list, vec_col
) -> Column:
    """ALL bands' LSH bucket ids in one pass -> ``array<long>`` (index =
    band). Multi-band mining through per-band ``assign_buckets`` stacked
    bands x planes ``aggregate(zip_with(...))`` lambdas into one
    projection - higher-order functions don't enter whole-stage codegen,
    and the interpreted chain cost scaled with bands x planes, not with
    data (the r13 100x probe measured cosine_pairs_lsh at ~4.7 ms/row).
    One broadcast (bands*planes x dim) matrix + one BLAS multiply per
    Arrow batch replaces all of it; the Catalyst tier survives only for
    tiny matrices where a Python round-trip costs more than it saves."""
    n_bands = len(plane_sets)
    stacked = np.ascontiguousarray(np.vstack(plane_sets), dtype=np.float64)
    n_planes = plane_sets[0].shape[0]
    dim = stacked.shape[1]
    if n_bands * n_planes * dim <= 1024:
        c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
        return F.array(*[lsh_bucket_expr(c, p) for p in plane_sets])

    bc = df.sparkSession.sparkContext.broadcast(stacked)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def _assign_multi(v):
        import pandas as pd

        mat, mask = _stack_valid(v, dim)
        bits = (mat @ bc.value.T) > 0  # (valid rows, bands*planes)
        buckets = np.empty((len(mat), n_bands), dtype=np.int64)
        for b in range(n_bands):
            buckets[:, b] = (
                bits[:, b * n_planes:(b + 1) * n_planes] @ weights)
        out = np.empty(len(mask), dtype=object)
        for j, i in enumerate(np.nonzero(mask)[0]):
            out[i] = buckets[j]  # per-index: a bulk out[mask]=list(...)
            # re-collapses the row arrays into one 2-D assignment
        return pd.Series(out)  # null bucket array for null/ragged rows

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _assign_multi(c.cast("array<double>"))


def assign_cells(df: DataFrame, centroids: np.ndarray, vec_col: str | Column) -> Column:
    """Nearest-centroid cell id for every row, codegen-guarded.

    Small index -> pure Catalyst expression (no Python in the hot path).
    Large -> pandas UDF: centroids broadcast once, argmax over a single
    matrix multiply per Arrow batch.

    Same projection contract as :func:`assign_buckets` (ADVICE r14):
    the UDF tier's Column is non-deterministic-marked — project it via
    withColumn/select before grouping/joining on it."""
    n_cells, dim = centroids.shape
    if n_cells * dim <= _CODEGEN_LIMIT:
        if not isinstance(vec_col, str):
            raise TypeError("assign_cells needs a column NAME (ivf_cell_expr builds SQL)")
        return ivf_cell_expr(vec_col, centroids)

    bc = df.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(centroids, dtype=np.float64)
    )

    @F.pandas_udf("int")
    def _assign(v):
        import pandas as pd

        mat, mask = _stack_valid(v, dim)
        out = np.empty(len(mask), dtype=object)
        out[mask] = np.argmax(mat @ bc.value.T, axis=1).astype("int32")
        return pd.Series(out)  # null cell for null/ragged vectors

    # pure, but probe paths filter on the output (cell IN nprobe cells):
    # non-deterministic marking prevents the §4.4 double evaluation
    _assign = _assign.asNondeterministic()

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _assign(c.cast("array<double>"))


def lsh_ann_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate NN: probe only the query's LSH bucket, exact cosine
    within it. At 100 TB the bucketed table would be written out
    partitioned by bucket id so a probe is a partition-pruned scan."""
    dim = len(query)
    planes = _hyperplanes(dim, n_planes, seed)
    qvec = np.asarray(query, dtype=np.float64)
    qbucket = int(sum((1 << i) for i, p in enumerate(planes) if float(np.dot(p, qvec)) > 0))
    bucketed = df.withColumn("__bucket", assign_buckets(df, planes, vec_col))
    return (
        bucketed.filter(F.col("__bucket") == qbucket)
        .select(F.col(id_col), F.round(cosine_expr(vec_col, query), 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int | None = None,
    n_bands: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """All-pairs near-duplicate vectors (cosine ≥ threshold) via banded
    LSH self-join + exact verification. Each band is an independent
    plane-set; a pair is a candidate if it collides in ANY band
    (OR-amplification: miss probability (1-p^planes)^bands, with p the
    per-plane agreement probability). Exact verification keeps precision
    at 1.0, so extra bands only improve recall.

    ``n_planes``/``n_bands`` default to SIZE-AWARE auto-tuning (r13: the
    100x probe caught the fixed 2^6-bucket default going quadratic —
    6.4x wall at 10x data): planes grow with log2(n) so expected bucket
    occupancy stays ~32 vectors and candidate volume stays
    ~bands * n * occupancy / 2 (LINEAR in n), then bands are chosen so a
    true >= threshold pair's miss probability is < 1e-3 given the
    per-plane agreement p = 1 - acos(threshold)/pi. Explicit values
    bypass the count() job and the tuning — the tiny-N recall pins use
    them."""
    import math as _math

    # plan the hyperplane dim from the first NON-NULL vector — a null
    # in row one must not fail a corpus that has real vectors (nulls
    # themselves degrade to null buckets downstream, ADVICE r14)
    sample = (df.select(vec_col)
              .filter(F.col(vec_col).isNotNull()).first())
    if sample is None or sample[0] is None:
        # the IVF path raises the same way; without this the len() below
        # failed with an undiagnosable NoneType TypeError
        raise ValueError(
            f"no vectors in column {vec_col!r} (empty corpus cannot "
            "plan hyperplane buckets)")
    dim = len(sample[0])
    if n_planes is None or n_bands is None:
        n = df.count()
        if n_planes is None:
            n_planes = min(20, max(6, _math.ceil(
                _math.log2(max(n, 1) / 32)) if n > 32 else 6))
        if n_bands is None:
            p = 1.0 - _math.acos(min(max(threshold, -0.999), 0.999)) / _math.pi
            hit = p ** n_planes
            n_bands = (4 if hit >= 0.999 else min(48, max(4, _math.ceil(
                _math.log(1e-3) / _math.log1p(-hit)))))
    band_buckets = assign_buckets_multi(
        df,
        [_hyperplanes(dim, n_planes, seed + 7919 * b) for b in range(n_bands)],
        vec_col,
    )
    # candidate mining carries ONLY (key, id): at 768-dim doubles a
    # vector is ~6 KB, and dragging two of them through the self-join +
    # dropDuplicates shuffles would dominate the exchange. Vectors are
    # re-joined per UNIQUE pair afterwards (the same shape as dedup.py's
    # minhash verification). (band, bucket) folds into ONE long key —
    # key = band << n_planes | bucket, exact because bucket < 2^n_planes
    # — halving the join-key bytes per exploded row (guide §2.3); the
    # two-column form survives only for explicit plane counts too wide
    # to fold. The exploded frame is CACHED: the self-join consumes it on
    # both sides, and without the cache the full-corpus bucket matmul
    # (ArrowEvalPython) + explode ran once PER SIDE (guide §2.4 / §4 —
    # the before-plan shows _assign_multi twice).
    if n_planes + max(1, (n_bands - 1).bit_length()) <= 62:
        key = F.explode(
            F.transform(
                band_buckets,
                lambda b, i: F.shiftleft(i.cast("long"), n_planes).bitwiseOR(b),
            )
        )
        base = df.select(F.col(id_col).alias("__id"), key.alias("__k"))
        join_cond = lambda a, b: (  # noqa: E731
            (F.col("a.__k") == F.col("b.__k"))
            & (F.col("a.__id") < F.col("b.__id")))
    else:
        base = df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(band_buckets).alias("__band", "__bucket"),
        )
        join_cond = lambda a, b: (  # noqa: E731
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id")))
    # serialized persist (r14 verdict #2): the exploded candidate-key
    # frame is n_bands x corpus rows — PySpark's MEMORY_AND_DISK stores
    # serialized columnar batches (cache()'s default is the
    # deserialized _DESER flavor, a guide §5 on-heap GC hazard at scale)
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    cand = (
        base.alias("a")
        .join(base.alias("b"), join_cond("a", "b"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = df.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__vec"))
    cand = (
        cand.join(vecs, cand["id_a"] == vecs["__vid"])
        .select("id_a", "id_b", F.col("__vec").alias("__va"))
        .join(vecs, F.col("id_b") == vecs["__vid"])
        .select("id_a", "id_b", "__va", F.col("__vec").alias("__vb"))
    )
    # exact verification, Arrow-batched: three aggregate(zip_with(...))
    # folds per candidate ran interpreted (higher-order fns skip WSCG)
    # and dominated the r13 100x probe at millions of candidates; one
    # einsum per batch verifies the same pairs at BLAS speed
    @F.pandas_udf("double")
    def _pair_cosine(va, vb):
        import pandas as pd

        a_vals, b_vals = va.to_numpy(), vb.to_numpy()
        n = len(a_vals)
        la = np.fromiter((len(a) if a is not None else -1 for a in a_vals),
                         dtype=np.int64, count=n)
        lb = np.fromiter((len(b) if b is not None else -1 for b in b_vals),
                         dtype=np.int64, count=n)
        # null or dim-mismatched pairs -> null cosine (the filter drops
        # them, matching the Catalyst tier's skip) — never a crash
        valid = (la > 0) & (la == lb)
        out = np.empty(n, dtype=object)
        for d in np.unique(la[valid]):
            sub = valid & (la == d)
            A = np.vstack(a_vals[sub])
            B = np.vstack(b_vals[sub])
            num = np.einsum("ij,ij->i", A, B)
            den = np.sqrt(np.einsum("ij,ij->i", A, A)
                          * np.einsum("ij,ij->i", B, B))
            out[sub] = num / np.maximum(den, 1e-300)
        return pd.Series(out)

    # pure, but the threshold filter reads its output: without the
    # non-deterministic marking the optimizer pushes the filter below
    # the projection and evaluates the UDF TWICE per candidate (the
    # before-plan shows two ArrowEvalPython _pair_cosine nodes straddling
    # the filter — guide §4.4), doubling the verify boundary crossings
    pair_cosine = _pair_cosine.asNondeterministic()
    out = (
        cand.withColumn("cosine", F.round(
            pair_cosine(F.col("__va").cast("array<double>"),
                        F.col("__vb").cast("array<double>")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    # the cache backs the result's lineage; the caller releases it via
    # dedup.release_caches() after consuming (same contract as minhash)
    out._beacon_cached = (base,)
    return out


# ---------------------------------------------------------------- IVF


def ivf_train_centroids(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_n: int = 4096,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Coarse-quantizer training, FAISS-style: Lloyd's k-means on a
    driver-side sample (deterministic — ordered by id), not on the full
    corpus. At 100 TB the sample is a bounded collect; the expensive part
    (assignment) stays distributed. Vectors are L2-normalized so nearest
    centroid by L2 == nearest by cosine."""
    sample = np.array(
        [
            r[0]
            for r in df.select(vec_col).orderBy(id_col).limit(sample_n).collect()
        ],
        dtype=np.float64,
    )
    if sample.size == 0:
        raise ValueError(
            f"ivf_train_centroids: no vectors in column {vec_col!r} "
            "(empty corpus cannot train a quantizer)")
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    # fewer sample rows than requested cells: clamp (every row its own
    # cell) instead of numpy's opaque Cannot-take-a-larger-sample error
    n_cells = min(int(n_cells), len(sample))
    rng = np.random.RandomState(seed)
    cent = sample[rng.choice(len(sample), size=n_cells, replace=False)]
    for _ in range(iters):
        # ||s-c||^2 = ||s||^2 - 2 s·c + ||c||^2; for the ARGMIN over c
        # the ||s||^2 term is constant per row, so one (n × k) BLAS
        # matmul suffices — the broadcasted (n, k, d) difference tensor
        # was ~100 GB at 4096×4096×768 float64
        d = (cent * cent).sum(axis=1)[None, :] - 2.0 * (sample @ cent.T)
        assign = d.argmin(axis=1)
        for c in range(n_cells):
            members = sample[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
        cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    return cent


def ivf_cell_expr(vec_col: str, centroids: np.ndarray) -> Column:
    """Nearest-centroid id as one Catalyst expression. Normalization is
    skipped on the data side: for unit centroids, argmax over dot(v, c)
    equals argmax over dot(v/|v|, c), so only the per-centroid dot products
    are computed (let-bound once, then argmax'd). JVM-side — the
    full-corpus assignment pass has no UDF and no shuffle."""
    dots = ", ".join(
        "aggregate(zip_with(rv, array(%s), (a, b) -> a * b), 0D, (s, x) -> s + x)"
        % ", ".join(f"{v!r}D" for v in cent)
        for cent in centroids.tolist()
    )
    sql = (
        "transform(array(transform(`{v}`, x -> CAST(x AS DOUBLE))), rv -> "
        "transform(array(array({dots})), ds -> "
        "array_position(ds, array_max(ds)) - 1)[0])[0]"
    ).format(v=vec_col, dots=dots)
    return F.expr(sql).cast("int")


def ivf_ann_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: assign every vector to its nearest centroid
    cell, probe only the ``nprobe`` cells nearest the query, exact cosine
    inside them. Here the cell column is computed inline (one-shot
    queries); the build-once/probe-many scale path is
    :func:`beacon_spark.pipeline.ann_index.ann_build` /
    :func:`~beacon_spark.pipeline.ann_index.ann_probe`, where a probe is
    a partition-pruned scan touching nprobe/n_cells of the files.
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            df, n_cells, vec_col, id_col, seed=seed
        )
    q = np.asarray(query, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    order = np.argsort(-(centroids @ q))
    probe = [int(c) for c in order[:nprobe]]
    celled = df.withColumn("__cell", assign_cells(df, centroids, vec_col))
    return (
        celled.filter(F.col("__cell").isin(probe))
        .select(F.col(id_col), F.round(cosine_expr(vec_col, query), 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )

"""Similarity search over embedding columns (``array<float>``).

Baseline: exact brute-force cosine top-k — a broadcast join of the
(small) query set against the corpus plus a per-query top-k. The
dot product is a single Catalyst ``aggregate`` over ``zip_with`` —
JVM-side, no UDF, no Python.

Scale path: random-hyperplane LSH bucketing — each vector gets a
b-bit signature (sign of dot with b pseudo-random planes); neighbors
are searched only within matching buckets (multi-probe = also adjacent
buckets). Turns the corpus scan per query into a bucket scan.

An IVF-style variant with learned centroids (KMeans) belongs in
pyspark.ml; the LSH variant here needs no training pass, which matters
when the corpus churns daily.

Precision note for oracle checking: all arithmetic is double (floats
are cast first), accumulation is element-order sequential in both Spark
``aggregate`` and DuckDB's list functions, so results are bit-stable
across engines; outputs are rounded to 6 dp anyway.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, Window, functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def _vectors(arr: pa.Array) -> np.ndarray:
    """Rows of a ``list<float|double>`` Arrow column as numpy vectors,
    None for a null row and for a row holding a null element.  Spark's
    folds turn a null element into a null result, while a numpy vector
    could only carry it as NaN, which Spark treats differently (NaN
    propagates as NaN and orders above every value)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    rows = arr.to_pandas().to_numpy()
    flat = pc.list_flatten(arr)
    if flat.null_count:
        holed = pc.list_parent_indices(arr).to_numpy()[
            pc.is_null(flat).to_numpy(zero_copy_only=False)
        ]
        rows[holed] = None
    return rows


def cosine_batched(a: Column, b: Column) -> Column:
    """Bit-identical twin of :func:`cosine_similarity` for
    HIGH-CARDINALITY verify stages (guide §4.2): one vectorized numpy
    evaluation per Arrow batch instead of three interpreted
    ``aggregate(zip_with(...))`` folds per row (higher-order lambdas
    run outside whole-stage codegen — measured 13-59 s for 1.8M
    candidate pairs vs ~1 s batched).

    Bit-exactness (the rounded cosine is value-hash-checked by the
    oracle): the accumulators add ascending-j, one vectorized add per
    dimension — the same IEEE addition sequence as the sequential
    fold; products/sqrt/divide are single IEEE ops in both engines.
    NaN/null contract, the fold's: a null vector, a null element or an
    empty vector gives 0.0 (``when(null > 0).otherwise(0.0)``); a NaN
    element gives NaN, because Spark orders NaN above every value, so
    ``NaN > 0`` takes the division arm; vectors of different lengths
    give null (``zip_with`` pads the shorter with nulls, so the dot is
    null) unless a zero norm takes the ``0.0`` arm.  It is an Arrow UDF,
    not a pandas one, because pandas conversion turns a null element
    into NaN and the two must stay apart.  ROUNDING stays in the JVM
    (callers wrap with ``F.round``): Spark rounds HALF_UP via
    BigDecimal, numpy rounds half-even, so the UDF returns the raw
    double.  Keep the interpreted fold for low-cardinality call sites
    (centroid assignment of a handful of queries, single-row scoring):
    below ~10k rows the Python round trip costs more than it saves."""

    @F.arrow_udf("double")
    def cos(sa: pa.Array, sb: pa.Array) -> pa.Array:
        va = _vectors(sa)
        vb = _vectors(sb)
        n = len(va)
        out = np.zeros(n, dtype=np.float64)
        null = np.zeros(n, dtype=bool)
        good = []
        for i in range(n):
            if va[i] is None or vb[i] is None:
                continue
            if len(va[i]) != len(vb[i]):
                # the sign of a sum of squares does not depend on its
                # addition order, so any norm decides the arm
                d = np.linalg.norm(va[i].astype(np.float64)) * np.linalg.norm(
                    vb[i].astype(np.float64)
                )
                null[i] = d > 0 or np.isnan(d)
            elif len(va[i]) > 0:
                good.append(i)
        if good:
            # uniform dim in every caller; group by length anyway so a
            # mixed batch cannot mis-stack
            by_len: dict[int, list[int]] = {}
            for i in good:
                by_len.setdefault(len(va[i]), []).append(i)
            for d, idxs in by_len.items():
                ia = np.stack([va[i] for i in idxs]).astype(
                    np.float64, copy=False
                )
                ib = np.stack([vb[i] for i in idxs]).astype(
                    np.float64, copy=False
                )
                m = len(idxs)
                dab = np.zeros(m)
                daa = np.zeros(m)
                dbb = np.zeros(m)
                for j in range(d):  # ascending j = the fold order
                    x = ia[:, j]
                    y = ib[:, j]
                    dab += x * y
                    daa += x * x
                    dbb += y * y
                denom = np.sqrt(daa) * np.sqrt(dbb)
                pos = (denom > 0) | np.isnan(denom)  # NaN > 0 in Spark
                vals = np.where(pos, dab / np.where(pos, denom, 1.0), 0.0)
                out[np.asarray(idxs, dtype=np.int64)] = vals
        return pa.array(out, mask=null)

    return cos(a, b)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus.

    One broadcast nested-loop join (no shuffle of the corpus), one
    window top-k per query. Ordering ties break on neighbor id so the
    result is total-deterministic.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            # |corpus| x |queries| scored pairs: the batched-numpy twin
            # (bit-identical; see cosine_batched) keeps the exact
            # baseline exact while removing the interpreted fold
            F.round(cosine_batched(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def topk_recall_contract(
    ann: DataFrame, exact: DataFrame, k: int, floor_ppm: int
) -> DataFrame:
    """Driver-verifiable contract for approximate top-k.

    An ANN result has no exact oracle — the neighbor set depends on the
    engine's hash tables / centroids — but the *recall relation* does:
    join the ANN answer against the exact brute-force top-k (which a
    SQL oracle CAN compute) and emit, per query, whether recall@k
    cleared an integer ppm floor.  The oracle then asserts the expected
    relation (``recall_ok = 1`` for every query), so a recall
    regression below the floor flips the driver's value hash red
    instead of hiding behind a rows-only check.

    Both inputs must carry ``query_id``/``neighbor_id``.  Output is one
    row per exact-side query: ``(query_id, k, recall_floor_ppm,
    recall_ok)`` — all integers, hash-stable across engines.
    """
    hits = (
        ann.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.lit(k).cast("int").alias("k"),
            F.lit(floor_ppm).cast("int").alias("recall_floor_ppm"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)) * F.lit(1_000_000)
                >= F.lit(floor_ppm) * F.lit(k)
            )
            .cast("int")
            .alias("recall_ok"),
        )
    )


def _plane_matrix(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic ±1 plane coefficients, materialized ONCE driver-side.

    SHA-256 of ``plane:{seed}:{bit}:{dim_idx}`` — stable across runs,
    machines, and Python hash randomization, so signatures are
    reproducible without a stored model."""
    import hashlib

    return [
        [
            1.0
            if hashlib.sha256(f"plane:{seed}:{b}:{j}".encode()).digest()[0] % 2 == 0
            else -1.0
            for j in range(dim)
        ]
        for b in range(bits)
    ]


def _rhp_signatures_udf(dim: int, bits: int, seeds: list[int]):
    """Vectorized-numpy Arrow UDF computing, per vector, the b-bit
    hyperplane signature against one plane matrix PER SEED — returned
    as ``array<long>`` of ``len(seeds)`` signatures.

    Replaces the interpreted ``transform(planes, aggregate(zip_with(
    ...)))`` fold (VERDICT r12 item 3): higher-order array lambdas run
    OUTSIDE whole-stage codegen, paying interpreted evaluation for
    ``n_tables x bits x dim`` multiply-adds per row; this hands whole
    Arrow batches to numpy instead (guide §4.2), with plan size still
    independent of ``dim x bits`` (the planes live in the function
    closure, ~8 B per coefficient — the round-12 fixed-dim unrolling
    lesson: never put per-coefficient expressions in the plan).

    Bit-exactness contract (the buckets feed candidate generation, and
    the near-dup/recall entries are value-hash-checked): the inner loop
    accumulates ascending-j, one vectorized add per dimension, so every
    (row, bit) partial sum is the SAME IEEE addition sequence as the
    sequential Catalyst fold ``((0 + v0*c0) + v1*c1) + ...``; plane
    coefficients are exactly ±1.0, vectors are upcast to double before
    the product — both identical to the old expression.  Null/NaN
    semantics also match: a NaN element propagates to every partial sum
    and ``NaN >= 0`` is true in Spark (NaN orders above every value), so
    such a vector signs to all-one bits; a null element makes every
    partial sum null, so the vector signs to all-zero bits like the old
    ``when(null >= 0).otherwise(0)`` arm, and so does a null or
    wrong-length vector (the old null-padded ``zip_with``).  An Arrow
    UDF keeps a null element apart from NaN (see :func:`_vectors`)."""
    # each: dim x bits of ±1 (transposed so the j-loop strides rows)
    mats = [
        np.ascontiguousarray(
            np.array(_plane_matrix(dim, bits, seed), dtype=np.float64).T
        )
        for seed in seeds
    ]
    n_tables = len(mats)

    def _compute(block: np.ndarray) -> np.ndarray:
        n = block.shape[0]
        out = np.empty((n, n_tables), dtype=np.int64)
        for t, mat in enumerate(mats):
            acc = np.zeros((n, bits), dtype=np.float64)
            for j in range(dim):  # ascending j = the Catalyst fold order
                acc += block[:, j : j + 1] * mat[j]
            sig = np.zeros(n, dtype=np.int64)
            for b in range(bits):  # MSB-first fold: acc*2 + bit
                sig = sig * 2 + ((acc[:, b] >= 0) | np.isnan(acc[:, b]))
            out[:, t] = sig
        return out

    @F.arrow_udf("array<long>")
    def sigs(vecs: pa.Array) -> pa.Array:
        vals = _vectors(vecs)
        out = np.zeros((len(vals), n_tables), dtype=np.int64)
        good = [
            i
            for i, v in enumerate(vals)
            if v is not None and len(v) == dim
        ]
        if good:
            block = np.stack([vals[i] for i in good]).astype(
                np.float64, copy=False
            )
            out[np.asarray(good, dtype=np.int64)] = _compute(block)
        offsets = np.arange(0, out.size + 1, n_tables, dtype=np.int32)
        return pa.ListArray.from_arrays(offsets, out.reshape(-1))

    return sigs


def with_hyperplane_signature(
    df: DataFrame,
    vec_col: str,
    dim: int,
    bits: int = 8,
    seed: int = 42,
    out_col: str = "bucket",
) -> DataFrame:
    """Add a b-bit random-hyperplane LSH signature column.

    One vectorized Arrow/numpy evaluation per batch (see
    :func:`_rhp_signatures_udf`); plan size is independent of ``dim``
    and ``bits`` (tests/test_functions.py asserts analysis at
    dim=1024, bits=16), and signatures are bit-identical to the
    previous interpreted Catalyst fold."""
    sig = _rhp_signatures_udf(dim, bits, [seed])
    return df.withColumn(out_col, F.element_at(sig(F.col(vec_col)), 1))


def with_lsh_tables(
    df: DataFrame,
    vec_col: str,
    dim: int,
    bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Explode each row into its ``(table_id, bucket)`` memberships
    across ``n_tables`` independent hash tables (each table = its own
    plane matrix, seed-offset). Output has n_tables rows per input row
    — the standard multi-table LSH index layout, joinable on the
    composite equi-key ``[table_id, bucket]``.

    All ``n_tables`` signatures come out of ONE vectorized UDF
    evaluation (one JVM→Python round trip per batch), where the old
    form paid ``n_tables`` interpreted fold evaluations per row."""
    sig = _rhp_signatures_udf(
        dim, bits, [seed + 7919 * t for t in range(n_tables)]
    )
    return (
        df.withColumn("__sigs", sig(F.col(vec_col)))
        .select("*", F.posexplode("__sigs").alias("table_id", "bucket"))
        .drop("__sigs")
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 8,
    seed: int = 42,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k via multi-table LSH: a candidate shares the
    query's bucket (or differs by one bit — 1-bit multi-probe) in ANY
    of ``n_tables`` independent hash tables. Each table is an equi-join
    on ``[table_id, bucket]``, so per-table cost ~ corpus/2^bits per
    query bucket instead of the whole corpus, and the miss probability
    multiplies across tables — the standard (b, L) LSH trade: raise
    ``bits`` for cheaper buckets, raise ``n_tables`` for recall."""
    c = with_lsh_tables(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        "c_vec",
        dim,
        bits,
        n_tables,
        seed,
    )
    q_base = with_lsh_tables(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_vec",
        dim,
        bits,
        n_tables,
        seed,
    )
    # multi-probe within each table: home bucket + each 1-bit flip
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(bits)]
    )
    q = q_base.select(
        "query_id", "q_vec", "table_id", F.explode(probes).alias("bucket")
    )
    scored = (
        c.join(F.broadcast(q), ["table_id", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_batched(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    batched: bool = True,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids (by
    cosine). Centroids are broadcast; assignment is a map-side scored
    cross join + per-vector top-``n_probe`` — O(|corpus| * n_cells)
    dot products, the standard IVF build/probe cost.

    ``batched`` picks the cosine implementation (bit-identical either
    way): the default numpy batch path is for CORPUS-cardinality
    assignment (the hot IVF-build pass — measured 1.6x on the in-query
    ivf build at sf0.1); callers assigning a BOUNDED query set pass
    ``batched=False`` so a handful of rows does not pay a Python stage
    round trip (measured: the fold wins below ~10k scored rows)."""
    score = cosine_batched if batched else cosine_similarity
    scored = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    ).crossJoin(F.broadcast(centroids)).select(
        "vid",
        "vec",
        "cell",
        score(F.col("vec"), F.col("cent")).alias("cscore"),
    )
    w = Window.partitionBy("vid").orderBy(
        F.col("cscore").desc(), F.col("cell").asc()
    )
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") <= n_probe)
        .select("vid", "vec", "cell")
    )


def _bounded_sample(
    corpus: DataFrame, vec_col: str, seed: int, n: int
) -> DataFrame:
    """Deterministic bounded corpus sample shared by every index
    trainer: hash-order top-N (TakeOrdered — per-partition heaps +
    merge, no full sort) of ONE corpus scan; returns an ``arr``
    (array<double>) relation."""
    return (
        corpus.select(F.col(vec_col).cast("array<double>").alias("arr"))
        .orderBy(F.xxhash64(F.col("arr"), F.lit(seed)))
        .limit(n)
    )


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    sample_rows: int = 25_000,
    max_iter: int = 10,
) -> DataFrame:
    """Train IVF centroids with MLlib KMeans on a bounded corpus sample.

    Sample (bounded at ``sample_rows`` so the training pass is constant
    cost regardless of corpus size; ~1.5k points per centroid is ample
    for the Voronoi partition to stabilize) -> ``pyspark.ml`` KMeans ->
    the learned cluster centers as a tiny ``(cell, cent)`` DataFrame
    ready to broadcast. 100 TB story: the sample read is the only
    corpus scan, training happens on a bounded sample, and the result
    is n_cells vectors — the standard IVF build. Like any IVF index,
    this is a BUILD-time cost paid once per corpus version, not per
    query — callers serving repeated queries should persist the
    centroid table and pass it to ``ivf_topk(centroids=...)``."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    sample = _bounded_sample(corpus, vec_col, seed, sample_rows).select(
        array_to_vector(F.col("arr")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(sample)
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(centers, "cell long, cent array<double>")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train: bool = True,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: partition
    the corpus into ``n_cells`` Voronoi cells around centroids, then
    search only the ``n_probe`` cells nearest each query — cost ~
    corpus * n_probe / n_cells per query instead of the whole corpus.

    ``centroids`` (a ``(cell, cent)`` table): use a prebuilt index —
    the production serving shape, where the KMeans build ran once per
    corpus version and queries only pay assign+probe+search.
    ``train=True`` (default): centroids are KMeans-trained on a bounded
    corpus sample (``train_ivf_centroids``) — balanced cells, so recall
    at a given n_probe matches or beats the sampled variant
    (tests/test_queries_extra.py asserts this at sf0.01).
    ``train=False``: a deterministic pseudo-random sample of corpus
    vectors (seeded hash order) — no training pass, useful when the
    corpus churns faster than retraining is worth. The index build,
    probe routing, and search plan — broadcast centroids, map-side
    assignment, equi-join on cell id, per-query top-k — are identical
    either way.
    """
    if centroids is not None:
        centroids = F.broadcast(
            centroids.select(
                "cell", F.col("cent").cast("array<double>").alias("cent")
            )
        )
    elif train:
        centroids = F.broadcast(train_ivf_centroids(corpus, vec_col, n_cells, seed))
    else:
        centroids = F.broadcast(
            corpus.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("cent"))
            .orderBy(F.xxhash64(F.col("cell"), F.lit(seed)))
            .limit(n_cells)
        )
    # index: each corpus vector lives in exactly one cell
    indexed = ivf_assign(corpus, centroids, id_col, vec_col, n_probe=1).select(
        F.col("vid").alias("neighbor_id"), F.col("vec").alias("c_vec"), "cell"
    )
    # probe: each query searches its n_probe nearest cells
    probes = ivf_assign(
        queries, centroids, id_col, vec_col, n_probe=n_probe, batched=False
    ).select(
        F.col("vid").alias("query_id"), F.col("vec").alias("q_vec"), "cell"
    )
    # (query_id, neighbor_id) is already unique here: ivf_assign ranks
    # over distinct cells, each corpus vector lives in exactly one cell,
    # and each query probes n_probe DISTINCT cells — so no dedup pass
    # (and its full pair shuffle) is needed before the top-k window.
    scored = (
        indexed.join(F.broadcast(probes), ["cell"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity(F.col("q_vec"), F.col("c_vec")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
    dim: int | None = None,
    bits: int = 12,
    seed: int = 42,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    DEFAULT (``block_col=None``): multi-table LSH-bucket blocking — a
    pair is a candidate iff, in ANY of ``n_tables`` independent hash
    tables, the two signatures differ in at most one bit (one side
    explodes its 1-bit probe neighborhood, the other keeps its home
    bucket, joined on the ``[table_id, bucket]`` equi-key). Never
    all-pairs: per-table cost ~ corpus/2^bits per bucket, and the miss
    probability multiplies across tables — P(bit agree) = 1 - θ/π, so
    at cosine 0.95 a single table already catches nearly everything
    and extra tables buy recall at moderate thresholds (recall across
    probe buckets asserted in tests/test_functions.py). Requires
    ``dim``.

    ``block_col="label"`` (or any column): exact all-pairs WITHIN the
    named blocking group — only safe when the block key bounds group
    size (a hot block is O(n^2)); kept as the oracle-exact override the
    ``sim_embedding_near_dup`` catalog entry uses."""
    if block_col:
        v = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.col(block_col).alias("block"),
        )
        # same width fix as the LSH branch below: the blocked all-pairs
        # verify must run at cluster width, not input-file width
        l = v.repartition(df.sparkSession.sparkContext.defaultParallelism).alias("l")
        r = v.alias("r")
        return (
            l.join(
                r,
                (F.col("l.id") < F.col("r.id"))
                & (F.col("l.block") == F.col("r.block")),
            )
            .select(
                F.col("l.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
                F.col("l.block").alias(block_col),
                F.round(
                    cosine_batched(F.col("l.vec"), F.col("r.vec")), 6
                ).alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
        )
    if dim is None:
        raise ValueError("dim is required for LSH-bucket blocking (block_col=None)")
    from event_streaming_toy_example_spark.caching import track

    # PERSIST the signed relation: BOTH self-join sides consume it, and
    # without the materialization boundary the optimizer collapses the
    # signature UDF's projection into every consumer — measured 8
    # ArrowEvalPython nodes in the recall-contract plan (each side of
    # the join, times each consumer of the pair relation), re-running
    # the signatures per consumer and regressing the entry 3x (guide
    # §4.4: the optimizer duplicates opaque-function evaluation; the
    # persist pins one evaluation, the same pattern as
    # fuzzy_match_pairs' keyed relation).  The relation is
    # |corpus| x n_tables narrow rows (id, vec, table_id, bucket).
    v = track(
        with_lsh_tables(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
            "vec",
            dim,
            bits,
            n_tables,
            seed,
        ).persist()
    )
    # left side probes its Hamming-1 neighborhood per table (home
    # bucket + each 1-bit flip), right side stays home: within one
    # table a qualifying pair meets exactly once, but it can meet in
    # several tables, hence the per-pair dedup (cheap — it runs on the
    # already-threshold-filtered pair set, not the candidate set).
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(bits)]
    )
    # REPARTITION the probe side before the verify join: the corpus
    # scan is sized by file bytes (one scan partition for a small
    # file), the broadcast join preserves its partitioning, and the
    # candidate-pair cosine verify — the O(candidates) stage — then
    # runs at input-file width instead of cluster width (measured: the
    # whole 1.8M-pair verify on ONE core at sf0.1).  Round-robin over
    # the exploded probe rows (n_tables x (bits+1) per vector, cheap
    # narrow shuffle); the verify stage inherits the width and AQE
    # coalesces it when small (guide §2.2/§2.5 — width from the
    # cluster, never the file count).
    l = (
        v.select("id", "vec", "table_id", F.explode(probes).alias("bucket"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .alias("l")
    )
    r = v.alias("r")
    return (
        l.join(r, ["table_id", "bucket"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            # batched-numpy cosine (bit-identical; see cosine_batched)
            # — this projection runs once per CANDIDATE pair
            F.round(
                cosine_batched(F.col("l.vec"), F.col("r.vec")), 6
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


# --------------------------------------------------------------------------
# IVF-PQ: product quantization inside IVF cells (memory-compressed ANN)
# --------------------------------------------------------------------------


def l2_normalize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Replace ``vec_col`` with its unit-norm form (``array<double>``);
    zero vectors pass through unchanged.  Pure row-local expressions."""
    v = F.col(vec_col).cast("array<double>")
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return df.withColumn(
        vec_col,
        F.when(nrm > 0, F.transform(v, lambda x: x / nrm)).otherwise(v),
    )


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    k_sub: int = 16,
    dim: int = 64,
    seed: int = 42,
    sample_rows: int = 25_000,
    max_iter: int = 10,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks (``m`` KMeans fits of ``k_sub``
    centers each over ``dim/m``-dim sub-vectors) on ONE bounded corpus
    sample.  Returns the nested ``m x k_sub x dim/m`` list ready to
    ship as a single broadcast row — the same constant-plan-size
    pattern as the LSH plane matrix (a per-centroid literal expression
    tree would grow with ``m * k_sub``).

    Like the IVF centroid build this is a BUILD-time cost per corpus
    version; callers serving repeated queries stage the result."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_d = dim // m
    sample = _bounded_sample(corpus, vec_col, seed, sample_rows).persist()
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = sample.select(
            array_to_vector(
                F.slice(F.col("arr"), s * sub_d + 1, sub_d)
            ).alias("features")
        )
        model = KMeans(k=k_sub, seed=seed + s, maxIter=max_iter).fit(sub)
        books.append(
            [[float(x) for x in c] for c in model.clusterCenters()]
        )
    sample.unpersist()
    return books


def _sub_sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_codes(vec: Column, cb: Column, m: int, sub_d: int) -> Column:
    """``array<int>`` of ``m`` code ids: per subspace, the argmin
    centroid of the broadcast codebook column ``cb``
    (``array<array<array<double>>>``).  Pure nested higher-order
    functions — the expression tree is the same size for any
    ``m``/``k_sub``."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: (
            lambda dists: F.array_position(dists, F.array_min(dists)).cast(
                "int"
            )
        )(
            F.transform(
                F.element_at(cb, s + F.lit(1)),
                lambda cent: _sub_sqdist(
                    F.slice(vec, s * sub_d + F.lit(1), sub_d), cent
                ),
            )
        ),
    )


def _encode_indexed(
    corpus: DataFrame,
    cent_b: DataFrame,
    cb_row: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    sub_d: int,
) -> DataFrame:
    """Cell assignment + PQ codes over an already-normalized corpus,
    reusing prebuilt centroid/codebook broadcast relations."""
    return (
        ivf_assign(corpus, cent_b, id_col, vec_col, n_probe=1)
        .crossJoin(cb_row)
        .select(
            F.col("vid").alias("neighbor_id"),
            F.col("vec").alias("c_vec"),
            "cell",
            pq_codes(F.col("vec"), F.col("cb"), m, sub_d).alias("codes"),
        )
    )


def ivfpq_encode(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    m: int = 8,
    dim: int = 64,
    normalized: bool = False,
) -> DataFrame:
    """Build the IVF-PQ index relation ``(neighbor_id, c_vec, cell,
    codes)``: cell assignment + PQ codes in one projection pass over
    the corpus.  This is the artifact a serving deployment stages per
    corpus version (alongside the centroids/codebooks) so queries pay
    only probe + ADC + rerank."""
    spark = corpus.sparkSession
    sub_d = dim // m
    if not normalized:
        corpus = l2_normalize(corpus, vec_col)
    cb_row = F.broadcast(
        spark.createDataFrame(
            [(codebooks,)], "cb array<array<array<double>>>"
        )
    )
    cent_b = F.broadcast(
        centroids.select(
            "cell", F.col("cent").cast("array<double>").alias("cent")
        )
    )
    return _encode_indexed(corpus, cent_b, cb_row, id_col, vec_col, m, sub_d)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_sub: int = 16,
    dim: int = 64,
    seed: int = 42,
    rerank: int = 6,
    centroids: DataFrame | None = None,
    codebooks: list[list[list[float]]] | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k: IVF cells bound WHICH vectors each
    query scans (corpus * n_probe / n_cells candidates); PQ codes bound
    WHAT each candidate costs (m table lookups + sub_d-dim partial
    distances instead of a dim-dim distance, and 8-bit codes instead
    of float32 storage — the memory-compression half of the design).
    The top ``rerank * k`` ADC candidates are re-scored with exact
    cosine against the original vectors (the standard refine step), so
    recall approaches IVF-flat while the scan touches only codes.

    This variant quantizes RAW vectors, not per-cell residuals —
    simpler, one codebook set for the whole corpus; residual encoding
    is the documented upgrade when sub-cell resolution matters.

    Plan: corpus pays one encode projection (no shuffle) and one
    equi-join on cell id; codebooks and queries are broadcast; the
    only corpus-cardinality shuffle is the final per-query top-k
    window over the PROBED candidates.

    Vectors are L2-NORMALIZED before encoding and ADC: the serving
    metric is cosine, and on the unit sphere cosine order is exactly
    (reversed) L2 order — quantizing raw magnitudes ranks the ADC
    pool by magnitude and starves the rerank (measured recall@5 0.32
    unnormalized vs 0.50 normalized at sf0.01, m=8, rerank=6).

    Recall calibration on the sf0.01 synthetic embeddings (which are
    near-random — the hardest case for PQ, whose distortion shrinks
    with real cluster structure): a full-corpus numpy ADC reference
    reaches only 0.34 (m=4) / 0.48 (m=8), so the Spark numbers sit AT
    the method's intrinsic ceiling; growing the rerank pool recovers
    toward the IVF-flat recall (0.50 at rerank=6, 0.58 at rerank=10
    vs 0.6 for uncompressed IVF at the same n_probe).  Production
    knobs: k_sub=256 (byte codes), residual encoding, larger
    rerank."""
    spark = corpus.sparkSession
    sub_d = dim // m
    queries = l2_normalize(queries, vec_col)
    if centroids is None or codebooks is None or index is None:
        corpus = l2_normalize(corpus, vec_col)
    if centroids is None:
        centroids = train_ivf_centroids(corpus, vec_col, n_cells, seed)
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, vec_col, m, k_sub, dim, seed
        )
    cb_row = F.broadcast(
        spark.createDataFrame(
            [(codebooks,)], "cb array<array<array<double>>>"
        )
    )
    cent_b = F.broadcast(
        centroids.select(
            "cell", F.col("cent").cast("array<double>").alias("cent")
        )
    )
    # corpus side: cell assignment + PQ encode — ONE projection pass,
    # and like the centroid/codebook training a BUILD-time cost: serve
    # paths pass a staged `index` (neighbor_id, c_vec, cell, codes) and
    # pay nothing here (measured 5.8 s -> 1.3 s per query at sf0.1)
    if index is not None:
        indexed = index
    else:
        # encode reusing THIS call's broadcast relations, and PERSIST:
        # both the ADC pool selection and the exact-rerank rejoin
        # consume the index, and without a persist the corpus-
        # cardinality assignment shuffle would execute twice
        from event_streaming_toy_example_spark.caching import track

        indexed = track(
            _encode_indexed(
                corpus, cent_b, cb_row, id_col, vec_col, m, sub_d
            ).persist()
        )
    probes = ivf_assign(
        queries, cent_b, id_col, vec_col, n_probe=n_probe, batched=False
    ).select(F.col("vid").alias("query_id"), F.col("vec").alias("q_vec"), "cell")
    # ADC: approx distance = sum over subspaces of
    # sqdist(query sub-vector, codebook centroid of the stored code)
    adc = F.aggregate(
        F.zip_with(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.col("codes"),
            lambda s, code: _sub_sqdist(
                F.slice(F.col("q_vec"), s * sub_d + F.lit(1), sub_d),
                F.element_at(F.element_at(F.col("cb"), s + F.lit(1)), code),
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # the ADC scan emits ONLY (query_id, neighbor_id, adc) into the
    # pool-selection window — codes-width rows, never the 64-dim
    # vectors (shipping q_vec/c_vec here would multiply the one
    # corpus-cardinality shuffle by ~64x and void the compression
    # claim); exact vectors rejoin only for the tiny surviving pool
    cand = (
        indexed.join(
            F.broadcast(probes.select("query_id", "q_vec", "cell")), ["cell"]
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .crossJoin(cb_row)
        .select("query_id", "neighbor_id", adc.alias("adc"))
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    pool = (
        cand.withColumn("arank", F.row_number().over(w_adc))
        .where(F.col("arank") <= rerank * k)
        .select("query_id", "neighbor_id")
    )
    qvecs = F.broadcast(
        probes.select("query_id", "q_vec").dropDuplicates(["query_id"])
    )
    refined = (
        indexed.select("neighbor_id", "c_vec")
        .join(F.broadcast(pool), "neighbor_id")
        .join(qvecs, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity(F.col("q_vec"), F.col("c_vec")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )

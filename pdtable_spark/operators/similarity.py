"""Similarity search over an embedding column (``array<float>``).

- ``cosine_topk``: brute-force exact top-k — broadcast the (small) query set
  against the corpus; dot products via ``zip_with``+``aggregate`` (JVM
  higher-order functions, no Python).  One scan of the corpus, no shuffle
  except the final per-query top-k (tiny).  This is the evaluation baseline.
- ``rhp_lsh_topk``: random-hyperplane LSH — corpus and queries hashed to
  sign-bit buckets; candidates = same-bucket rows (multi-probe over
  ``num_tables`` independent tables); exact re-rank inside buckets.  The
  scale path: corpus scan is replaced by bucket-pruned joins.

The hyperplanes are generated deterministically from a seed with a
driver-side LCG (no numpy shipped to executors; the planes travel as column
literals — a few KB).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdtable_spark.operators.scanfan import fanout_small_scan


def dot(a, b):
    """Dot product of two array<double|float> columns (JVM fold).

    Both sides may be SQL text (column names / field paths) — that form
    parses the identical tree JVM-side in ONE call instead of ~30 py4j
    lambda round-trips per fold (the r14 builder-cost move, guide §7.3;
    parity pinned in tests/test_operators.py::
    test_similarity_sql_spellings_match)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
            "(acc, v) -> acc + v)"
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a):
    return F.sqrt(dot(a, a))


def cosine(a, b):
    # dot / sqrt(|a|² · |b|²): one sqrt, and self-similarity is exactly 1.0
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


def _as_double(col):
    """array<float> → array<double>.  SQL-text input parses the identical
    tree JVM-side in one call (builder-cost note on :func:`dot`)."""
    if isinstance(col, str):
        return F.expr(f"transform({col}, x -> CAST(x AS DOUBLE))")
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: Optional[int] = 100_000,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries`` must have (query_id_col, vec_col).  Query side is broadcast —
    the corpus is scanned once, partition-local, and only k rows per query
    per partition survive into the final shuffle (Spark's TakeOrdered within
    the window agg).  Ties break on corpus id for determinism.
    ``max_queries`` makes an unbounded query side fail loudly BEFORE the
    broadcast (early-terminating limit+count probe) instead of OOMing the
    driver/executors — at corpus-scale query sides use the persisted-index
    spellings (:func:`ivf_topk` / :func:`lsh_topk`) or shard the queries
    and pass ``None`` to own the bound.

    Squared norms are computed ONCE per side before the pair expansion —
    the naive per-pair ``cosine()`` refolds dot(c,c) once per QUERY (3
    array folds per pair instead of 1), which measured ~3x slower at 800
    queries x 20k vectors.  Values are bit-identical: same folds, same
    ``sqrt(q2 * c2)`` multiply order.
    """
    _bounded_broadcast_side(
        queries.select(F.col(query_id_col)),
        max_queries,
        "cosine_topk",
        "queries",
    )
    q = queries.select(
        F.col(query_id_col), _as_double(f"`{vec_col}`").alias("q_vec")
    ).select(
        query_id_col, "q_vec", dot("q_vec", "q_vec").alias("__q_n2")
    )
    c = fanout_small_scan(corpus).select(
        F.col(id_col), _as_double(f"`{vec_col}`").alias("c_vec")
    ).select(id_col, "c_vec", dot("c_vec", "c_vec").alias("__c_n2"))
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        (
            dot("q_vec", "c_vec")
            / F.sqrt(F.col("__q_n2") * F.col("__c_n2"))
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------


def _lcg_hyperplanes(dim: int, n_planes: int, seed: int) -> List[List[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes via a 64-bit LCG —
    reproducible across sessions without numpy."""
    state = seed & 0x7FFFFFFFFFFFFFFF
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (6364136223846793005 * state + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
            # map to (-1, 1)
            row.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        planes.append(row)
    return planes


def rhp_bucket(vec_col, planes: List[List[float]]):
    """Sign-bit bucket id of a vector against a list of hyperplanes.

    Pure-column spelling (kept for composability in arbitrary expressions);
    the operators below use :func:`_rhp_bucket_expr` over a plane MATRIX
    COLUMN instead — inlining dim×bits literals here builds a
    thousands-of-nodes Catalyst tree whose analysis costs seconds of
    driver time per query batch (measured 2.4 s for a 4×8×64 family)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot(vec_col, p) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + bit * F.lit(2 ** i).cast("long")
    return bucket


def _rhp_bucket_expr(vec, planes_col):
    """Bucket id from a plane-matrix COLUMN: Σ 2ⁱ over planes i with
    dot(vec, planeᵢ) ≥ 0 — bit-identical to :func:`rhp_bucket`, but the
    planes travel as one row of DATA (broadcast), so the expression tree is
    ~50 nodes regardless of dim×bits.  2ⁱ accumulates exactly in doubles
    for i < 53 (bits per table is ≤ ~30 in practice)."""
    bits = F.transform(
        planes_col,
        lambda p, i: F.when(
            dot(vec, p) >= 0, F.pow(F.lit(2.0), i.cast("double"))
        ).otherwise(F.lit(0.0)),
    )
    return F.aggregate(bits, F.lit(0.0), lambda a, v: a + v).cast("long")


def _matrix_frame(df: DataFrame, name: str, matrix, depth: int) -> DataFrame:
    """Attach a small numeric matrix to every row of ``df`` as ONE column of
    nested-array DATA via a broadcast single-row cross join — the
    plan-size-safe alternative to inlining it as per-element literals.

    The single row ships through :func:`~pdtable_spark.frame.arrow_frame`,
    which backs the relation with a plain JVM lineage — a pickled row
    costs ~180 ms of driver time per build AND launches a Python worker
    for the one-row side inside every downstream action (guide §4: the
    JVM↔Python boundary)."""
    from pyspark.sql import types as T

    from pdtable_spark.frame import arrow_frame

    dtype = T.DoubleType()
    for _ in range(depth):
        dtype = T.ArrayType(dtype)
    schema = T.StructType([T.StructField(name, dtype)])
    one = arrow_frame(df.sparkSession, [[matrix]], schema)
    return df.crossJoin(F.broadcast(one))


def _rhp_tables(dim: int, bits_per_table: int, num_tables: int, seed: int):
    """The deterministic hyperplane family shared by index build and query
    time — both sides regenerate identical planes from the parameters, so
    an index persisted yesterday answers today's queries."""
    return [
        _lcg_hyperplanes(dim, bits_per_table, seed + 1000 * t) for t in range(num_tables)
    ]


def _bucketize(
    df: DataFrame, id_: str, vec_col: str, out_vec: str, tables, extra_cols=()
) -> DataFrame:
    extras = [F.col(c) for c in extra_cols]
    d = df.select(F.col(id_), _as_double(f"`{vec_col}`").alias(out_vec), *extras)
    d = _matrix_frame(d, "__rhp_tables", [[[float(x) for x in p] for p in t] for t in tables], 3)
    entries = F.transform(
        F.col("__rhp_tables"),
        lambda tbl, t: F.struct(
            t.cast("int").alias("tbl"),
            _rhp_bucket_expr(F.col(out_vec), tbl).alias("bkt"),
        ),
    )
    return d.select(id_, out_vec, F.explode(entries).alias("e"), *extra_cols).select(
        id_, out_vec, F.col("e.tbl").alias("tbl"), F.col("e.bkt").alias("bkt"), *extra_cols
    )


def ann_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits_per_table: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    metadata_cols=(),
) -> DataFrame:
    """The persistable RHP-LSH index of an embedding corpus: one
    (id, vec, tbl, bkt[, metadata...]) row per vector per hyperplane table.

    This is what makes ANN serving incremental at 100 TB: build once,
    write ``partitionBy("tbl", "bkt")``, and query batches read ONLY the
    matching bucket partitions (partition-pruned scan, no corpus pass);
    new corpus batches append their own rows without touching the rest.
    The hyperplane family is a pure function of (dim, bits_per_table,
    num_tables, seed) — pass the same parameters to :func:`ann_query`.

    ``metadata_cols`` copies scalar attribute columns into the index rows
    so :func:`ann_query`'s ``where=`` predicate (hybrid / filtered search)
    evaluates INSIDE the pruned index scan — parquet row-group pushdown,
    no join against a metadata table at serving time.  Denormalizing a few
    scalars per row ×num_tables is the standard space/time trade of
    filtered-ANN indexes (pgvector, FAISS+IDMap+store designs).
    """
    tables = _rhp_tables(dim, bits_per_table, num_tables, seed)
    return _bucketize(corpus, id_col, vec_col, "vec", tables, extra_cols=metadata_cols)


def ann_query(
    index: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    bits_per_table: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    prune_partitions: bool = False,
    where=None,
) -> DataFrame:
    """Approximate top-k against a persisted :func:`ann_index` frame:
    bucketize the (small, broadcast) query batch with the same hyperplane
    parameters, join on (tbl, bkt), exact-cosine re-rank.

    ``where`` (a Column predicate over the index's ``metadata_cols``) is
    filtered ("hybrid") search: candidates failing the predicate are cut
    BEFORE the bucket join and re-rank, and because the filter sits
    directly on the index scan it reaches parquet row-group pushdown —
    composing with ``prune_partitions`` (bucket directories pruned first,
    then row groups within them).

    ``prune_partitions=True`` is the serving path for an index persisted
    with ``partitionBy("tbl", "bkt")``: the query batch's bucket keys are
    collected driver-side (bounded by construction — ``n_queries ×
    num_tables`` rows of two ints; ANN serving batches are small) and
    applied to the index as a LITERAL partition predicate, so the scan is
    pruned at file-index time — only the matching bucket directories are
    even listed.  This does not rely on runtime dynamic partition pruning,
    which Spark skips when the broadcast side carries no selective filter.
    """
    tables = _rhp_tables(dim, bits_per_table, num_tables, seed)
    if where is not None:
        index = index.filter(where)
    qb = _bucketize(queries, query_id_col, vec_col, "q_vec", tables)
    if prune_partitions:
        keys = qb.select("tbl", "bkt").distinct().collect()
        by_tbl: dict = {}
        for r in keys:
            by_tbl.setdefault(r.tbl, []).append(r.bkt)
        cond = None
        for t, bkts in sorted(by_tbl.items()):
            c = (F.col("tbl") == t) & F.col("bkt").isin(bkts)
            cond = c if cond is None else (cond | c)
        index = index.filter(cond) if cond is not None else index.limit(0)
    cand = (
        index.join(F.broadcast(qb), on=["tbl", "bkt"])
        .select(query_id_col, id_col, "q_vec", "vec")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.select(
        query_id_col, id_col, cosine(F.col("q_vec"), F.col("vec")).alias("cosine_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def rhp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    bits_per_table: int = 8,
    num_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in any of
    ``num_tables`` hyperplane tables, then exact cosine re-rank — the
    one-shot composition of :func:`ann_index` + :func:`ann_query` (use
    those directly to persist the index across query batches).
    """
    idx = ann_index(corpus, id_col, vec_col, dim, bits_per_table, num_tables, seed)
    return ann_query(
        idx, queries, k, id_col, vec_col, query_id_col, dim, bits_per_table,
        num_tables, seed,
    )


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 12,
    seed: int = 7,
    dim: int = 64,
    max_bucket: Optional[int] = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via one RHP-LSH table + exact
    verification — the embedding-space analog of minhash_dedup.

    Pair expansion per bucket (one shuffle) instead of a bucket self-join —
    same rationale as dedup._lsh_candidate_pairs: two exchanges avoided and
    the hyperplane pipeline never re-evaluates per join side.  Buckets above
    ``max_bucket`` (each entry carries a dim-sized vector, so one oversized
    collect_list row would hold k vectors AND emit k²/2 pairs) fall back to
    a per-bucket join — see :func:`pdtable_spark.operators.dedup.bucket_pairs`.
    """
    from pdtable_spark.operators.dedup import bucket_pairs

    planes = _lcg_hyperplanes(dim, bits, seed)
    d = df.select(F.col(id_col), _as_double(f"`{vec_col}`").alias("v"))
    d = (
        _matrix_frame(d, "__planes", [[float(x) for x in p] for p in planes], 2)
        .withColumn("bkt", _rhp_bucket_expr(F.col("v"), F.col("__planes")))
        .drop("__planes")
    )
    # per-entry norm: one array traversal per pair, not three (see
    # semantic_dedup; cosine = dot(a,b)/(‖a‖·‖b‖), measured 1.6×)
    d = d.withColumn("__nrm", F.sqrt(dot("v", "v")))
    pairs = bucket_pairs(
        d,
        ["bkt"],
        F.struct(
            F.col(id_col).alias("id"), F.col("v").alias("v"), F.col("__nrm").alias("n")
        ),
        max_bucket=max_bucket,
    )
    return (
        pairs.select(
            F.col("ea.id").alias("id_a"),
            F.col("eb.id").alias("id_b"),
            (
                dot("ea.v", "eb.v") / (F.col("ea.n") * F.col("eb.n"))
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------


def ivf_train_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    sample_fraction: float = 1.0,
) -> List[List[float]]:
    """Train IVF cell centroids with ``pyspark.ml`` KMeans (on a sample at
    scale).  The result is the tiny driver-side artifact (n_cells×dim
    floats — KBs) to store next to an :func:`ivf_index` parquet (e.g. as
    JSON) so query batches rebuild the exact cell geometry."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(_as_double(f"`{vec_col}`").alias("arr"))
    if sample_fraction < 1.0:
        train = train.sample(fraction=sample_fraction, seed=seed)
    km = KMeans(k=n_cells, seed=seed, featuresCol="features")
    model = km.fit(train.select(array_to_vector("arr").alias("features")))
    return [[float(x) for x in c] for c in model.clusterCenters()]


def _cell_scores(vec, cents_col):
    """(d², cell) structs sorted by ascending squared distance to ``vec``
    (ties to the lower cell id — sort_array's struct order).

    ``cents_col`` is a centroid-matrix COLUMN (see :func:`_matrix_frame`) —
    element index IS the cell id.  Inlining n_cells×dim literals instead
    costs seconds of driver-side plan analysis per query batch.  Both
    args as SQL text → one JVM-side parse (builder-cost note on
    :func:`dot`)."""
    if isinstance(vec, str) and isinstance(cents_col, str):
        return F.expr(
            f"sort_array(transform({cents_col}, (c, i) -> struct("
            f"aggregate(zip_with({vec}, c, (a, b) -> (a - b) * (a - b)), "
            "0.0D, (acc, v_) -> acc + v_) AS d, CAST(i AS INT) AS cell)))"
        )
    scored = F.transform(
        cents_col,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v_: acc + v_,
            ).alias("d"),
            i.cast("int").alias("cell"),
        ),
    )
    return F.sort_array(scored)


def _cell_ranking(vec, cents_col):
    """Array of cell ids sorted by ascending squared distance to ``vec``.
    SQL-text args → one JVM-side parse (builder-cost note on :func:`dot`)."""
    if isinstance(vec, str) and isinstance(cents_col, str):
        return F.expr(
            f"transform(sort_array(transform({cents_col}, (c, i) -> struct("
            f"aggregate(zip_with({vec}, c, (a, b) -> (a - b) * (a - b)), "
            "0.0D, (acc, v_) -> acc + v_) AS d, CAST(i AS INT) AS cell))), "
            "s -> s.cell)"
        )
    return F.transform(_cell_scores(vec, cents_col), lambda s: s["cell"])


def _cosine_pre(q_vec, c_vec):
    """Cosine over sides whose SQUARED norms were folded once upstream
    (``__q_n2`` / ``__c_n2`` columns) — same ``sqrt(q2*c2)`` multiply
    order as :func:`cosine`, so values are bit-identical with a third of
    the per-pair array folds (see :func:`cosine_topk`)."""
    return dot(q_vec, c_vec) / F.sqrt(F.col("__q_n2") * F.col("__c_n2"))


def _ivf_probes(queries_sel: DataFrame, centroids, nprobe: int) -> DataFrame:
    """Shared probe stage of the IVF consumers (:func:`ivf_query`,
    :func:`hard_negatives_ivf`): a (cols..., q_vec) query frame gains its
    folded squared norm ``__q_n2`` and one exploded ``cell`` row per
    nprobe-nearest centroid."""
    cents = [[float(x) for x in c] for c in centroids]
    others = list(queries_sel.columns)
    q = _matrix_frame(queries_sel, "__cents", cents, 2)
    return q.select(
        *others,
        dot("q_vec", "q_vec").alias("__q_n2"),
        F.explode(
            F.slice(_cell_ranking("q_vec", "__cents"), 1, nprobe)
        ).alias("cell"),
    )


def ivf_index(
    corpus: DataFrame,
    centroids: List[List[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metadata_cols=(),
) -> DataFrame:
    """The persistable IVF index: each vector assigned to its nearest cell
    → (id, vec, cell[, metadata...]).  Write ``partitionBy("cell")`` once;
    each query batch then scans only its ``nprobe`` probed cells
    (partition-pruned), and new corpus batches append their own cell
    assignments.  ``metadata_cols`` ride along for filtered search /
    label-aware mining (same contract as :func:`ann_index`)."""
    cents = [[float(x) for x in c] for c in centroids]
    # r14 opt: the nearest-cell assignment folds dim doubles per centroid
    # per row — compute-dense over a byte-tiny scan (guide §2.5); fan a
    # provably tiny local corpus to the core count first (identity at
    # scale / on derived multi-source lineage)
    c = fanout_small_scan(corpus).select(
        F.col(id_col),
        _as_double(f"`{vec_col}`").alias("vec"),
        *[F.col(m) for m in metadata_cols],
    )
    c = _matrix_frame(c, "__cents", cents, 2)
    return c.withColumn(
        "cell", F.element_at(_cell_ranking("vec", "__cents"), 1)
    ).drop("__cents")


def ivf_append(
    index_path: str,
    new_batch: DataFrame,
    centroids: List[List[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metadata_cols=(),
) -> None:
    """Incremental index maintenance: assign ONLY the new corpus batch to
    the FROZEN centroids and append its rows under their ``cell``
    partitions of the persisted :func:`ivf_index` at ``index_path`` — no
    retrain, no rescan of what's already indexed.  This is the contract
    the frozen ``centroids`` artifact exists for: same geometry → a new
    vector lands in exactly the cell a full rebuild would put it in, so
    append-then-query ≡ rebuild-then-query row-for-row (pinned in
    pytest).

    Retrain (``ivf_train_centroids``) only when drift makes cells
    unbalanced — :func:`~pdtable_spark.operators.monitor.cluster_drift`
    is the alarm for that; a retrain is a REBUILD (new geometry, new
    index path), never an append.
    """
    # Layout guard: ivf_index returns a frame — partitionBy("cell") at
    # write time is a caller convention, so probe the existing index
    # and fail loudly rather than silently appending cell=... Hive
    # partitions under a flat directory (a mixed layout misbehaves on
    # read: the flat files carry a physical ``cell`` column, the
    # partitioned ones infer it from the path).
    spark = new_batch.sparkSession
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(index_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(hpath):
        statuses = fs.listStatus(hpath)
        has_cell_dirs = any(
            s.isDirectory() and s.getPath().getName().startswith("cell=")
            for s in statuses
        )
        has_flat_parquet = any(
            not s.isDirectory() and s.getPath().getName().endswith(".parquet")
            for s in statuses
        )
        if has_flat_parquet:
            # fail closed on flat AND already-mixed directories alike —
            # any top-level parquet file means reads will see a physical
            # ``cell`` column beside path-inferred partitions
            kind = (
                "a MIXED flat/partitioned layout"
                if has_cell_dirs
                else "NOT partitioned by cell (flat parquet files, no "
                "cell=* directories)"
            )
            raise ValueError(
                f"ivf_append: existing index at {index_path!r} is {kind} "
                "— appending partitionBy('cell') would grow a mixed "
                "layout; rebuild the index with "
                ".write.partitionBy('cell') first"
            )
    ivf_index(
        new_batch, centroids, id_col=id_col, vec_col=vec_col,
        metadata_cols=metadata_cols,
    ).write.mode("append").partitionBy("cell").parquet(index_path)


def ivf_cell_ledger(
    corpus: DataFrame,
    centroids: List[List[float]],
    vec_col: str = "embedding",
    quantum: float = 1e6,
) -> DataFrame:
    """Per-cell assignment ledger: ``(cell, n, sum_qd2)`` where each
    vector contributes ``floor(d2 * quantum + 0.5)`` of its squared L2
    distance to its ASSIGNED (nearest) centroid — the quantized-BIGINT
    convention every mergeable ledger here uses, so the state is
    additive (two ledgers over disjoint batches sum to the ledger over
    the union, bit-identically) and cross-engine exact.

    Persist the ledger produced AT TRAIN TIME next to the frozen
    centroids artifact: it is the n_cells-row baseline
    :func:`ivf_staleness` compares appends against.  One scan, one
    n_cells-group aggregate — KB-sized state at any corpus scale.
    """
    cents = [[float(x) for x in c] for c in centroids]
    c = corpus.select(_as_double(f"`{vec_col}`").alias("vec"))
    c = _matrix_frame(c, "__cents", cents, 2)
    nearest = F.element_at(
        _cell_scores("vec", "__cents"), 1
    )
    return (
        c.select(
            nearest["cell"].cast("long").alias("cell"),
            F.floor(nearest["d"] * F.lit(float(quantum)) + F.lit(0.5))
            .cast("long")
            .alias("qd2"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qd2").alias("sum_qd2"),
        )
    )


def ivf_staleness(
    corpus: DataFrame,
    centroids: List[List[float]],
    train_ledger: DataFrame,
    vec_col: str = "embedding",
    quantum: float = 1e6,
    appended_frac_warn: float = 0.5,
    dist_ratio_warn: float = 1.25,
) -> DataFrame:
    """WHEN-to-retrain diagnostic for :func:`ivf_append` (the sketch-
    quality convention of ``embedding_ivf_recall`` /
    ``minhash_estimate_error``): appends against frozen centroids
    degrade recall as the appended mass drifts away from the geometry
    the centroids were trained on.  Compares the CURRENT corpus's
    per-cell ledger against the persisted train-time
    :func:`ivf_cell_ledger`, per cell:

    - ``appended_frac`` = (n_now − n_train) / n_now — how much of the
      cell postdates training (probe-cost skew: a hot appended cell
      slows every query probing it);
    - ``dist_ratio`` = mean assigned d² now / at train time — the drift
      signal: a ratio well above 1 means new members sit farther from
      the frozen centroid than the training population did, exactly the
      population whose true nearest neighbors leak into unprobed cells;
    - ``retrain`` = appended_frac > ``appended_frac_warn`` OR
      dist_ratio > ``dist_ratio_warn`` — the alarm bit.  A retrain is a
      REBUILD (new geometry, new index path), never an append.

    All ratios divide exact integers in a fixed order, so the frame is
    value-oracle-able.  Cells absent from one side coalesce to 0 /
    NULL (``dist_ratio`` is NULL where the train ledger has no
    members).  Cost: one corpus scan + one n_cells-row broadcast join.
    """
    now = ivf_cell_ledger(corpus, centroids, vec_col=vec_col, quantum=quantum)
    return ivf_staleness_from_ledgers(
        now,
        train_ledger,
        quantum=quantum,
        appended_frac_warn=appended_frac_warn,
        dist_ratio_warn=dist_ratio_warn,
    )


def ivf_staleness_from_ledgers(
    now_ledger: DataFrame,
    train_ledger: DataFrame,
    quantum: float = 1e6,
    appended_frac_warn: float = 0.5,
    dist_ratio_warn: float = 1.25,
) -> DataFrame:
    """The ledger-join core of :func:`ivf_staleness`, exposed for
    callers that already HOLD both ledgers — the streaming sibling
    (``streaming.monitor.cell_ledger_stream``) accumulates the now-
    ledger incrementally and re-joins the frozen train artifact per
    micro-batch, paying n_cells rows per batch instead of a corpus
    rescan.  Same column contract and exact-integer division order as
    :func:`ivf_staleness`."""
    t = train_ledger.select(
        F.col("cell"),
        F.col("n").alias("__n_t"),
        F.col("sum_qd2").alias("__sq_t"),
    )
    n = now_ledger.select(
        F.col("cell"),
        F.col("n").alias("__n_n"),
        F.col("sum_qd2").alias("__sq_n"),
    )
    j = n.join(F.broadcast(t), "cell", "full_outer").select(
        F.col("cell"),
        F.coalesce(F.col("__n_t"), F.lit(0)).cast("long").alias("n_train"),
        F.coalesce(F.col("__n_n"), F.lit(0)).cast("long").alias("n_now"),
        F.coalesce(F.col("__sq_t"), F.lit(0)).cast("long").alias("sq_train"),
        F.coalesce(F.col("__sq_n"), F.lit(0)).cast("long").alias("sq_now"),
    )
    q = F.lit(float(quantum))
    mean_train = F.when(
        F.col("n_train") > 0,
        F.col("sq_train").cast("double") / F.col("n_train").cast("double") / q,
    )
    mean_now = F.when(
        F.col("n_now") > 0,
        F.col("sq_now").cast("double") / F.col("n_now").cast("double") / q,
    )
    dist_ratio = F.when(
        (F.col("n_train") > 0) & (F.col("n_now") > 0) & (F.col("sq_train") > 0),
        (F.col("sq_now").cast("double") / F.col("n_now").cast("double"))
        / (F.col("sq_train").cast("double") / F.col("n_train").cast("double")),
    )
    appended_frac = F.when(
        F.col("n_now") > 0,
        (F.col("n_now") - F.col("n_train")).cast("double")
        / F.col("n_now").cast("double"),
    )
    return j.select(
        "cell",
        "n_train",
        "n_now",
        (F.col("n_now") - F.col("n_train")).cast("long").alias("n_appended"),
        appended_frac.alias("appended_frac"),
        mean_train.alias("mean_d2_train"),
        mean_now.alias("mean_d2_now"),
        dist_ratio.alias("dist_ratio"),
        (
            F.coalesce(appended_frac > F.lit(appended_frac_warn), F.lit(False))
            | F.coalesce(dist_ratio > F.lit(dist_ratio_warn), F.lit(False))
        ).alias("retrain"),
    ).orderBy("cell")


def ivf_query(
    index: DataFrame,
    queries: DataFrame,
    centroids: List[List[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nprobe: int = 4,
    where=None,
) -> DataFrame:
    """Top-k against a persisted :func:`ivf_index`: each query probes its
    ``nprobe`` nearest cells (broadcast join on cell id), exact cosine
    re-rank inside the probed cells.

    ``where`` filters candidates on index metadata columns before the
    probe join (filtered/hybrid search) — on a persisted index the
    predicate reaches parquet row-group pushdown inside the probed-cell
    partitions, the same contract as :func:`ann_query`.  Norms fold once
    per side (see :func:`cosine_topk` — bit-identical, 3x fewer folds).
    """
    if where is not None:
        index = index.filter(where)
    q = _ivf_probes(
        queries.select(F.col(query_id_col), _as_double(f"`{vec_col}`").alias("q_vec")),
        centroids,
        nprobe,
    )
    cand = index.withColumn("__c_n2", dot("vec", "vec"))
    scored = cand.join(F.broadcast(q), on="cell").select(
        query_id_col,
        id_col,
        _cosine_pre("q_vec", "vec").alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    sample_fraction: float = 1.0,
    centroids: Optional[List[List[float]]] = None,
) -> DataFrame:
    """IVF approximate top-k — the one-shot composition of
    :func:`ivf_train_centroids` + :func:`ivf_index` + :func:`ivf_query`
    (use those directly to persist the index across query batches).

    Pass ``centroids`` explicitly to skip training (IVF-flat with fixed
    seeds — e.g. FAISS-style sampled init without Lloyd refinement; also
    what makes the suite query deterministic enough for a cross-engine
    value oracle).
    """
    if centroids is None:
        centroids = ivf_train_centroids(corpus, vec_col, n_cells, seed, sample_fraction)
    idx = ivf_index(corpus, centroids, id_col, vec_col)
    return ivf_query(idx, queries, centroids, k, id_col, vec_col, query_id_col, nprobe)


def semantic_dedup(
    corpus: DataFrame,
    centroids: Optional[List[List[float]]] = None,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    max_cell: Optional[int] = 1000,
    persist_index: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (cluster, then prune within
    cluster — Abbas et al., arXiv:2303.09540): every embedding is assigned
    to its nearest centroid cell, and a document is dropped iff some
    SAME-CELL document with a smaller id is cosine-similar to it at
    ``>= threshold``.  Returns the surviving ``(id, cell)`` rows.

    100 TB design: clustering restricts the quadratic comparison to cells,
    so the pair cost is Σ|cell|² rather than n² and the cross-document
    comparison never leaves a cell.  Plan shape: cell assignment is one
    scan with the centroid matrix as a broadcast literal (no shuffle);
    the pair expansion is ONE shuffle on the cell key, with hot cells
    above ``max_cell`` streaming through a per-cell self-join instead of
    one collect_list row (:func:`pdtable_spark.operators.dedup.bucket_pairs`);
    the survivor filter is one anti-join on id.  ``max_cell`` must stay
    LOW for embedding entries (default 1000, same as
    :func:`embedding_near_dups`): each in-row pair carries two dim-sized
    double vectors, so a k-row cell materializes k²/2 · 2·dim·8 bytes
    inside ONE aggregation row — k=10000 at dim 64 is ~50 GB, an executor
    OOM (caught by the sf1 oracle sweep; k=1000 is ~0.5 GB worst-case and
    real k-means cells sit far below it).

    ``centroids=None`` trains pyspark.ml KMeans
    (:func:`ivf_train_centroids`); pass explicit centroids (e.g. the
    FAISS-style sampled init the suite query uses) for bit-reproducible
    runs.

    ``n_cells`` must GROW with the corpus (target cell sizes in the low
    hundreds): pair work is Σ|cell|², so a fixed cell count turns the
    10× corpus into ~10× work per row (measured 16× end-to-end at
    sf0.1→sf1 with the fixed default) while a scaled cell count holds
    the per-row cost flat.

    ``persist_index=True`` materializes the assigned (id, vec, cell)
    index (MEMORY_AND_DISK) before the pair expansion: the index feeds
    the window count, both hot-cell join sides, and the survivor
    anti-join, and neither AQE nor ReuseExchange dedups those branches —
    un-materialized, the O(n·cells·dim) assignment re-executes once per
    branch (measured 10× end-to-end: 33.8 s → 3.5 s at 20k vectors ×
    160 cells).  The caller owns the cache lifecycle: the persisted index
    frame is exposed as ``result.semantic_dedup_index`` — call
    ``result.semantic_dedup_index.unpersist()`` once the result is
    materialized, or repeated calls in one session accumulate cached
    partitions until LRU pressure.  Pass ``False`` for tiny corpora or
    when managing caching (or a pre-persisted index + :func:`ivf_index`
    composition) yourself.
    """
    from pdtable_spark.operators.dedup import bucket_pairs

    if centroids is None:
        centroids = ivf_train_centroids(corpus, vec_col, n_cells, seed)
    idx = ivf_index(corpus, centroids, id_col, vec_col)
    if persist_index:
        from pyspark import StorageLevel

        idx = idx.persist(StorageLevel.MEMORY_AND_DISK)
    # norms precomputed per ENTRY, not per pair: cosine(a,b) spelled
    # dot(a,b)/(‖a‖·‖b‖) does one array traversal per pair instead of
    # three (measured 1.63× at sf0.1 — the pair stage is the whole cost)
    with_n = idx.withColumn("__nrm", F.sqrt(dot("vec", "vec")))
    pairs = bucket_pairs(
        with_n,
        ["cell"],
        F.struct(
            F.col(id_col).alias("id"), F.col("vec").alias("v"), F.col("__nrm").alias("n")
        ),
        max_bucket=max_cell,
    )
    drops = (
        pairs.filter(
            dot("ea.v", "eb.v") / (F.col("ea.n") * F.col("eb.n"))
            >= F.lit(float(threshold))
        )
        .select(F.col("eb.id").alias(id_col))
        .distinct()
    )
    out = idx.join(drops, on=id_col, how="left_anti").select(id_col, "cell")
    if persist_index:
        # hand the cache handle to the caller (unpersisting here would
        # defeat the persist before the lazy result ever materializes)
        out.semantic_dedup_index = idx
    return out


def incremental_embedding_dedup(
    new: DataFrame,
    index: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits_per_table: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    prune_partitions: bool = False,
) -> DataFrame:
    """Continuous-ingestion embedding dedup — the vector-space analog of
    ``dedup.incremental_dedup``: a new ingest batch is RHP-bucketized with
    the SAME hyperplane family as a persisted :func:`ann_index`, candidate
    (new, corpus) pairs come from bucket collisions only, and each is
    exact-cosine verified before the new row is dropped.  Returns the
    surviving rows of ``new``.

    No corpus rescan, no all-pairs, no index rebuild: the corpus
    contributes only its colliding bucket partitions (set
    ``prune_partitions=True`` against a ``partitionBy("tbl","bkt")``-
    persisted index for file-level pruning, same contract as
    :func:`ann_query`), and survivors can append their own index rows for
    the next batch.  Guarantee is NEW-vs-CORPUS only — run
    :func:`semantic_dedup` (or near-dups) over the batch itself first if
    intra-batch duplicates matter.
    """
    tables = _rhp_tables(dim, bits_per_table, num_tables, seed)
    qb = _bucketize(new, id_col, vec_col, "q_vec", tables)
    if prune_partitions:
        keys = qb.select("tbl", "bkt").distinct().collect()
        by_tbl: dict = {}
        for r in keys:
            by_tbl.setdefault(r.tbl, []).append(r.bkt)
        cond = None
        for t, bkts in sorted(by_tbl.items()):
            c = (F.col("tbl") == t) & F.col("bkt").isin(bkts)
            cond = c if cond is None else (cond | c)
        index = index.filter(cond) if cond is not None else index.limit(0)
    cand = (
        index.join(F.broadcast(qb.withColumnRenamed(id_col, "__new_id")), on=["tbl", "bkt"])
        .select("__new_id", F.col(id_col).alias("__corpus_id"), "q_vec", "vec")
        .dropDuplicates(["__new_id", "__corpus_id"])
    )
    dropped = (
        cand.filter(cosine(F.col("q_vec"), F.col("vec")) >= F.lit(float(threshold)))
        .select(F.col("__new_id").alias(id_col))
        .distinct()
    )
    return new.join(dropped, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-index ANN
# ---------------------------------------------------------------------------


def _dist2(a, b):
    """Squared L2 distance of two array<double> columns (JVM fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dist2_q(a, b):
    """Squared distance quantized to 9 decimals as an exact BIGINT —
    ADC sums per-subspace distances, and a sum of doubles is
    order-dependent; summing the quantized integers is exact and
    reproducible bit-for-bit on any engine."""
    return F.floor(_dist2(a, b) * F.lit(1e9)).cast("long")


def pq_codebooks(
    corpus: DataFrame,
    n_codes: int = 16,
    num_subspaces: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    sample_fraction: float = 1.0,
    seed: int = 42,
) -> List[List[List[float]]]:
    """PQ codebooks — codebook[m][code] is the code-th centroid of
    subspace m.

    ``refine_iters=0`` (default): the ``n_codes`` smallest-id corpus
    vectors, each split into ``num_subspaces`` equal sub-vectors.
    FAISS-style sampled init without Lloyd refinement, same policy as the
    suite's IVF centroids: deterministic (id-ordered), so an oracle can
    recompute it.  Bounded collect: n_codes × dim doubles.

    ``refine_iters=N`` (the production shape): per-subspace
    ``pyspark.ml`` KMeans (k = ``n_codes``, ``maxIter=N``, fixed seed,
    optionally over a ``sample_fraction`` of the corpus) — Lloyd-refined
    centroids that adapt to the sub-vector distribution instead of
    echoing whichever vectors had the smallest ids, which is what lifts
    ADC recall.  Seeded k-means|| supplies the init (pyspark's KMeans
    takes no custom starting centers), so refined books are reproducible
    for a fixed corpus+seed but are NOT the oracle mode — cross-engine
    verification stays on the deterministic sampled init.  At 100 TB:
    train on a sample (codebooks need ~100k vectors, not the corpus);
    the num_subspaces fits share one cached sample projection.
    """
    rows = (
        corpus.orderBy(id_col)
        .limit(n_codes)
        .select(_as_double(f"`{vec_col}`").alias("v"))
        .collect()
    )
    if not rows:
        raise ValueError("pq_codebooks: corpus is empty")
    dim = len(rows[0]["v"])
    if dim % num_subspaces:
        raise ValueError(f"dim {dim} not divisible by {num_subspaces} subspaces")
    dsub = dim // num_subspaces
    books = [
        [list(r["v"][m * dsub : (m + 1) * dsub]) for r in rows]
        for m in range(num_subspaces)
    ]
    if refine_iters > 0:
        books = _refine_pq_codebooks(
            corpus, n_codes, num_subspaces, dsub, vec_col,
            refine_iters, sample_fraction, seed,
        )
    return books


def _refine_pq_codebooks(
    corpus: DataFrame,
    n_codes: int,
    num_subspaces: int,
    dsub: int,
    vec_col: str,
    refine_iters: int,
    sample_fraction: float,
    seed: int,
) -> List[List[List[float]]]:
    """Per-subspace Lloyd refinement via ``pyspark.ml`` KMeans (see
    :func:`pq_codebooks`).  One cached (sampled) projection feeds all
    ``num_subspaces`` fits; each fit's state is n_codes×dsub doubles."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(_as_double(f"`{vec_col}`").alias("v"))
    if sample_fraction < 1.0:
        train = train.sample(fraction=sample_fraction, seed=seed)
    train = train.cache()
    try:
        books = []
        for m in range(num_subspaces):
            sub = train.select(
                array_to_vector(F.slice(F.col("v"), m * dsub + 1, dsub)).alias(
                    "features"
                )
            )
            km = KMeans(
                k=n_codes, seed=seed + m, maxIter=refine_iters, featuresCol="features"
            )
            model = km.fit(sub)
            books.append([[float(x) for x in c] for c in model.clusterCenters()])
        return books
    finally:
        train.unpersist()


def _pq_cent_frame(spark, codebooks: List[List[List[float]]]) -> DataFrame:
    """Codebooks as a small broadcastable frame (m, code, cvec) —
    num_subspaces × n_codes rows, a few KB.  A frame, not a literal tree:
    inlining M×K×dsub literals costs seconds of Catalyst analysis
    (same lesson as :func:`_matrix_frame`)."""
    data = [
        (m, code, [float(x) for x in cvec])
        for m, book in enumerate(codebooks)
        for code, cvec in enumerate(book)
    ]
    return spark.createDataFrame(data, "m int, code int, cvec array<double>")


def _pq_subspaces(df: DataFrame, id_cols: List[str], vec: str, num_subspaces: int, dsub: int):
    """Explode a vector frame into (ids..., m, sv) sub-vector rows."""
    return df.select(
        *id_cols,
        F.explode(F.sequence(F.lit(0), F.lit(num_subspaces - 1))).alias("m"),
        F.col(vec),
    ).select(
        *id_cols,
        "m",
        F.slice(F.col(vec), F.col("m") * dsub + 1, dsub).alias("sv"),
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: List[List[List[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The persistable PQ index: each vector compressed to
    ``num_subspaces`` one-byte-ish codes → (id, codes array<int>).

    This is the 100 TB memory story for similarity search: a 64-dim
    float32 embedding is 256 B; its PQ code with 8 subspaces is 8 B —
    32× smaller, so a 100 TB embedding corpus becomes a ~3 TB index that
    a modest cluster holds in memory.  Encode cost: one scan with the
    codebook frame broadcast (corpus × M × K intermediate rows, all
    map-side), then ONE shuffle of (id, m) argmin partials.  Ties in
    sub-distance break on the smaller code id (min-struct), so encoding
    is deterministic.
    """
    num_subspaces = len(codebooks)
    dsub = len(codebooks[0][0])
    cent = _pq_cent_frame(corpus.sparkSession, codebooks)
    c = corpus.select(F.col(id_col), _as_double(f"`{vec_col}`").alias("v"))
    sub = _pq_subspaces(c, [id_col], "v", num_subspaces, dsub)
    best = (
        sub.join(F.broadcast(cent), "m")
        .withColumn("dq", _dist2_q(F.col("sv"), F.col("cvec")))
        .groupBy(id_col, "m")
        .agg(F.min(F.struct(F.col("dq"), F.col("code"))).alias("b"))
        .select(id_col, "m", F.col("b.code").alias("code"))
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def pq_query(
    index: DataFrame,
    queries: DataFrame,
    codebooks: List[List[List[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a :func:`pq_encode` index:
    the query stays full-precision, each corpus vector is approximated by
    its sub-centroids, and the distance is a table lookup —
    dist²(q, x) ≈ Σ_m dist²(q_sub_m, codebook[m][code_m]).

    Returns (query_id, id, approx_dist2, rank) — smaller distance is
    better; ties break on corpus id.

    Plan shape: the per-query lookup table (nq × M × K quantized
    distances — a few thousand rows) is built by one broadcast join and
    itself broadcast; the index scan explodes each row's M codes, joins
    the LUT map-side, and partial-sums (query, id) groups before the ONE
    shuffle.  The corpus never touches full vectors — the scan reads the
    compressed codes only.  Exact re-rank of the ADC top-k against the
    raw vectors (fetch-by-id) is the standard refinement when recall
    matters more than one extra join.
    """
    num_subspaces = len(codebooks)
    dsub = len(codebooks[0][0])
    cent = _pq_cent_frame(index.sparkSession, codebooks)
    q = queries.select(F.col(query_id_col), _as_double(f"`{vec_col}`").alias("v"))
    qsub = _pq_subspaces(q, [query_id_col], "v", num_subspaces, dsub)
    lut = (
        qsub.join(F.broadcast(cent), "m")
        .select(
            query_id_col,
            "m",
            "code",
            _dist2_q(F.col("sv"), F.col("cvec")).alias("dq"),
        )
    )
    codes = index.select(
        F.col(id_col), F.posexplode(F.col("codes")).alias("m", "code")
    )
    scored = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("dq").alias("adist_q"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adist_q"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            (F.col("adist_q").cast("double") / F.lit(1e9)).alias("approx_dist2"),
            "rank",
        )
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_codes: int = 16,
    num_subspaces: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebooks: Optional[List[List[List[float]]]] = None,
) -> DataFrame:
    """One-shot :func:`pq_codebooks` + :func:`pq_encode` + :func:`pq_query`
    (use the pieces directly to persist the compressed index across query
    batches)."""
    if codebooks is None:
        codebooks = pq_codebooks(corpus, n_codes, num_subspaces, id_col, vec_col)
    idx = pq_encode(corpus, codebooks, id_col, vec_col)
    return pq_query(idx, queries, codebooks, k, id_col, vec_col, query_id_col)


def pq_query_refined(
    index: DataFrame,
    queries: DataFrame,
    codebooks: List[List[List[float]]],
    corpus: DataFrame,
    k: int = 10,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ with exact re-rank: ADC retrieves ``k × refine_factor``
    candidates from the compressed index, then their RAW vectors are
    fetched by id and the final top-k is ranked by exact cosine — the
    standard two-stage serving shape (coarse recall from the 32×-smaller
    index, precision from a bounded fetch of nq·k·refine_factor rows).

    Returns (query_id, id, cosine_sim, rank) like :func:`cosine_topk`.

    Plan shape: the candidate set after ADC is tiny (per-query bounded),
    so the raw-vector fetch is a semi-join-sized keyed join against the
    corpus — at 100 TB the full-precision vectors are read for only
    ~nq·k·refine_factor ids, never scanned wholesale; the query side is
    broadcast throughout.
    """
    cand = pq_query(
        index, queries, codebooks, k=k * refine_factor,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    ).select(query_id_col, id_col)
    q = queries.select(F.col(query_id_col), _as_double(f"`{vec_col}`").alias("q_vec"))
    c = corpus.select(F.col(id_col), _as_double(f"`{vec_col}`").alias("c_vec"))
    scored = (
        cand.join(c, id_col)
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            id_col,
            cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def rrf_fuse(
    rankings: List[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    quantize: float = 1e12,
    weights: Optional[List[float]] = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al., SIGIR 2009): merge several
    top-k rankings of the same id space into one —
    score(d) = Σ_lists 1/(k + rank_list(d)) — the standard hybrid-retrieval
    combiner (BM25 ⊕ embedding cosine and friends).  Only RANKS are
    consumed, so heterogeneous scorers fuse without calibration; ``k=60``
    is the paper's damping constant.

    Returns (id, n_lists — how many input rankings contained the id,
    rrf_score, rank) over the union of the inputs' candidates, rank
    1-based with an id tie-break.

    Determinism: each reciprocal term is floored to ``1/quantize``
    precision (``floor(quantize/(k+rank))`` — an exact BIGINT) and summed
    as integers, so the fused ordering is bit-reproducible on any engine
    and never depends on double-sum order.

    ``weights`` (one per ranking, default all 1.0) scale each list's
    reciprocal terms — the tuned-hybrid variant (e.g. 0.7·lexical ⊕
    1.0·semantic); weighting happens INSIDE the quantized floor so the
    fused order stays bit-reproducible.

    Scale: inputs are top-k lists, so the candidate union is bounded by
    Σ input sizes by construction — the groupBy and the final rank window
    run over that bounded set, never a corpus.  (Do not feed corpus-sized
    "rankings" through this; rank the top-k first.)
    """
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rrf_fuse: rankings must be non-empty")
    if weights is not None and len(weights) != len(rankings):
        raise ValueError(
            f"rrf_fuse: {len(weights)} weights for {len(rankings)} rankings"
        )
    ws = [1.0] * len(rankings) if weights is None else [float(w) for w in weights]
    frames = [
        r.select(
            F.col(id_col),
            F.col(rank_col).cast("long").alias("__rank"),
            F.lit(w).alias("__w"),
        )
        for r, w in zip(rankings, ws)
    ]
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    term = F.floor(
        F.col("__w")
        * F.lit(float(quantize))
        / (F.lit(float(k)) + F.col("__rank").cast("double"))
    ).cast("long")
    agg = u.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.sum(term).alias("__q"),
    )
    w = Window.orderBy(F.desc("__q"), F.asc(id_col))
    return (
        agg.select(
            id_col,
            "n_lists",
            (F.col("__q").cast("double") / F.lit(float(quantize))).alias("rrf_score"),
            F.col("__q"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .drop("__q")
    )


def cluster_profile(
    corpus: DataFrame,
    centroids: List[List[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: float = 1e9,
) -> DataFrame:
    """Topic/cluster composition of an embedding corpus under a fixed
    centroid set: per cell, (cell, n_vectors, share, avg_dist2) — how the
    corpus distributes over semantic clusters and how tight each cluster
    is.  The standing diagnostic behind cluster-curation decisions
    (SemDeDup's cell sizing, SSL-prototype pruning, topic-balance audits)
    and the drift-monitor companion for EMBEDDING space: run it on two
    snapshots and diff the shares.

    Every cell appears, including empty ones (share 0.0, avg_dist2 0.0) —
    a cluster silently emptying is exactly the signal the profile exists
    to surface.

    100 TB design: one corpus scan — assignment is the scan-local
    broadcast-matrix fold shared with :func:`ivf_index`; the aggregate is
    a map-side-combinable (cell → count, Σd²) at centroid cardinality,
    joined to the (driver-sized) cell list.  Determinism: per-row d² is
    floored binary-faithfully at ``1/quantize`` and the cell average
    divides the exact integer sum (the suite's quantized-ln recipe).
    """
    cents = [[float(x) for x in c] for c in centroids]
    c = corpus.select(_as_double(f"`{vec_col}`").alias("vec"))
    c = _matrix_frame(c, "__cents", cents, 2)
    best = F.element_at(_cell_scores("vec", "__cents"), 1)
    per_row = c.select(
        best["cell"].alias("cell"),
        F.floor(F.round(best["d"], 9) * F.lit(float(quantize))).cast("long").alias("__qd"),
    )
    counts = per_row.groupBy("cell").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__qd").alias("__sd")
    )
    cells = corpus.sparkSession.range(len(cents)).select(
        F.col("id").cast("int").alias("cell")
    )
    # the corpus total via a GLOBAL window over the joined frame — bounded
    # by construction (exactly n_cells rows), and it avoids a second agg
    # branch off `counts` that would re-execute the corpus scan (the
    # semantic-dedup branch-re-execution lesson)
    tot_w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        cells.join(counts, on="cell", how="left")
        .withColumn("__t", F.sum(F.coalesce(F.col("__n"), F.lit(0))).over(tot_w))
        .select(
            F.col("cell"),
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_vectors"),
            F.when(
                F.col("__t") > 0,
                F.coalesce(F.col("__n"), F.lit(0)).cast("double")
                / F.col("__t").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("share"),
            F.when(
                F.col("__n") > 0,
                F.col("__sd").cast("double")
                / F.col("__n").cast("double")
                / F.lit(float(quantize)),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_dist2"),
        )
    )


def cluster_balanced_sample(
    corpus: DataFrame,
    centroids: List[List[float]],
    per_cell: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "",
) -> DataFrame:
    """Cluster-balanced subsampling: at most ``per_cell`` vectors from each
    centroid cell, chosen by deterministic hash order — the cheap
    "uniform over topics, not over documents" sampler (head topics are
    capped, tail topics survive whole), the selection step SemDeDup-style
    curation pipelines run after profiling.  Returns (id, cell,
    sample_rank) with rank 1..per_cell inside each cell.

    Selection is content-stable (the sampling-module contract): a row's
    fate depends only on its id, the centroids, and ``salt`` — never on
    partitioning, execution order, or RNG state.

    100 TB design: one scan + ONE shuffle on the cell key for the
    per-cell top-k window; skew is bounded by the hottest cell — if the
    profile shows a mega-cell, re-train with more centroids before
    sampling (the semantic-dedup cell-sizing rule).
    """
    if per_cell < 1:
        raise ValueError("cluster_balanced_sample: per_cell must be >= 1")
    from pdtable_spark.operators.sampling import hash_bucket

    idx = ivf_index(corpus, centroids, id_col, vec_col)
    order = hash_bucket(F.col(id_col), buckets=1_000_000_000, salt=salt)
    w = Window.partitionBy("cell").orderBy(order.asc(), F.col(id_col).asc())
    return (
        idx.select(F.col(id_col), F.col("cell"))
        .withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= per_cell)
    )


# ---------------------------------------------------------------------------
# Contrastive-training data: hard-negative mining and kNN label propagation
# ---------------------------------------------------------------------------


def _bounded_broadcast_side(df: DataFrame, limit: Optional[int], opname: str, side: str) -> None:
    """Loud bound for the broadcast side of the miners: an unbounded
    predicate must fail with a clear message, not OOM the broadcast on a
    1000-executor cluster.  The check is an EAGER ``limit(n+1).count()`` —
    Spark's CollectLimit scans partitions incrementally, so an over-limit
    side stops after n+1 rows and an in-limit side costs at most one
    pruned scan of the predicate columns (no extra pass over the payload).
    ``limit=None`` disables (caller explicitly owns the bound)."""
    if limit is None:
        return
    if limit < 1:
        raise ValueError(f"{opname}: {side} bound must be >= 1 or None")
    n = df.limit(int(limit) + 1).count()
    if n > limit:
        raise ValueError(
            f"{opname}: {side} selected more than {limit} rows — this side "
            "is broadcast, so shard the predicate and run per shard (see "
            f"docstring), or raise the bound explicitly"
        )


def hard_negatives(
    corpus: DataFrame,
    anchor_pred,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    ceiling: Optional[float] = None,
    max_anchors: Optional[int] = 100_000,
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for each
    anchor row (selected by the ``anchor_pred`` Column), the top-``k``
    most-cosine-similar corpus rows whose ``label_col`` DIFFERS from the
    anchor's — the "close but wrong" examples a contrastive loss learns
    most from.  ``ceiling`` (optional) drops candidates at or above that
    cosine: near-exact matches across label boundaries are usually
    mislabeled duplicates, not negatives.

    Returns (anchor_id, neg_id, neg_label, cosine_sim, rank), rank 1..k
    per anchor by cosine desc, id asc (deterministic ties).

    100 TB design: the anchor side broadcasts (mining runs over a bounded
    anchor batch — a training shard, not the whole corpus), so the corpus
    is scanned once with no shuffle before the per-anchor top-k window,
    which moves ≤ k rows per anchor per partition.  For corpus-scale
    anchor sets, mine in batches against a persisted :func:`ivf_index`
    (:func:`hard_negatives_ivf`) — the exact spelling here is the recall
    oracle for that path.  ``max_anchors`` makes an unbounded
    ``anchor_pred`` fail loudly BEFORE the broadcast (early-terminating
    limit+count probe, not a full scan); pass ``None`` only when the
    caller owns the bound.
    """
    _bounded_broadcast_side(
        corpus.filter(anchor_pred).select(F.col(id_col)),
        max_anchors,
        "hard_negatives",
        "anchor_pred",
    )
    anchors = corpus.filter(anchor_pred).select(
        F.col(id_col).alias("anchor_id"),
        _as_double(f"`{vec_col}`").alias("q_vec"),
        F.col(label_col).alias("__a_label"),
    ).select(
        # squared norm folded ONCE per anchor (see cosine_topk): the pair
        # stage then pays a single dot fold, not three
        "anchor_id",
        "q_vec",
        "__a_label",
        dot("q_vec", "q_vec").alias("__q_n2"),
    )
    cand = fanout_small_scan(corpus).select(
        F.col(id_col).alias("neg_id"),
        _as_double(f"`{vec_col}`").alias("c_vec"),
        F.col(label_col).alias("neg_label"),
    ).select(
        "neg_id",
        "c_vec",
        "neg_label",
        dot("c_vec", "c_vec").alias("__c_n2"),
    )
    scored = (
        cand.crossJoin(F.broadcast(anchors))
        .filter(F.col("neg_label") != F.col("__a_label"))
        .select(
            "anchor_id",
            "neg_id",
            "neg_label",
            (
                dot("q_vec", "c_vec")
                / F.sqrt(F.col("__q_n2") * F.col("__c_n2"))
            ).alias("cosine_sim"),
        )
    )
    if ceiling is not None:
        scored = scored.filter(F.col("cosine_sim") < F.lit(float(ceiling)))
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine_sim"), F.asc("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "neg_id", "neg_label", "cosine_sim", "rank")
    )


def _majority_vote(nn: DataFrame, k: int) -> DataFrame:
    """Shared vote stage of the label-propagation spellings: (query_id,
    __nl) neighbor-label rows → (query_id, predicted_label, votes,
    confidence), majority label with ties toward the smaller label."""
    votes = nn.groupBy("query_id", "__nl").agg(F.count(F.lit(1)).alias("votes"))
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("__nl"))
    return (
        votes.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(
            "query_id",
            F.col("__nl").alias("predicted_label"),
            F.col("votes").cast("long").alias("votes"),
            (F.col("votes").cast("double") / F.lit(float(k))).alias("confidence"),
        )
    )


def knn_label_propagation(
    corpus: DataFrame,
    query_pred,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_queries: Optional[int] = 100_000,
) -> DataFrame:
    """Semi-supervised label propagation: rows selected by ``query_pred``
    are treated as UNLABELED and receive the majority label of their ``k``
    nearest labeled neighbors by cosine (the seed-classifier bootstrap a
    quality-labeling pipeline runs to expand a small human-rated set over
    a crawl; FineWeb-Edu-style).  Ties break toward the smaller label,
    then more votes is always preferred; ``confidence`` is votes/k.

    Returns (query_id, predicted_label, votes, confidence).

    100 TB design: query side broadcasts (label a shard per pass); ONE
    labeled-corpus scan — the neighbor label rides through the top-k
    window instead of being re-joined afterward (the cosine_topk + label
    join spelling pays a third corpus scan), norms fold once per side,
    one vocabulary-sized vote aggregate.  Swap the exact neighbor stage
    for a persisted index when the labeled pool itself is corpus-scale
    (:func:`knn_label_propagation_ivf` — this exact spelling is its
    agreement oracle).  ``max_queries`` makes an unbounded ``query_pred``
    fail loudly BEFORE the broadcast (early-terminating limit+count
    probe); pass ``None`` only when the caller owns the bound.
    """
    _bounded_broadcast_side(
        corpus.filter(query_pred).select(F.col(id_col)),
        max_queries,
        "knn_label_propagation",
        "query_pred",
    )
    queries = corpus.filter(query_pred).select(
        F.col(id_col).alias("query_id"), _as_double(f"`{vec_col}`").alias("q_vec")
    ).select(
        "query_id", "q_vec", dot("q_vec", "q_vec").alias("__q_n2")
    )
    labeled = fanout_small_scan(corpus.filter(~query_pred)).select(
        F.col(id_col),
        _as_double(f"`{vec_col}`").alias("c_vec"),
        F.col(label_col).alias("__nl"),
    ).select(
        id_col, "c_vec", "__nl", dot("c_vec", "c_vec").alias("__c_n2")
    )
    scored = labeled.crossJoin(F.broadcast(queries)).select(
        "query_id",
        id_col,
        "__nl",
        (
            dot("q_vec", "c_vec")
            / F.sqrt(F.col("__q_n2") * F.col("__c_n2"))
        ).alias("__s"),
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("__s"), F.asc(id_col))
    nn = scored.withColumn("__r", F.row_number().over(wk)).filter(F.col("__r") <= k)
    return _majority_vote(nn, k)


def truncated_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: Optional[int] = 100_000,
) -> DataFrame:
    """Matryoshka-style truncated-dimension retrieval: exact cosine top-k
    over only the FIRST ``dim`` components of both sides (MRL embeddings
    front-load information, Kusupati et al. 2022 — so prefix truncation is
    the sanctioned cheap mode).  At 100 TB, halving the scanned dimensions
    halves the ANN fold cost and the index footprint; pair with the recall
    diagnostic (exact top-k vs this) to pick the smallest dim that holds
    recall, exactly like the LSH/IVF/PQ tuning loop.
    """
    if dim < 1:
        raise ValueError("truncated_topk: dim must be >= 1")
    t = lambda df, c: df.withColumn(c, F.slice(F.col(c), 1, dim))  # noqa: E731
    return cosine_topk(
        t(corpus, vec_col),
        t(queries, vec_col),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        max_queries=max_queries,
    )


def hard_negatives_ivf(
    index: DataFrame,
    anchors: DataFrame,
    centroids: List[List[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
    ceiling: Optional[float] = None,
) -> DataFrame:
    """The 100 TB spelling of :func:`hard_negatives`: mine against a
    persisted :func:`ivf_index` built with ``metadata_cols=[label_col]``
    instead of scanning the whole corpus per anchor batch — each anchor
    probes its ``nprobe`` nearest cells (partition-pruned reads on a
    written index) and the cross-label filter runs inside the probed
    cells.  ``anchors`` must carry (anchor_id_col, vec_col, label_col).

    Approximate by construction (a hard negative living outside the
    probed cells is missed); pair with the exact miner's recall
    diagnostic to tune ``nprobe`` before committing — the same
    measure-then-scale loop as the LSH/IVF/PQ retrieval trio.

    Returns (anchor_id, neg_id, neg_label, cosine_sim, rank).
    """
    a = _ivf_probes(
        anchors.select(
            F.col(anchor_id_col).alias("anchor_id"),
            _as_double(f"`{vec_col}`").alias("q_vec"),
            F.col(label_col).alias("__a_label"),
        ),
        centroids,
        nprobe,
    )
    cand = index.select(
        F.col("cell"),
        F.col(id_col).alias("neg_id"),
        F.col("vec").alias("c_vec"),
        F.col(label_col).alias("neg_label"),
    ).withColumn("__c_n2", dot("c_vec", "c_vec"))
    scored = (
        cand.join(F.broadcast(a), on="cell")
        .filter(F.col("neg_label") != F.col("__a_label"))
        .select(
            "anchor_id",
            "neg_id",
            "neg_label",
            _cosine_pre("q_vec", "c_vec").alias("cosine_sim"),
        )
    )
    if ceiling is not None:
        scored = scored.filter(F.col("cosine_sim") < F.lit(float(ceiling)))
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine_sim"), F.asc("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "neg_id", "neg_label", "cosine_sim", "rank")
    )


def knn_label_propagation_ivf(
    index: DataFrame,
    queries: DataFrame,
    centroids: List[List[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """The 100 TB spelling of :func:`knn_label_propagation`: the labeled
    pool lives in a persisted :func:`ivf_index` built with
    ``metadata_cols=[label_col]``, each unlabeled query probes only its
    ``nprobe`` nearest cells (partition-pruned reads on a written index),
    and the majority vote runs over the probed-cell neighbors — so
    labeling against a corpus-scale pool never scans it whole per query
    batch, the same accelerate-by-index move as :func:`hard_negatives_ivf`.
    ``queries`` must carry (query_id_col, vec_col).

    Approximate by construction (a true neighbor outside the probed cells
    is missed, which can flip a close vote); pair with the exact
    spelling's agreement diagnostic to tune ``nprobe`` before committing
    — at ``nprobe = len(centroids)`` the result is IDENTICAL to
    :func:`knn_label_propagation` on the same split (pytest-pinned).

    Returns (query_id, predicted_label, votes, confidence).
    """
    q = _ivf_probes(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            _as_double(f"`{vec_col}`").alias("q_vec"),
        ),
        centroids,
        nprobe,
    )
    cand = index.select(
        F.col("cell"),
        F.col(id_col),
        F.col("vec").alias("c_vec"),
        F.col(label_col).alias("__nl"),
    ).withColumn("__c_n2", dot("c_vec", "c_vec"))
    scored = cand.join(F.broadcast(q), on="cell").select(
        "query_id",
        id_col,
        "__nl",
        _cosine_pre("q_vec", "c_vec").alias("__s"),
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("__s"), F.asc(id_col))
    nn = scored.withColumn("__r", F.row_number().over(wk)).filter(F.col("__r") <= k)
    return _majority_vote(nn, k)


def margin_mining(
    left: DataFrame,
    right: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_left: Optional[int] = 100_000,
) -> DataFrame:
    """Margin-based pair mining (Artetxe & Schwenk 2019, the LASER /
    CCMatrix bitext miner): for each ``left`` row, its best ``right``
    match by RATIO margin — cos(x,y) normalized by the mean cosine of
    each side's ``k`` nearest neighbors — kept only above ``threshold``.
    The margin cancels hubness: a y that is "everyone's neighbor" has a
    high backward degree, so a merely-globally-popular match scores ~1
    while a genuinely mutual match scores well above it.  This is the
    standard aligned-pair miner for parallel-corpus construction and
    cross-source near-duplicate linking over multilingual embeddings.

    Margin is evaluated on x's top-``k`` cosine candidates (the paper's
    retrieve-then-rescore form); backward mining is the same call with
    the frames swapped, and the "intersection" strategy is the inner
    join of the two outputs on (left_id, right_id) — composition, not a
    flag.  Returns (left_id, right_id, cosine_sim, margin), one row per
    left id whose best margin clears ``threshold``.

    Determinism across engines: per-pair cosine is a single identical
    fold in both spellings, and each k-NN degree is accumulated as
    SUM over 1e-9-quantized BIGINTs (the PQ ``_dist2`` idiom) — exact
    integer arithmetic in any row order — so the final margin is ONE
    double division of identical operands, bit-equal to the SQL oracle.

    100 TB design: ``left`` is the broadcast side (a mining batch /
    shard — ``max_left`` fails loudly BEFORE the broadcast, same probe
    as the other miners); ``right`` is scanned once per branch with no
    pre-window shuffle.  Both top-k windows carry a rank-limit, so
    Spark's WindowGroupLimit prunes map-side: the forward branch
    shuffles ≤ k rows per left id per partition, the backward-degree
    branch ≤ k rows per right id — never the |left|x|right| pair frame.
    For corpus-scale RIGHT sides, mine against a persisted index with
    :func:`margin_mining_ivf` (partition-pruned probes — the
    :func:`hard_negatives_ivf` move); for corpus-scale left sides,
    shard the calls.

    Deliberate cost: the two branches each fold the pair cosines (2x
    fold work, 2 corpus scans).  The single-scan alternative — ship
    ``left`` as a driver-collected matrix column and compute each y's
    backward degree scan-locally — was evaluated and rejected: it turns
    the 55 MB *frame* broadcast into a driver-side Python matrix
    (~400 MB at the 100k bound), capping practical batch size an order
    of magnitude lower.  Fold work is embarrassingly parallel; batch
    headroom is the scarcer resource.
    """
    _bounded_broadcast_side(
        left.select(F.col(id_col)), max_left, "margin_mining", "left"
    )
    l = left.select(
        F.col(id_col).alias("left_id"), _as_double(f"`{vec_col}`").alias("q_vec")
    ).select(
        "left_id", "q_vec", dot("q_vec", "q_vec").alias("__q_n2")
    )
    r = fanout_small_scan(right).select(
        F.col(id_col).alias("right_id"), _as_double(f"`{vec_col}`").alias("c_vec")
    ).select(
        "right_id", "c_vec", dot("c_vec", "c_vec").alias("__c_n2")
    )

    def pairs() -> DataFrame:
        # norms folded once per side (see cosine_topk); the pair stage is
        # one dot fold + one sqrt per (x, y)
        return r.crossJoin(F.broadcast(l)).select(
            "left_id",
            "right_id",
            (
                dot("q_vec", "c_vec")
                / F.sqrt(F.col("__q_n2") * F.col("__c_n2"))
            ).alias("cos"),
        )

    return _margin_rescore(pairs, k, threshold)


def _margin_rescore(pairs, k: int, threshold: float) -> DataFrame:
    """Shared retrieve-then-rescore tail of the margin miners
    (:func:`margin_mining` / :func:`margin_mining_ivf`): forward top-k +
    both-side 1e-9-quantized BIGINT degree means + best-by-margin
    threshold filter over a ``pairs()`` builder yielding
    (left_id, right_id, cos).  One shared body means the two spellings
    are arithmetically IDENTICAL by construction — the
    ``nprobe = n_cells ≡ exact`` parity pin tests geometry, not two
    divergent margin implementations."""
    qcos = F.floor(F.col("cos") * F.lit(1000000000.0) + F.lit(0.5)).cast("long")
    wx = Window.partitionBy("left_id").orderBy(F.desc("cos"), F.asc("right_id"))
    fwd = (
        pairs()
        .withColumn("__rx", F.row_number().over(wx))
        .filter(F.col("__rx") <= k)
        .select("left_id", "right_id", "cos", qcos.alias("__cq"))
    )
    degx = fwd.groupBy("left_id").agg(
        F.sum("__cq").alias("__dx"), F.count(F.lit(1)).alias("__nx")
    )
    wy = Window.partitionBy("right_id").orderBy(F.desc("cos"), F.asc("left_id"))
    degy = (
        pairs()
        .withColumn("__ry", F.row_number().over(wy))
        .filter(F.col("__ry") <= k)
        .select("right_id", qcos.alias("__cq"))
        .groupBy("right_id")
        .agg(F.sum("__cq").alias("__dy"), F.count(F.lit(1)).alias("__ny"))
    )
    margin = (F.lit(2.0) * F.col("__cq").cast("double")) / (
        F.col("__dx").cast("double") / F.col("__nx").cast("double")
        + F.col("__dy").cast("double") / F.col("__ny").cast("double")
    )
    wbest = Window.partitionBy("left_id").orderBy(F.desc("margin"), F.asc("right_id"))
    return (
        fwd.join(F.broadcast(degx), "left_id")
        .join(degy, "right_id")
        .withColumn("margin", margin)
        .withColumn("__rb", F.row_number().over(wbest))
        .filter((F.col("__rb") == 1) & (F.col("margin") >= F.lit(float(threshold))))
        .select(
            "left_id", "right_id", F.col("cos").alias("cosine_sim"), "margin"
        )
    )


def margin_mining_ivf(
    index: DataFrame,
    left: DataFrame,
    centroids: List[List[float]],
    k: int = 4,
    threshold: float = 1.05,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_left: Optional[int] = 100_000,
    where=None,
) -> DataFrame:
    """The 100 TB spelling of :func:`margin_mining`: the candidate
    (right) pool lives in a persisted :func:`ivf_index`, each left/query
    vector probes only its ``nprobe`` nearest cells (partition-pruned
    reads on a written index), and the whole margin rescore runs over
    the probed pair frame — so bitext/aligned-pair mining against a
    corpus-scale right side never scans it whole per batch, and the
    mining batch size is no longer capped by what a full-corpus
    broadcast scan can afford (the :func:`hard_negatives_ivf` move).

    Approximate in TWO places, by construction: a true match outside
    the probed cells is missed (retrieval), and each side's k-NN degree
    mean is computed over the probed pairs only, so a margin can differ
    even when the best match is found (rescore).  Pair with the exact
    miner's agreement diagnostic to tune ``nprobe`` before committing —
    at ``nprobe = len(centroids)`` the probed pair frame is the full
    cross product and the result is IDENTICAL to :func:`margin_mining`
    on the same split (pytest-pinned; the rescore tail is literally the
    same code, :func:`_margin_rescore`).

    Returns (left_id, right_id, cosine_sim, margin), one row per left
    id whose best probed margin clears ``threshold``.

    ``where`` filters candidates on index metadata columns BEFORE the
    probe join (e.g. mine only against one language/source of a mixed
    pool) — on a persisted index the predicate reaches parquet
    row-group pushdown inside the probed-cell partitions, the
    :func:`ivf_query`/:func:`ann_query` filtered-search contract.  The
    degree means then describe the FILTERED pool, which is exactly the
    population being mined against.
    """
    if where is not None:
        index = index.filter(where)
    _bounded_broadcast_side(
        left.select(F.col(id_col)), max_left, "margin_mining_ivf", "left"
    )
    probes = _ivf_probes(
        left.select(
            F.col(id_col).alias("left_id"),
            _as_double(f"`{vec_col}`").alias("q_vec"),
        ),
        centroids,
        nprobe,
    )
    cand = index.select(
        F.col("cell"),
        F.col(id_col).alias("right_id"),
        F.col("vec").alias("c_vec"),
    ).withColumn("__c_n2", dot("c_vec", "c_vec"))

    def pairs() -> DataFrame:
        # each right row lives in exactly one cell and each left probes
        # distinct cells, so a (left, right) pair forms at most once —
        # no dedup stage needed before the rescore
        return cand.join(F.broadcast(probes), on="cell").select(
            "left_id",
            "right_id",
            _cosine_pre("q_vec", "c_vec").alias("cos"),
        )

    return _margin_rescore(pairs, k, threshold)


def sq_bounds(corpus: DataFrame, vec_col: str = "embedding") -> List[List[float]]:
    """Per-dimension [min, max] over the corpus — the scalar-quantization
    training artifact (2 x dim doubles; the PQ-codebook/IVF-centroid
    bounded-collect pattern).  One corpus scan: posexplode into a
    dim-domain-sized map-side-combinable min/max aggregate.  min/max are
    order-independent, so the artifact is exact and layout-independent
    (no quantized-sum machinery needed, unlike the degree/distance
    folds)."""
    rows = (
        corpus.select(F.posexplode(_as_double(f"`{vec_col}`")).alias("i", "v"))
        .groupBy("i")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("i")
        .collect()
    )
    return [[float(r["mn"]), float(r["mx"])] for r in rows]


def _sq_lo_hi(df: DataFrame, bounds: List[List[float]]):
    d = _matrix_frame(df, "__sq_lo", [b[0] for b in bounds], 1)
    return _matrix_frame(d, "__sq_hi", [b[1] for b in bounds], 1)


def sq_index(
    corpus: DataFrame,
    bounds: List[List[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 255,
) -> DataFrame:
    """Int8 scalar-quantized (SQ) embedding index: each component maps to
    its 0..255 grid position inside that DIMENSION's [min, max] from
    :func:`sq_bounds`, stored CENTERED as ``array<tinyint>`` (code−128 —
    a true 1-byte element in Tungsten/parquet, the honest 4x memory cut
    vs float32 that makes a 100 TB embedding store fit a 25 TB one).
    The third leg of the compression trio: PQ trades accuracy for
    codebook lookups, Matryoshka for fewer dims, SQ for 8-bit grids —
    :func:`sq_query`'s recall diagnostic picks per corpus.

    A constant dimension (max == min) has no scale and codes to 0;
    out-of-bounds values (encoding rows unseen at training) clamp to
    the grid edge.  Persist like the other indexes; re-encode only when
    the bounds artifact is retrained.  ``levels`` (2..255, default the
    full int8 grid) coarsens the grid — 15 is the 4-bit configuration
    two SQ codes would share a byte under; use it to stress the recall
    diagnostic where the full grid is indistinguishable from exact.
    """
    if not (2 <= int(levels) <= 255):
        raise ValueError("sq_index: levels must be in 2..255")
    df = corpus.select(F.col(id_col), _as_double(f"`{vec_col}`").alias("__v"))
    code = F.transform(
        F.col("__v"),
        lambda x, i: F.when(
            F.element_at(F.col("__sq_hi"), i + 1)
            == F.element_at(F.col("__sq_lo"), i + 1),
            F.lit(0),
        )
        .otherwise(
            F.least(
                F.greatest(
                    F.floor(
                        (x - F.element_at(F.col("__sq_lo"), i + 1))
                        / (
                            F.element_at(F.col("__sq_hi"), i + 1)
                            - F.element_at(F.col("__sq_lo"), i + 1)
                        )
                        * F.lit(float(levels))
                        + F.lit(0.5)
                    ).cast("int"),
                    F.lit(0),
                ),
                F.lit(int(levels)),
            )
        )
        .cast("int"),
    )
    return _sq_lo_hi(df, bounds).select(
        id_col,
        F.transform(code, lambda c: (c - F.lit(128)).cast("tinyint")).alias("codes"),
        # grid stamp: decoding at a different `levels` is silently-wrong
        # arithmetic — sq_query asserts this column in one bounded
        # pre-check (RLE'd to nothing in parquet, a min/max agg at
        # query-build time).  The value ALSO rides the column's schema
        # metadata (Spark persists it through parquet round-trips), so
        # sq_query validates driver-side with ZERO jobs on any index
        # this builder produced (r14 — the distinct job cost 0.65 s of
        # the sq_recall cell per call); the row stamp stays as the
        # fallback for indexes whose metadata a foreign writer dropped.
        F.lit(int(levels))
        .cast("int")
        .alias("sq_levels", metadata={"sq_levels": int(levels)}),
    )


def sq_query(
    index: DataFrame,
    queries: DataFrame,
    bounds: List[List[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    levels: int = 255,
) -> DataFrame:
    """Asymmetric SQ retrieval (the ADC convention): full-precision
    queries score against the DEQUANTIZED index — each stored code
    expands to its grid midpoint ``lo + code/255·(hi−lo)`` inside the
    scan projection (never materialized), then the exact
    :func:`cosine_topk` machinery runs unchanged (broadcast queries,
    norms folded once, deterministic ties).  Quantization error is the
    whole approximation; measure it with recall@k vs :func:`cosine_topk`
    before committing the 4x-smaller index, the LSH/IVF/PQ/MRL loop."""
    dq = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at(F.col("__sq_lo"), i + 1)
        + (c.cast("double") + F.lit(128.0))
        / F.lit(float(levels))
        * (
            F.element_at(F.col("__sq_hi"), i + 1)
            - F.element_at(F.col("__sq_lo"), i + 1)
        ),
    )
    if "sq_levels" in index.columns:
        # grid check: a mismatched `levels` is silently-wrong arithmetic,
        # not an error Spark would ever raise on its own.  One bounded
        # pre-check over the stamp column ALONE — column pruning drops
        # the sibling encode expressions from the projection, so even an
        # unwritten sq_index(...) pipeline pays a cheap literal-column
        # pass here, never a second encode (review r9); on a written
        # index the RLE'd constant reads next to nothing.  Replaces the
        # per-row when/raise_error branch (VERDICT r8 #4): same loud
        # failure, zero per-row decode cost.  Fast path (r14): every
        # index sq_index builds carries the stamp in the column's schema
        # metadata too (survives parquet round-trips), so the common
        # case is a driver-side compare with NO job; the row-level
        # distinct check remains for stamps without metadata.
        md = index.schema["sq_levels"].metadata or {}
        stamp_md = md.get("sq_levels")
        if stamp_md is not None:
            if int(stamp_md) != int(levels):
                raise ValueError(
                    f"sq_query: index encoded at levels={int(stamp_md)}, "
                    f"decode requested levels={int(levels)}"
                )
            # Schema metadata reflects ONE builder call: a union of
            # indexes built at different `levels` keeps the left side's
            # stamp, so a metadata match must not skip the row guard
            # (ADVICE r14 medium — silently-wrong decode arithmetic is
            # exactly what the stamp exists to catch).  Guard each row
            # INSIDE the decode projection instead of a separate job:
            # one RLE-cheap int comparison per row, zero extra driver
            # actions, loud at execution on any mixed-builder frame.
            dq = F.when(F.col("sq_levels") == F.lit(int(levels)), dq).otherwise(
                F.raise_error(
                    F.lit(
                        "sq_query: index row encoded at a different "
                        f"sq_levels than the decode's levels={int(levels)}"
                        " — composed/unioned indexes must share one grid"
                    )
                )
            )
        else:
            got = sorted(
                r["sq_levels"]
                for r in index.select("sq_levels").distinct().collect()
            )
            if got and got != [int(levels)]:
                stamp = str(got[0]) if len(got) == 1 else f"{got[0]}..{got[-1]}"
                raise ValueError(
                    f"sq_query: index encoded at levels={stamp}, "
                    f"decode requested levels={int(levels)}"
                )
    corpus = _sq_lo_hi(index, bounds).select(F.col(id_col), dq.alias(vec_col))
    return cosine_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )


def gram_matrix(
    corpus: DataFrame,
    vec_col: str = "embedding",
    quantize: float = 1e6,
) -> DataFrame:
    """Second-moment (Gram) and covariance matrices of an embedding
    column as (i, j, n, gram, cov) rows over the upper triangle — the
    embedding-health precursor: a covariance spectrum collapsing onto a
    few directions is the standard anisotropy/embedding-collapse
    diagnostic, and its eigenbasis (:func:`pca_basis`) drives
    whitening/dimensionality reduction (:func:`pca_project`).

    Determinism: each component is quantized to ``1/quantize`` BIGINTs
    inside the scan, so every pair product and dimension sum is EXACT
    integer arithmetic in any row order (gram = sum qv_i*qv_j / quantize^2).
    The covariance's mean-product term si*sj is then ONE double multiply
    of those exact integers — bit-identical across engines and layouts
    (a full value oracle, not a tolerance pin), though itself rounded
    once n pushes si*sj past 2^53.  With values O(1) and the 1e6
    default, pair products stay <= 1e12 and their sums safely inside
    BIGINT up to ~1e6 rows per aggregation; lower ``quantize`` for
    larger corpora (the granularity is a defined part of the statistic,
    like the TVD sums).

    Scale: ONE corpus scan — each row explodes its d(d+1)/2 upper-
    triangle products in-scan into a map-side-combinable sum whose
    shuffle is the d²-domain, never rows; the per-dimension sums ride
    the same aggregate as the j = i diagonal plus a d-domain explode.

    Implemented as :func:`gram_ledger` (the mergeable exact-integer
    state) + :func:`_gram_finalize` (the statistic derivation), so the
    one-pass and merged-ledger spellings are literally the same code.
    """
    return _gram_finalize(gram_ledger(corpus, vec_col, quantize), quantize)


def _gram_finalize(ledger: DataFrame, quantize: float) -> DataFrame:
    """(i, j, n, sp, si, sj) exact-integer moment state → the published
    (i, j, n, gram, cov) rows — shared by the one-pass
    :func:`gram_matrix` and the merged-ledger path, so the two spellings
    cannot diverge in derivation."""
    n = F.col("n").cast("double")
    q2 = F.lit(float(quantize) * float(quantize))
    gram = F.col("sp").cast("double") / q2 / n
    cov = (
        F.col("sp").cast("double")
        - F.col("si").cast("double") * F.col("sj").cast("double") / n
    ) / q2 / n
    return ledger.select(
        "i", "j", F.col("n").cast("long").alias("n"),
        gram.alias("gram"), cov.alias("cov"),
    )


def gram_ledger(
    corpus: DataFrame,
    vec_col: str = "embedding",
    quantize: float = 1e6,
) -> DataFrame:
    """The MERGEABLE form of :func:`gram_matrix` — the moment ledger that
    completes the monitoring-ledger family (HLL novelty, histogram
    quantiles, heavy hitters, second moments): per upper-triangle cell,
    the exact-integer state (i, j, n, sp, si, sj) with ``sp/si/sj`` the
    quantized pair-product and per-dimension sums.  All four fields are
    ADDITIVE integers, so per-batch/per-shard snapshots union and re-sum
    (:func:`gram_from_ledgers`) into EXACTLY the state one pass over the
    concatenated corpus would produce — bit-identical gram/cov, no
    corpus rescan when a new batch lands, and an incremental-PCA loop
    (ledger += batch → :func:`pca_basis` on the merged artifact) at the
    cost of a d²-domain merge.

    Same one-scan shape and BIGINT-headroom arithmetic as
    :func:`gram_matrix` (its docstring's bounds apply per MERGED total,
    not per snapshot — quantize governs the end state)."""
    corpus = fanout_small_scan(corpus)
    # the whole quantize → upper-triangle pair-product expansion as ONE
    # JVM-parsed SQL string (r15, guide §7.3): the 4-deep nested-lambda
    # Column spelling cost ~40 py4j round-trips per build.  Identical
    # tree — same _let binding (element_at(transform(array(...)), 1)),
    # same casts, same struct fields; values pinned by the gram oracles.
    q = float(quantize)
    qv_sql = (
        f"transform(transform(`{vec_col}`, x -> CAST(x AS DOUBLE)), "
        f"x -> CAST(floor(x * {q!r}D + 0.5D) AS BIGINT))"
    )
    d_pairs = F.expr(
        f"element_at(transform(array({qv_sql}), v -> flatten("
        "transform(sequence(0, size(v) - 1), i -> "
        "transform(sequence(i, size(v) - 1), j -> struct("
        "CAST(i AS INT) AS i, CAST(j AS INT) AS j, "
        "(element_at(v, i + 1) * element_at(v, j + 1)) AS p, "
        "element_at(v, i + 1) AS vi, "
        "element_at(v, j + 1) AS vj))))), 1)"
    )
    return (
        corpus.select(F.explode(d_pairs).alias("e"))
        .groupBy(F.col("e.i").alias("i"), F.col("e.j").alias("j"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("e.p").cast("long").alias("sp"),
            F.sum("e.vi").cast("long").alias("si"),
            F.sum("e.vj").cast("long").alias("sj"),
        )
    )


def gram_from_ledgers(
    ledgers: DataFrame, quantize: float = 1e6
) -> DataFrame:
    """Merge stacked :func:`gram_ledger` snapshots (any number, any
    extra snapshot columns ignored) into the (i, j, n, gram, cov) rows
    :func:`gram_matrix` would produce over the concatenated corpora —
    exact integers in, bit-identical statistics out.  Ledger-domain
    work only: the merge shuffles d(d+1)/2 rows per snapshot, never
    corpus rows."""
    merged = ledgers.groupBy("i", "j").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sp").cast("long").alias("sp"),
        F.sum("si").cast("long").alias("si"),
        F.sum("sj").cast("long").alias("sj"),
    )
    return _gram_finalize(merged, quantize)


def pca_basis(gram_rows, dim: int, top_k: Optional[int] = None):
    """Eigen-decompose collected :func:`gram_matrix` rows (driver-side
    numpy over the d x d matrix — d², not corpus-sized; the
    centroid/codebook bounded-artifact pattern): returns
    (components, eigenvalues) with components[k] the k-th principal
    axis (descending eigenvalue), using the COVARIANCE entries.  The
    eigenvalue spectrum IS the anisotropy report — a top-1 share near 1
    means the embedding space has collapsed onto a line."""
    import numpy as np

    m = np.zeros((dim, dim))
    for r in gram_rows:
        m[r["i"], r["j"]] = m[r["j"], r["i"]] = r["cov"]
    w, v = np.linalg.eigh(m)
    order = np.argsort(w)[::-1]
    k = top_k or dim
    comps = [[float(x) for x in v[:, o]] for o in order[:k]]
    return comps, [float(w[o]) for o in order[:k]]


def pca_project(
    df: DataFrame,
    components,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project embeddings onto a :func:`pca_basis` (dimensionality
    reduction / whitening precursor): appends ``out_col`` with k = 
    len(components) coordinates.  The basis ships as ONE broadcast
    nested-array column (the RHP-plane pattern) and the projection is a
    scan-local fold per output coordinate — zero shuffle, no UDF."""
    d = _matrix_frame(
        df, "__pca_b", [[float(x) for x in c] for c in components], 2
    )
    # one JVM-side parse of the per-coordinate fold (builder-cost note on
    # :func:`dot`; the lambda spelling cost ~60 py4j round-trips per build)
    proj = F.expr(
        "transform(__pca_b, comp -> aggregate(zip_with(comp, "
        f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE)), "
        "(x, y) -> x * y), 0.0D, (acc, v) -> acc + v))"
    )
    return d.select(*df.columns, proj.alias(out_col))

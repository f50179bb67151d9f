"""Similarity search over embedding columns (``array<float>``).

* brute-force cosine top-k — the exact baseline: query set x corpus via a
  broadcast join, dot/norms with F.zip_with + F.aggregate (JVM-side), window
  top-k.  Exact but O(|Q| * N) — fine when the query set is small/broadcast.
* LSH-bucketed cosine      — the scale path: random-hyperplane signatures
  (deterministic pseudo-planes derived from dimension index) bucket the
  corpus; queries only compare within their bucket.  Approximate, near-linear.

Scale notes: the corpus side never collects; broadcasting the (small) query
set keeps the big side shuffle-free.  For 100 TB of embeddings the
LSH variant shuffles once on the bucket key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _f64(col: Column) -> Column:
    """Cast array<float> -> array<double> so both engines (and the oracle)
    compute in the same precision."""
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product as a strict LEFT FOLD: ((0.0 + a0*b0) + a1*b1) + ...

    ``dim=None``: the generic higher-order-function form — works for any
    array length, but HOFs are CodegenFallback (interpreted per element),
    which dominates wall time when the dot runs once per CANDIDATE PAIR
    (knn_graph scored ~12M pairs x 64 dims interpreted at sf1.0).

    ``dim=k``: the expression is unrolled to ``lit(0.0) + a[0]*b[0] + ...``
    — plain GetArrayItem/Multiply/Add nodes.  The additions associate left
    exactly like the fold and every op is the same IEEE double op, so
    results are BIT-IDENTICAL to the HOF form.  Requires every array to
    have exactly ``dim`` elements (a shorter array raises under ANSI where
    the HOF form yields NULL).

    CAUTION (measured, round 6): at dim=64 the unrolled form generates a
    >8KB-bytecode method that HotSpot's DontCompileHugeMethods leaves in
    the bytecode interpreter (~60us/eval); it beats the HOF form (~2x) but
    loses badly to compiled code.  For per-PAIR hot paths use the
    mapInArrow numpy fold (:func:`_pair_cosine_arrow`) instead — this
    unrolled form is only for per-ROW projections where the eval count is
    O(N)."""
    if dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    out = F.lit(0.0)
    for i in range(dim):
        out = out + a[i].cast("double") * b[i].cast("double")
    return out


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine similarity with a zero-norm guard: a zero vector has no
    direction, so its similarity to anything is 0.0 — without the guard,
    Spark 4 ANSI mode aborts the whole job with DIVIDE_BY_ZERO, and with
    ANSI off the NaN result sorts ABOVE every real score, ranking the zero
    vector as everyone's top neighbor."""
    den = norm(a, dim) * norm(b, dim)
    return F.when(den == 0, F.lit(0.0)).otherwise(dot(a, b, dim) / den)


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is small -> broadcast; corpus streams through one stage;
    per-query top-k via window row_number (score desc, id asc tie-break).
    Self-matches (same id) are excluded.

    Norms are hoisted into per-ROW projections below the join: higher-order
    array functions are interpreted (CodegenFallback), so computing them per
    PAIR costs |Q| * N traversals where N + |Q| suffice.  The score keeps the
    exact expression shape dot/(qn*cn) — bit-identical to the inline form
    (and to the oracle's list_cosine_similarity)."""
    # dim known -> keep the RAW (float) array: the unrolled expressions cast
    # per ELEMENT (exact float->double widening, so bit-identical to the
    # _f64 array), which skips the interpreted transform() Project and
    # halves the bytes the join carries (guide: narrower types)
    vexpr = F.col(vec_col) if dim is not None else _f64(F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias("query_id"), vexpr.alias("qv")
    ).select("query_id", "qv", norm(F.col("qv"), dim).alias("qn"))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), vexpr.alias("cv")
    ).select("neighbor_id", "cv", norm(F.col("cv"), dim).alias("cn"))
    den = F.col("qn") * F.col("cn")
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.when(den == 0, F.lit(0.0)).otherwise(
                    dot(F.col("qv"), F.col("cv"), dim) / den
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _pseudo_plane_sign(
    vec: Column, plane_idx: int, dim: int | None = None
) -> Column:
    """Sign of <vec, r_p> where r_p is a deterministic pseudo-random
    hyperplane via the FULL shader-noise hash:
    ``r_p[d] = fract(sin(p*12.9898 + d*78.233) * 43758.5453) * 2 - 1``.

    The ``fract(sin(.) * 43758.5453)`` step is essential, not cosmetic:
    bare ``sin(p*a + d*b)`` planes are all linear combinations of the same
    two basis vectors ``(sin(d*b), cos(d*b))``, so every plane normal lives
    in ONE 2-D subspace and n planes cut it into at most 2n sectors — we
    measured exactly 20 distinct buckets at n_planes=10 (instead of up to
    1024), inflating LSH candidate volume ~50x at scale.  Multiplying by a
    large constant and taking the fractional part decorrelates dimensions
    (the classic GLSL hash) while staying exactly reproducible in any
    engine: sin/floor are IEEE-deterministic double ops.

    ``dim=k`` unrolls the projection (same bit-exact left-fold contract as
    :func:`dot`); the per-dimension plane coefficient then depends only on
    LITERALS, so Catalyst constant-folds it at plan time — the whole sign
    becomes one codegen multiply-add chain with baked-in coefficients,
    where the HOF form re-evaluates sin/floor per element interpreted."""
    if dim is None:
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda x, d: x
                * (
                    (
                        lambda v: (v - F.floor(v)) * 2 - 1
                    )(
                        F.sin(
                            F.lit(float(plane_idx)) * 12.9898
                            + d.cast("double") * 78.233
                        )
                        * 43758.5453
                    )
                ),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return (proj >= 0).cast("int")
    proj = F.lit(0.0)
    for d in range(dim):
        s = (
            F.sin(
                F.lit(float(plane_idx)) * 12.9898
                + F.lit(d).cast("double") * 78.233
            )
            * 43758.5453
        )
        proj = proj + vec[d].cast("double") * ((s - F.floor(s)) * 2 - 1)
    return (proj >= 0).cast("int")


def lsh_bucket(
    vec: Column, n_planes: int = 8, table: int = 0, dim: int | None = None
) -> Column:
    """Random-hyperplane LSH bucket id: n_planes sign bits packed to int.
    ``table`` selects an independent plane family (multi-table LSH)."""
    out = F.lit(0)
    for p in range(n_planes):
        out = out + _pseudo_plane_sign(vec, table * 1000 + p, dim) * F.lit(1 << p)
    return out


def cosine_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: the corpus is inverted-list-partitioned
    by nearest centroid; each query scores only the lists of its ``n_probe``
    nearest centroids.

    Centroids are a deterministic pseudo-random sample: the ``n_centroids``
    rows with the smallest ``md5(id)`` — a stand-in for k-means that is
    reproducible in ANY engine (the oracle replicates it verbatim); swap in
    trained centroids at production scale.

    Scale design — no driver-side materialization anywhere: the sample is
    ``orderBy(md5).limit(n)`` (``TakeOrderedAndProject``: per-partition
    partial top-k, no global sort, no ``count()``); the centroid set is
    folded to ONE row via ``collect_list`` and broadcast-crossJoined, so
    centroid assignment is a single narrow pass over the corpus (no
    ``collect()``, no per-row literal expansion, no unpartitioned Window)."""
    vexpr = F.col(vec_col) if dim is not None else _f64(F.col(vec_col))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), vexpr.alias("cv")
    )
    centroids = (
        c.select(
            F.col("neighbor_id").alias("cid"),
            F.col("cv").alias("centroid"),
            F.md5(F.col("neighbor_id").cast("string")).alias("h"),
        )
        .orderBy("h", "cid")
        .limit(n_centroids)
    )
    cent_row = centroids.agg(
        F.collect_list(F.struct(F.col("cid"), F.col("centroid"))).alias("cents")
    )

    def nearest_lists(vec: Column, probe: int) -> Column:
        """ids of the ``probe`` nearest centroids (by cosine) as an array.
        Sort key = (-score rounded to 6, cid): descending by similarity,
        ascending id tie-break — rounded so both engines agree at float
        boundaries."""
        scored = F.transform(
            F.col("cents"),
            lambda ct: F.struct(
                (-F.round(cosine(vec, ct.getField("centroid"), dim), 6)).alias("negs"),
                ct.getField("cid").alias("cid"),
            ),
        )
        top = F.slice(F.array_sort(scored), 1, probe)
        return F.transform(top, lambda t: t.getField("cid"))

    corpus = (
        c.crossJoin(F.broadcast(cent_row))
        .withColumn("list_id", nearest_lists(F.col("cv"), 1)[0])
        .drop("cents")
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), vexpr.alias("qv")
        )
        .crossJoin(F.broadcast(cent_row))
        .withColumn("probe", nearest_lists(F.col("qv"), n_probe))
        .drop("cents")
    )
    q = q.select("query_id", "qv", F.explode("probe").alias("list_id"))
    scored = (
        corpus.join(F.broadcast(q), on="list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv"), dim), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def cosine_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_planes: int | None = 8,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 32,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: only corpus vectors sharing an LSH bucket with the
    query (in ANY of ``n_tables`` independent plane families) are scored.
    Multiple tables are the standard recall fix for boundary flips — a
    near-identical pair split by one table's near-zero projection is joined
    by another table.  Each table's join is on its bucket key; candidates
    dedupe before scoring, so cost ~ n_tables * N/2^n_planes per query.
    ``n_planes=None`` auto-scales the signature width to the CORPUS size
    (same :func:`auto_n_planes` lever as :func:`knn_graph` — per-query
    candidate volume stays ~``target_bucket`` per table at any N)."""
    if n_planes is None:
        n_planes = auto_n_planes(
            embeddings.select(id_col).count(), target_bucket=target_bucket
        )

    vexpr = F.col(vec_col) if dim is not None else _f64(F.col(vec_col))
    npart = embeddings.sparkSession.sparkContext.defaultParallelism * 2
    # query side is small (broadcast) — no spread; corpus side is the probe
    # and gets the cluster-derived spread (see _with_tb)
    q = _with_tb(
        queries.select(F.col(id_col).alias("query_id"), vexpr.alias("qv")),
        "qv",
        n_planes,
        n_tables,
        dim,
    )
    c = _with_tb(
        embeddings.select(F.col(id_col).alias("neighbor_id"), vexpr.alias("cv")),
        "cv",
        n_planes,
        n_tables,
        dim,
        spread_to=npart,
    )
    # score BEFORE deduping so the dedup shuffle carries scalars, not the
    # two d-dim vectors (same fat-shuffle fix as knn_graph — see ledger)
    scored = (
        c.join(F.broadcast(q), on=["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv"), dim), 6).alias("score"),
        )
        .repartition(F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _pair_cosine_arrow(dim: int, mirror: bool = False):
    """mapInArrow scorer for candidate pairs ``(src_id, nbr_id, av, bv)``
    -> ``(src_id, nbr_id, score)`` where score is the UNROUNDED cosine.

    ``mirror=True``: the caller fed only ``src < nbr`` pairs (half the
    join output and half the Arrow transfer) and the kernel emits BOTH
    orders with the same score — valid because the bucket self-join's
    candidate set is exactly symmetric and the cosine is, too.

    BIT-IDENTICAL to the Column form ``when(den==0, 0.0)
    .otherwise(dot(av,bv)/ (norm(av)*norm(bv)))``: elements widen
    float->double exactly, the three folds (dot, |a|^2, |b|^2) accumulate
    left-to-right from 0.0 exactly like the JVM fold, and sqrt/multiply/
    divide are single IEEE-754 double ops in both runtimes.  numpy
    evaluates each fold step as one elementwise vector op across the
    batch, so the per-pair cost is ~ns instead of the interpreted-
    expression ~60us (see knn_graph)."""

    def score_batches(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n_rows = batch.num_rows
            av = batch.column("av")
            bv = batch.column("bv")
            A = np.asarray(av.flatten(), dtype=np.float64).reshape(n_rows, dim)
            B = np.asarray(bv.flatten(), dtype=np.float64).reshape(n_rows, dim)
            acc = np.zeros(n_rows)
            na = np.zeros(n_rows)
            nb = np.zeros(n_rows)
            for i in range(dim):
                acc = acc + A[:, i] * B[:, i]
                na = na + A[:, i] * A[:, i]
                nb = nb + B[:, i] * B[:, i]
            den = np.sqrt(na) * np.sqrt(nb)
            score = np.zeros(n_rows)
            np.divide(acc, den, out=score, where=den != 0.0)
            s_arr = pa.array(score)
            src = batch.column("src_id")
            nbr = batch.column("nbr_id")
            if mirror:
                yield pa.record_batch(
                    [
                        pa.concat_arrays([src, nbr]),
                        pa.concat_arrays([nbr, src]),
                        pa.concat_arrays([s_arr, s_arr]),
                    ],
                    names=["src_id", "nbr_id", "score"],
                )
            else:
                yield pa.record_batch(
                    [src, nbr, s_arr], names=["src_id", "nbr_id", "score"]
                )

    return score_batches


def _bucket_topk_cosine_arrow(dim: int, k: int, id_arrow_type,
                              margin: float = 2e-6):
    """mapInArrow scorer over bucket GROUPS ``(items: list<struct<id,v>>)``
    -> per-source candidate rows ``(src_id, nbr_id, score)``.

    Replaces the join-then-score shape on two axes at once:

    * **Arrow volume** — the self-join ships two d-dim vectors per
      CANDIDATE PAIR (``O(pairs * d)`` bytes; 3.4 GB at 20k vectors /
      6 planes / 2 tables).  Grouping by ``(table, bucket)`` ships each
      vector ONCE per table (``O(N * n_tables * d)``, ~20 MB same corpus).
    * **Downstream rows** — the kernel computes the bucket's full score
      matrix and emits, per source row, only candidates that can still
      reach the global top-``k``: everything scoring at least
      ``(k-th best unrounded in this bucket) - margin``.  The engine-facing
      ``round(score, 6)`` happens in Spark AFTER the kernel and moves a
      score by at most 5e-7, so any pair the global rounded-order window
      could rank above the k-th must be within 1e-6 of the bucket's k-th
      unrounded score — ``margin=2e-6`` keeps a strict superset, and the
      unchanged downstream dedup + window does the exact final selection.
      Rows into the post-kernel shuffle drop from O(pairs) (13.8M at
      sf1.0) to ~``N * n_tables * k``.

    Score arithmetic is BIT-IDENTICAL to the pair fold
    (:func:`_pair_cosine_arrow`): the Gram matrix accumulates rank-1
    outer products in dim order, so each ``G[r, c]`` is the same
    left-to-right IEEE double fold ``((0 + a0*b0) + a1*b1) + ...``; norms
    fold in the same order, and ``sqrt(na) * sqrt(nb)`` / guarded divide
    are the same single IEEE ops.  Per-group memory is one ``b x b``
    matrix — bounded in practice because the quadratic score cost makes
    oversized buckets infeasible long before their matrix does
    (``auto_n_planes`` is the occupancy lever)."""

    def score_batches(batches):
        import numpy as np
        import pyarrow as pa

        empty_ids = pa.array([], type=id_arrow_type)

        def emit(src, nbr, score):
            return pa.record_batch(
                [src, nbr, score], names=["src_id", "nbr_id", "score"]
            )

        for batch in batches:
            items = batch.column("items")
            offs = np.asarray(items.offsets)
            structs = items.flatten()
            ids_all = structs.field("id")
            vecs = np.asarray(
                structs.field("v").flatten(), dtype=np.float64
            ).reshape(len(structs), dim)
            out_any = False
            for g in range(batch.num_rows):
                lo, hi = int(offs[g]), int(offs[g + 1])
                b = hi - lo
                if b < 2:
                    continue
                V = vecs[lo:hi]
                # exact-order Gram + norms: accumulate one rank-1 outer
                # product per dimension, left-to-right — bit-identical to
                # the per-pair fold
                G = np.zeros((b, b))
                n2 = np.zeros(b)
                for i in range(dim):
                    col = V[:, i]
                    G += np.multiply.outer(col, col)
                    n2 = n2 + col * col
                rt = np.sqrt(n2)
                den = np.multiply.outer(rt, rt)
                S = np.zeros((b, b))
                np.divide(G, den, out=S, where=den != 0.0)
                np.fill_diagonal(S, -np.inf)
                if b - 1 <= k:
                    thresh = np.full(b, -np.inf)
                else:
                    # k-th largest per row (unrounded), minus the rounding
                    # margin
                    part = np.partition(S, b - k, axis=1)[:, b - k]
                    thresh = part - margin
                keep = S >= thresh[:, None]
                # a -inf threshold (b <= k+1) would keep the -inf diagonal
                np.fill_diagonal(keep, False)
                keep_r, keep_c = np.nonzero(keep)
                if len(keep_r) == 0:
                    continue
                gids = ids_all.slice(lo, b)
                out_any = True
                yield emit(
                    gids.take(pa.array(keep_r)),
                    gids.take(pa.array(keep_c)),
                    pa.array(S[keep_r, keep_c]),
                )
            if not out_any:
                yield emit(empty_ids, empty_ids, pa.array([], type=pa.float64()))

    return score_batches


def _with_tb(
    df: DataFrame,
    vc: str,
    n_planes: int,
    n_tables: int,
    dim: int | None,
    spread_to: int | None = None,
) -> DataFrame:
    """Append exploded ``(table, bucket)`` LSH rows to every row of ``df``.

    ``spread_to``: round-robin repartition width applied FIRST — the corpus
    is usually a handful of scan partitions, and everything downstream
    (bucket computation, and with a broadcast join the entire pair
    generation + scoring) runs at this partitioning; measured 2 tasks doing
    13.4M pair-scores while 30 cores idled.  AQE cannot fix it (the join
    INPUT is tiny; the ~300x blowup happens inside the join).

    ``dim`` path — whole-stage-codegen discipline (this shape is the result
    of measured failures, do not "simplify" it):

    * per-plane sign bits are separate columns of a Project placed DIRECTLY
      above the repartition Exchange: with row-based input codegen can
      split each 64-term projection into its own small JIT-able method.
      Inlining the unrolled buckets into the Generate (or projecting them
      above an operator that feeds codegen variables) produces one >64KB
      method, janino compilation FAILS, and the whole stage silently falls
      back to interpreted eval — ~56us per pair-score vs ~0.2us compiled.
    * the Generate then only packs the int sign bits (bucket id unchanged:
      same signs, same power-of-two weights, integer math).

    ``dim=None`` falls back to the HOF bucket expression inside the
    Generate (interpreted per element, with per-element sin; fine for
    small/ragged corpora)."""
    cols = df.columns
    src = df.repartition(spread_to) if spread_to else df
    if dim is None:
        return src.select(
            *cols,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("table"),
                            lsh_bucket(F.col(vc), n_planes, t).alias("bucket"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("tb"),
        ).select(*cols, "tb.table", "tb.bucket")
    signs = src.select(
        *cols,
        *[
            _pseudo_plane_sign(F.col(vc), t * 1000 + p, dim).alias(f"__s{t}_{p}")
            for t in range(n_tables)
            for p in range(n_planes)
        ],
    )

    def pack(t: int) -> Column:
        out = F.lit(0)
        for p in range(n_planes):
            out = out + F.col(f"__s{t}_{p}") * F.lit(1 << p)
        return out

    return signs.select(
        *cols,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("table"), pack(t).alias("bucket"))
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select(*cols, "tb.table", "tb.bucket")


def auto_n_planes(
    n_vectors: int, target_bucket: int = 32, max_planes: int = 24
) -> int:
    """Plane count that holds the EXPECTED bucket size ~``target_bucket``
    as the corpus grows: ``2^planes ≈ n_vectors / target_bucket``.

    This is the documented 100x-scale lever for :func:`knn_graph` made
    executable: candidate volume per table is ``N * E[bucket size]``, so a
    FIXED plane count degrades quadratically with N while a log2-scaled one
    keeps per-bucket work constant.  ``target_bucket`` trades recall
    (bigger buckets -> more candidates -> better recall) against cost;
    ``max_planes`` caps signature width (24 planes = 16M buckets — beyond
    that bucket ids outgrow useful occupancy at any realistic N and recall
    collapses, add tables instead)."""
    import math

    if n_vectors <= target_bucket:
        return 1
    return max(1, min(max_planes, math.ceil(math.log2(n_vectors / target_bucket))))


def knn_graph(
    embeddings: DataFrame,
    k: int = 3,
    n_planes: int | None = 8,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 32,
    dim: int | None = None,
) -> DataFrame:
    """Approximate k-NN GRAPH: every corpus vector gets its top-k
    bucket-sharing neighbors — the backbone of embedding-based curation
    (near-dup pruning, diversity sampling, cluster seeding).

    Same multi-table LSH shape as :func:`cosine_topk_lsh` with the
    broadcast removed: both sides are the full corpus, so the bucket join
    is a repartition self-join on ``(table, bucket)``.  Candidate volume is
    ~ ``n_tables * N * E[bucket size]`` = ``n_tables^2 * N^2 / 2^n_planes``
    worst-case uniform; raise ``n_planes`` as N grows to hold bucket sizes
    constant.  Dense embedding regions make hot buckets — AQE's skew-join
    split handles the stragglers (enabled in the engine defaults).
    Scores are rounded to 6 decimals (engine-portable) and ties rank by
    ascending neighbor id, making the graph fully deterministic.  Norms are
    hoisted per ROW below the join (array HOFs are CodegenFallback —
    interpreted — so each avoided traversal counts); the score keeps the
    exact ``dot/(na*nb)`` expression shape, so results stay bit-identical
    to the per-pair formulation and the oracle.

    ``n_planes=None`` auto-scales the signature width to the corpus size
    via :func:`auto_n_planes` (one count() over the id column — a
    metadata-only columnar scan — then ``ceil(log2(N / target_bucket))``
    planes), keeping expected bucket size ~``target_bucket`` at any N
    instead of letting candidate volume grow quadratically.
    """
    if n_planes is None:
        n_planes = auto_n_planes(
            embeddings.select(id_col).count(), target_bucket=target_bucket
        )
    npart = embeddings.sparkSession.sparkContext.defaultParallelism * 2
    if dim is None:
        vexpr = _f64(F.col(vec_col))
        base = embeddings.select(
            F.col(id_col).alias("id"), vexpr.alias("v")
        ).withColumn("n", norm(F.col("v"), dim))
        banded = _with_tb(base, "v", n_planes, n_tables, dim, spread_to=npart)
        a = banded.select(
            F.col("id").alias("src_id"),
            F.col("v").alias("av"),
            F.col("n").alias("an"),
            "table",
            "bucket",
        )
        b = banded.select(
            F.col("id").alias("nbr_id"),
            F.col("v").alias("bv"),
            F.col("n").alias("bn"),
            "table",
            "bucket",
        )
        den = F.col("an") * F.col("bn")
        score = F.when(den == 0, F.lit(0.0)).otherwise(
            dot(F.col("av"), F.col("bv"), dim) / den
        )
    else:
        # dim path — the pair-scoring expression CANNOT live in the join's
        # whole-stage-codegen (measured dead ends, see OPTIMIZATION_r06.md):
        # an unrolled 64-term dot over two array columns compiles into one
        # >8KB-bytecode method that HotSpot's DontCompileHugeMethods leaves
        # in the BYTECODE INTERPRETER (~60us/pair vs ~0.2us compiled — a
        # -XX:-DontCompileHugeMethods A/B proved it), and flattening the
        # vectors into 64 scalar columns stalls the OPTIMIZER for minutes
        # in QueryPlanConstraints.  So the join stays a pass-through of
        # (ids, vectors) — small codegen, compiles — and the per-pair math
        # runs as ONE vectorized numpy pass in mapInArrow (the engine's
        # standard payload discipline), with identical IEEE semantics:
        # float->double widening is exact, the fold accumulates in the
        # same left-to-right order, division/sqrt are IEEE-exact, and the
        # engine-facing round(.., 6) stays in Spark.
        base = embeddings.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        )
        banded = _with_tb(base, "v", n_planes, n_tables, None, spread_to=npart)
        # Bucket-grouped scoring instead of a pair self-join: collect each
        # (table, bucket) occupancy into ONE list row — every vector
        # crosses the Arrow boundary once per table (O(N * n_tables * d)
        # bytes instead of O(pairs * d); 3.4 GB -> ~20 MB at sf1.0) — and
        # the kernel scores the bucket's Gram matrix with the identical
        # IEEE fold, emitting only the per-source rows that can still
        # reach the global top-k (_bucket_topk_cosine_arrow), so the
        # post-kernel shuffle carries ~N * n_tables * k rows instead of
        # every candidate pair (13.8M -> ~0.25M at sf1.0).  The
        # repartition spreads the ~n_tables * 2^n_planes group rows so hot
        # buckets score in parallel.
        import pyarrow as pa

        id_dt = base.schema["id"].dataType
        grouped = (
            banded.groupBy("table", "bucket")
            .agg(F.collect_list(F.struct("id", "v")).alias("items"))
            .select("items")
            .repartition(npart)
        )
        out_schema = (
            f"src_id {id_dt.simpleString()}, "
            f"nbr_id {id_dt.simpleString()}, score double"
        )
        raw = grouped.mapInArrow(
            _bucket_topk_cosine_arrow(
                dim, k, pa.from_numpy_dtype("int64")
                if id_dt.simpleString() == "bigint"
                else pa.from_numpy_dtype("int32")
            ),
            out_schema,
        )
        scored = (
            raw.select("src_id", "nbr_id", F.round("score", 6).alias("score"))
            .repartition(F.col("src_id"))
            .dropDuplicates(["src_id", "nbr_id"])
        )
        w = Window.partitionBy("src_id").orderBy(
            F.col("score").desc(), F.col("nbr_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("src_id", "nbr_id", "score", "rank")
        )
    # score BEFORE deduping: the dedup is a shuffle, and scoring first means
    # it carries (src, nbr, score) scalars instead of two d-dim vectors —
    # the fat-shuffle variant OOMs a default heap at N=20k, d=32 (measured;
    # BENCH/BASELINE.md ledger).  A pair duplicated across tables computes
    # its (deterministic) score up to n_tables times — compute is cheaper
    # than shuffling arrays.  The explicit repartition on src_id alone
    # lets BOTH the pair-dedup aggregate (keys src,nbr — src-partitioning
    # clusters them) and the top-k window reuse ONE exchange instead of
    # shuffling the scored pairs twice.
    scored = (
        a.join(b, on=["table", "bucket"])
        .filter(F.col("src_id") != F.col("nbr_id"))
        .select("src_id", "nbr_id", F.round(score, 6).alias("score"))
        .repartition(F.col("src_id"))
        .dropDuplicates(["src_id", "nbr_id"])
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("score").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "nbr_id", "score", "rank")
    )

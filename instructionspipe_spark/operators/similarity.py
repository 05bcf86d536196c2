"""Similarity search over embedding columns (north-star requirement).

Baseline: brute-force cosine top-k — a broadcast join of the (small) query
set against the corpus, per-row cosine expression, per-query top-k via
window. At 100 TB the corpus side streams through executors once; only the
query set and the k results per query move.

Scale paths: LSH bucketing by random-hyperplane sign bits (deterministic
hyperplanes derived from md5 of coordinate indexes so no RNG state), probing
only matching buckets; IVF cells, PQ codes and SQ8 codes, each with a
data-seeded deterministic (oracle-checkable) quantizer and a ``pyspark.ml``
KMeans-trained twin.

Every member of the family shares one mechanism per decision: ranking
vectors against centroids (:func:`_coarse_assign`, also used by
``dedup.semantic_dedup``), the lowest-id centroid seed, the literal-array
nearest-cell probe, the seeded and trained PQ codebooks, and the per-group
top-k tail (:func:`_topk`).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from instructionspipe_spark.functions.vectors import dot_product, l2_normalize
from instructionspipe_spark.session import ensure_parallelism, managed_persist

#: Largest ``n_cells`` at which the default (``levels=None``) routing of
#: :func:`_coarse_assign` stays FLAT. Flat assignment is O(n * k) dots — the
#: operator's only superlinear term once cells scale with the corpus (r10
#: probe: alpha 1.16 -> 1.56); two-level routing is O(n * sqrt(k)) but pays
#: a super-centroid stage that only amortizes at large k (measured on
#: semantic_dedup: LOSES 2.2x at k=80/cells-2.5k where pairwise dominates,
#: WINS 3.6x at k=800/cells-250). 100 splits the two measured regimes.
_FLAT_ASSIGN_MAX_CELLS = 100


def _topk(df: DataFrame, part, order: list, k: int, rank: str = "rank") -> DataFrame:
    """The first ``k`` rows of each ``part`` group under ``order``, numbered
    1..k in column ``rank`` (row_number: ties are broken by ``order`` alone,
    so callers end it with a unique id). A ``row_number <= k`` filter plans
    WindowGroupLimit: each map task cuts its input to k rows per group
    (Partial, before the hash exchange) and only those rows shuffle, so a
    group is never sorted whole on one task."""
    w = Window.partitionBy(part).orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _cosine_topk(
    pairs: DataFrame, k: int, query_id: str, corpus_id: str, rank_round: int | None
) -> DataFrame:
    """Exact cosine of candidate pairs whose sides are already unit vectors
    (``__qnv``, ``__cnv``), top-k per query: cosine desc, corpus id asc.
    ``rank_round`` ranks on the cosine ROUNDED to that many decimals, making
    the ordering reproducible across engines whose float summation order
    differs (two near-equal cosines can rank either way at full precision —
    a differential-testing hazard, not a correctness one)."""
    scored = pairs.select(
        F.col(query_id),
        F.col(corpus_id),
        dot_product(F.col("__qnv"), F.col("__cnv")).alias("cosine"),
    )
    rank_key = F.round(F.col("cosine"), rank_round) if rank_round is not None else F.col("cosine")
    return _topk(scored, query_id, [F.desc(rank_key), F.asc(corpus_id)], k)


def _seed_centroids(
    vecs: DataFrame, id_col: str, vec_col: str, n: int, cell: str = "__cell", cent: str = "__cent"
) -> DataFrame:
    """Data-seeded deterministic centroids: the ``n`` lowest-id rows as
    ``(cell, cent)``, the cell id being the row's own id. Executes as
    TakeOrdered (no sort of the full input) and needs no Lloyd iterations,
    so everything downstream stays fixed-order float arithmetic."""
    return vecs.orderBy(id_col).limit(n).select(F.col(id_col).alias(cell), F.col(vec_col).alias(cent))


def _kmeans_centers(df: DataFrame, vec_col: str, k: int, seed: int, max_iter: int) -> list:
    """Centers of a fixed-seed ``pyspark.ml`` KMeans fit over ``vec_col`` —
    the trainer behind every ``trained`` quantizer. At 100 TB the fit runs
    on a corpus SAMPLE; the model is k centers regardless of corpus size."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("__mlvec"))
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter, featuresCol="__mlvec", predictionCol="__cell"
    ).fit(feats)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def _trained_centroids(
    vecs: DataFrame, vec_col: str, n_cells: int, seed: int, max_iter: int
) -> DataFrame:
    """KMeans centroids as a ``(__cell, __cent)`` frame, cells 0..n_cells-1."""
    rows = list(enumerate(_kmeans_centers(vecs, vec_col, n_cells, seed, max_iter)))
    return vecs.sparkSession.createDataFrame(rows, ["__cell", "__cent"]).select(
        "__cell", F.col("__cent").cast("array<double>").alias("__cent")
    )


def _coarse_assign(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    cent: DataFrame,
    n_cells: int,
    n_keep: int = 1,
    levels: int | None = 1,
    super_probes: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Route each unit vector of ``vecs`` to its ``n_keep`` best cells of
    ``cent`` ((__cell, __cent), at most ``n_cells`` rows): ``(id_col,
    vec_col, __cell)``, ``n_keep`` rows per vector. The only code that ranks
    vectors against centroids — IVF corpus assignment and query probes,
    IVFADC/IVF+SQ8 cells and SemDeDup cells all route through it.

    Ranking: cosine rounded to ``round_digits`` decimals, desc, then the
    lowest candidate id, so two engines whose float formatting differs at
    the last ulp still assign identically, and the whole assignment is
    SQL-replayable.

    Plan: the centroid set is tiny and broadcast; each vector is scored
    against it in one narrow broadcast cross join, and the argmax is the
    :func:`_topk` window keyed by the vector id. Its Partial
    WindowGroupLimit cuts every vector to ``n_keep`` rows map-side, before
    the exchange — the same map-side cut a two-phase groupBy struct-max
    gives, and the window also serves top-n query probes and multiple
    assignment, which a max cannot. Timed against struct-max on the two
    routing ``corpus_dedup`` benchmark rows (4-vCPU host, local[4], build
    + collect, median of 9 and 5 alternated reps; window vs struct-max):
    SemDeDup 1.44 vs 1.52 s at 800 vectors and 34.5 vs 34.4 s at 10,000,
    IVF 1.26 vs 1.32 s and 2.24 vs 2.33 s — inside each other's spread.

    ``levels``: ``1`` is the flat argmax, O(n * k) dots. ``2`` is
    two-level routing: ceil(sqrt(n_cells)) super-centroids (the lowest-id
    centroids; each child routes to its nearest super, a super's own cell
    to itself since cos 1 is the max); a vector probes its top
    ``super_probes`` supers and takes its best children among their
    children — O(n * sqrt(k)) dots. One probe is NOT enough: measured at the
    fourth decade, single-probe routing skews SemDeDup's cell occupancy 4x
    (max cell 2,951 -> 11,892 on balanced data) because a misrouted vector
    is forced onto its super's best child, and the pairwise term is
    quadratic in the hottest cell; probing the top 2 (IVF's n_probe trick)
    restores the flat balance. Misrouting is confined to super-cell
    boundaries and changes only which CELL a vector lands in (the same
    partition trade as n_cells itself), never an emitted cosine. Each cell
    belongs to exactly one super, so candidates never duplicate; with every
    super probed the result equals the flat one exactly. ``None`` picks 2
    when ``n_cells > _FLAT_ASSIGN_MAX_CELLS``, else 1.
    """
    if levels is None:
        levels = 2 if n_cells > _FLAT_ASSIGN_MAX_CELLS else 1
    if levels not in (1, 2):
        raise ValueError(f"assign_levels must be None, 1 or 2, got {levels}")

    def nearest(df: DataFrame, key: str, vec: str, cand: str, cand_vec: str, n: int) -> DataFrame:
        scored = df.select(
            key, vec, cand,
            F.round(dot_product(F.col(vec), F.col(cand_vec)), round_digits).alias("__acos"),
        )
        return _topk(scored, key, [F.desc("__acos"), F.asc(cand)], n, "__ar").drop("__acos", "__ar")

    if levels == 1:
        return nearest(vecs.crossJoin(F.broadcast(cent)), id_col, vec_col, "__cell", "__cent", n_keep)
    n_super = math.isqrt(max(n_cells - 1, 0)) + 1  # ceil(sqrt(n_cells))
    sup = _seed_centroids(cent, "__cell", "__cent", n_super, "__super", "__scent")
    # child -> super: k x sqrt(k) rows, tiny, broadcast on both sides.
    c2s = nearest(cent.crossJoin(F.broadcast(sup)), "__cell", "__cent", "__super", "__scent", 1)
    # vector -> top supers: n x sqrt(k) dots; the per-vector window
    # partitions over sqrt(k) rows, never a hot key.
    vsup = nearest(vecs.crossJoin(F.broadcast(sup)), id_col, vec_col, "__super", "__scent", super_probes)
    return nearest(vsup.join(F.broadcast(c2s), "__super"), id_col, vec_col, "__cell", "__cent", n_keep)


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _nearest_literal_cells(df: DataFrame, raw_vec: Column, centers: list, n_keep: int) -> DataFrame:
    """Explode each row of ``df`` into its ``n_keep`` nearest cells
    (``__cell``) by L2 to ``centers``, inlined as a literal array — the
    centroid list is tiny, so the distance is computed per row with no
    join. Serves the trained IVF query probes and multiple assignment."""
    centers_col = F.array(*[
        F.struct(F.lit(i).alias("cell"), F.array(*[F.lit(x) for x in c]).alias("center"))
        for i, c in enumerate(centers)
    ])
    return df.withColumn(
        "__cells",
        F.slice(
            F.array_sort(
                F.transform(
                    centers_col,
                    lambda s: F.struct(
                        _l2sq(raw_vec, s["center"]).alias("dist"), s["cell"].alias("cell")
                    ),
                )
            ),
            1,
            n_keep,
        ),
    ).select(*df.columns, F.explode(F.col("__cells")["cell"]).alias("__cell"))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    rank_round: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Ties broken by corpus id ascending for full determinism; ``rank_round``
    ranks on the cosine ROUNDED to that many decimals (see
    :func:`_cosine_topk`). Plan: broadcast the query side (queries << corpus
    always), compute cosine in codegen, rank with a window partitioned by
    query — the only shuffle is on query_id, whose cardinality = |queries|.
    """
    corpus = ensure_parallelism(corpus)
    # Normalize each side once per row; each of the |C|x|Q| pairs is then a
    # single dot product (cosine of unit vectors).
    c = corpus.select(F.col(corpus_id), l2_normalize(F.col(corpus_vec)).alias("__cnv"))
    q = queries.select(F.col(query_id), l2_normalize(F.col(query_vec)).alias("__qnv"))
    return _cosine_topk(c.crossJoin(F.broadcast(q)), k, query_id, corpus_id, rank_round)


def hyperplane_sign_bits(vec: Column, n_bits: int = 8, bit_offset: int = 0) -> Column:
    """Sign-LSH bucket id: bit ``j`` is the sign of <v, h_j> where
    hyperplane ``h_j``'s coordinate ``i`` is a deterministic pseudo-random
    value in [-0.5, 0.5) derived from md5(j||i). Stateless: any executor (or
    any engine) recomputes identical buckets. ``bit_offset`` shifts the
    global hyperplane index — table ``t`` of a multi-table scheme passes
    ``t * n_bits`` to get ``n_bits`` hyperplanes independent of every other
    table's (table 0 == the single-table bucketing).

    Measured dead end (r5): precomputing the coord matrix driver-side and
    inlining it as literal arrays (zip_with per hyperplane) is 2-3x SLOWER
    than this md5 derivation at 4x4x64 — CreateArray boxes n_bits x dim
    literal doubles per row inside the interpreted higher-order context,
    while JVM md5 streams at millions/sec; a fully unrolled element_at
    chain is worse still (codegen blow-up, broadcast-thread OOM). The md5
    form is also what keeps the DuckDB oracle structurally identical."""

    def coord(j: Column, i: Column) -> Column:
        # first 4 hex chars of md5 -> int in [0, 65536) -> [-0.5, 0.5)
        h = F.md5(F.concat(j.cast("string"), F.lit(":"), i.cast("string")))
        v = F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
        return v.cast("double") / F.lit(65536.0) - F.lit(0.5)

    bits = F.sequence(F.lit(bit_offset), F.lit(bit_offset + n_bits - 1))
    vec_idx = F.sequence(F.lit(0), F.size(vec) - 1)
    v = vec

    def bit_for(j: Column) -> Column:
        proj = F.aggregate(
            vec_idx,
            F.lit(0.0),
            lambda acc, i: acc + F.element_at(v, i + 1).cast("double") * coord(j, i),
        )
        return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))

    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, j: acc * 2 + bit_for(j).cast("long")
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_bits: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    rank_round: int | None = None,
) -> DataFrame:
    """Approximate top-k: compare only corpus rows whose sign-LSH bucket
    matches the query's bucket. Recall/cost tradeoff via ``n_bits`` (2^bits
    buckets => ~corpus/2^bits candidates per query). Equi-join on the bucket
    replaces the cross join, so the candidate generation is a plain
    broadcast-hash join at any scale; multi-probe = union over flipped bits."""
    corpus = ensure_parallelism(corpus)
    c = corpus.select(
        F.col(corpus_id),
        l2_normalize(F.col(corpus_vec)).alias("__cnv"),
        hyperplane_sign_bits(F.col(corpus_vec), n_bits).alias("__bucket"),
    )
    q = queries.select(
        F.col(query_id),
        l2_normalize(F.col(query_vec)).alias("__qnv"),
        hyperplane_sign_bits(F.col(query_vec), n_bits).alias("__bucket"),
    )
    return _cosine_topk(c.join(F.broadcast(q), "__bucket"), k, query_id, corpus_id, rank_round)


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_bits: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    rank_round: int | None = None,
) -> DataFrame:
    """Multi-probe sign-LSH top-k: each query probes its own bucket PLUS the
    ``n_bits`` buckets at Hamming distance 1 (one hyperplane sign flipped) —
    the standard recall booster for vectors near a hyperplane, at (n_bits+1)x
    the candidate cost instead of 2^n_bits more tables. The probe explode
    happens on the (small, broadcast) query side; the corpus still streams
    through one equi-join. A corpus vector matches a query through exactly
    one probe (its single bucket), so no candidate dedup is needed."""
    corpus = ensure_parallelism(corpus)
    c = corpus.select(
        F.col(corpus_id),
        l2_normalize(F.col(corpus_vec)).alias("__cnv"),
        hyperplane_sign_bits(F.col(corpus_vec), n_bits).alias("__bucket"),
    )
    q = queries.select(
        F.col(query_id),
        l2_normalize(F.col(query_vec)).alias("__qnv"),
        hyperplane_sign_bits(F.col(query_vec), n_bits).alias("__b0"),
    )
    probes = F.array(
        F.col("__b0"), *[F.col("__b0").bitwiseXOR(F.lit(1 << b)) for b in range(n_bits)]
    )
    qp = q.select(F.col(query_id), F.col("__qnv"), F.explode(probes).alias("__bucket"))
    return _cosine_topk(c.join(F.broadcast(qp), "__bucket"), k, query_id, corpus_id, rank_round)


def lsh_multitable_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_bits: int = 4,
    n_tables: int = 4,
    multiprobe: bool = True,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    rank_round: int | None = None,
) -> DataFrame:
    """OR-amplified sign-LSH top-k: ``n_tables`` independent hash tables
    (hyperplanes ``t*n_bits .. (t+1)*n_bits-1`` per table), a pair is a
    candidate if it collides in ANY table — the standard recall knob
    (1-(1-p^b)^L) that single-table probing cannot reach on weakly-clustered
    vectors. ``multiprobe=True`` additionally probes each table's one-bit
    neighbors, compounding both amplifiers.

    Scale shape: the corpus-side exploded frame carries only
    (id, table, bucket) — never the vector — so the ``n_tables``-fold
    blow-up is ~20 B/row; candidate pairs are distinct'd, then joined back
    to the normalized corpus vectors (shuffle bounded by candidate count,
    same join-back-to-payload discipline as minhash verification) with the
    query side broadcast. One streaming pass over the corpus per stage, no
    vector ever moves through the band shuffle.

    Measured on sf0.01 embeddings (500 near-random 64-d vectors, the
    hardest case for LSH): mean recall@5 = 0.97 (min 0.80) at the defaults
    vs 0.60 for single-table multiprobe and 1.00 at ``n_tables=6`` — the
    gated floor lives in ``tests/test_param_fuzz.py::test_ann_recall_floor``.
    """
    corpus = ensure_parallelism(corpus)
    c = corpus.select(F.col(corpus_id), l2_normalize(F.col(corpus_vec)).alias("__cnv"))

    def bucket_for_table(vec: Column) -> Column:
        # CASE over the exploded table index: each output row evaluates only
        # ITS table's n_bits hyperplanes, in codegen. (The alternative — a
        # precomputed array of per-table (t, bucket) structs under the
        # explode — puts all n_tables x n_bits projections under Generate,
        # evaluated interpreted: measured 1.3x slower at 4x4x64.)
        expr = None
        for t in range(n_tables):
            b = hyperplane_sign_bits(vec, n_bits, bit_offset=t * n_bits)
            expr = F.when(F.col("__table") == t, b) if expr is None else expr.when(
                F.col("__table") == t, b
            )
        return expr

    tables_seq = F.explode(F.sequence(F.lit(0), F.lit(n_tables - 1)))
    c_banded = corpus.select(
        F.col(corpus_id), F.col(corpus_vec), tables_seq.alias("__table")
    ).select(corpus_id, "__table", bucket_for_table(F.col(corpus_vec)).alias("__bucket"))

    q_base = queries.select(
        F.col(query_id),
        l2_normalize(F.col(query_vec)).alias("__qnv"),
        F.col(query_vec).alias("__qv"),
    )
    q_banded = q_base.select(
        query_id, "__qv", tables_seq.alias("__table")
    ).select(query_id, "__table", bucket_for_table(F.col("__qv")).alias("__b0"))
    if multiprobe:
        probes = F.array(
            F.col("__b0"), *[F.col("__b0").bitwiseXOR(F.lit(1 << b)) for b in range(n_bits)]
        )
        q_banded = q_banded.select(
            query_id, "__table", F.explode(probes).alias("__bucket")
        )
    else:
        q_banded = q_banded.withColumnRenamed("__b0", "__bucket")

    # A pair colliding in several tables must score once: distinct the
    # narrow candidate frame BEFORE touching vectors.
    cand = (
        c_banded.join(F.broadcast(q_banded), ["__table", "__bucket"])
        .select(query_id, corpus_id)
        .distinct()
    )
    q_vecs = q_base.select(query_id, "__qnv")
    pairs = cand.join(c, corpus_id).join(F.broadcast(q_vecs), query_id)
    return _cosine_topk(pairs, k, query_id, corpus_id, rank_round)


def ivf_topk_deterministic(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    rank_round: int | None = None,
    assign_round: int = 6,
    assign_levels: int | None = None,
    super_probes: int = 2,
) -> DataFrame:
    """IVF ANN with a *data-seeded deterministic* coarse quantizer: the
    centroids are the ``n_cells`` corpus vectors with the lowest ids
    (no Lloyd iterations), so cell assignment is pure fixed-order float
    arithmetic and the whole operator is SQL-expressible — this is the
    oracle-gated twin of :func:`ivf_topk` (whose iterative k-means trainer
    gives better cells but is engine-specific).

    Routing is :func:`_coarse_assign` (ranking on the cosine rounded to
    ``assign_round`` decimals, cell id tie break). ``assign_levels`` and
    ``super_probes`` route the CORPUS assignment — the O(n*k) term;
    ``None`` picks two-level above ``_FLAT_ASSIGN_MAX_CELLS`` cells, ``1``
    forces flat, ``2`` forces two-level (gated as
    ``similarity_ivf_two_level_topk`` with a full two-level oracle replay).
    Queries are few, so their top-``n_probe`` probe ranking stays flat and
    exact at any k; emitted cosines are always exact.

    Plan shape is identical to production IVF: the centroid set is tiny and
    broadcast; corpus cell assignment is one narrow broadcast-join pass; the
    probe is an equi-join on the cell id with the query side broadcast."""
    corpus = ensure_parallelism(corpus)
    c = corpus.select(F.col(corpus_id), l2_normalize(F.col(corpus_vec)).alias("__cnv"))
    cent = _seed_centroids(c, corpus_id, "__cnv", n_cells)
    c_cells = _coarse_assign(
        c, corpus_id, "__cnv", cent, n_cells, levels=assign_levels,
        super_probes=super_probes, round_digits=assign_round,
    )
    q = queries.select(F.col(query_id), l2_normalize(F.col(query_vec)).alias("__qnv"))
    q_probes = _coarse_assign(q, query_id, "__qnv", cent, n_cells, n_probe, round_digits=assign_round)
    pairs = c_cells.join(F.broadcast(q_probes), "__cell")
    return _cosine_topk(pairs, k, query_id, corpus_id, rank_round)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    max_iter: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    rank_round: int | None = None,
) -> DataFrame:
    """IVF-style ANN: k-means cells over the corpus (pyspark.ml KMeans),
    each query probes its ``n_probe`` nearest centroids and ranks only those
    cells' vectors. The iterative trainer makes this non-SQL-expressible
    (driver records a rows-only check); determinism comes from the fixed
    seed. At 100 TB the model fits on a corpus SAMPLE and cell assignment
    is one narrow pass; the probe join is an equi-join on the cell id."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus = ensure_parallelism(corpus)
    c_vec = corpus.select(
        F.col(corpus_id), F.col(corpus_vec),
        array_to_vector(F.col(corpus_vec).cast("array<double>")).alias("__mlvec"),
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="__mlvec", predictionCol="__cell").fit(c_vec)
    c_cells = model.transform(c_vec).select(
        F.col(corpus_id), l2_normalize(F.col(corpus_vec)).alias("__cnv"), F.col("__cell")
    )
    centers = [list(map(float, c)) for c in model.clusterCenters()]
    q = queries.select(
        F.col(query_id),
        l2_normalize(F.col(query_vec)).alias("__qnv"),
        F.col(query_vec).cast("array<double>").alias("__qv"),
    )
    probed = _nearest_literal_cells(q, F.col("__qv"), centers, n_probe).select(
        query_id, "__qnv", "__cell"
    )
    pairs = c_cells.join(F.broadcast(probed), "__cell")
    return _cosine_topk(pairs, k, query_id, corpus_id, rank_round)


def _pq_subvectors(df: DataFrame, id_alias: str, vec_col: str, m: int) -> DataFrame:
    """(id, __j, __sub): l2-normalized vector split into ``m`` equal
    subvectors. Explodes the cheap subspace INDEX and slices per exploded
    row (Generate input stays trivial; the slice runs in codegen). Raises
    per-row when dim % m != 0 — a silent truncation would quietly change
    every distance."""
    nv = df.select(F.col(id_alias), l2_normalize(F.col(vec_col)).alias("__nv")).filter(
        F.col("__nv").isNotNull()
    )
    subdim = (F.size("__nv") / m).cast("int")
    guarded = nv.select(
        id_alias,
        "__nv",
        F.when(
            F.size("__nv") % m != 0,
            F.raise_error(F.lit(f"pq: vector dim not divisible by m={m}")),
        ).otherwise(subdim).alias("__sd"),
    )
    return guarded.select(
        id_alias,
        "__nv",
        "__sd",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("__j"),
    ).select(
        id_alias,
        "__j",
        F.slice(F.col("__nv"), F.col("__j") * F.col("__sd") + 1, F.col("__sd")).alias("__sub"),
    )


def _seeded_codebook(csub: DataFrame, corpus: DataFrame, corpus_id: str, n_codes: int) -> DataFrame:
    """The data-seeded deterministic PQ codebook ``(__j, __code, __cw)``
    over already-built subvectors ``csub``: subspace ``j``'s codewords are
    the ``j``-th subvectors of the ``n_codes`` lowest-id ``corpus`` rows,
    code = rank of that id (tiny n_codes*m frame — the single-partition
    window is over n_codes rows, executed once). Seed ids come from the raw
    corpus, so a zero-norm seed row leaves its code missing and trips the
    scoring-side cardinality guard instead of silently shifting codes."""
    seed_ids = (
        corpus.select(F.col(corpus_id))
        .orderBy(corpus_id)
        .limit(n_codes)
        .withColumn("__code", F.row_number().over(Window.orderBy(corpus_id)) - 1)
    )
    return csub.join(F.broadcast(seed_ids), corpus_id).select(
        "__j", "__code", F.col("__sub").alias("__cw")
    )


def _trained_codebook(
    csub: DataFrame, m: int, n_codes: int, seed_base: int, max_iter: int
) -> DataFrame:
    """Per-subspace KMeans codebooks ``(__j, __code, __cw)``: subspace ``j``
    is fit with seed ``seed_base + j`` (m models of n_codes centroids; the
    model is m*n_codes*subdim floats regardless of corpus size)."""
    rows = [
        (j, code, cw)
        for j in range(m)
        for code, cw in enumerate(
            _kmeans_centers(csub.filter(F.col("__j") == j), "__sub", n_codes, seed_base + j, max_iter)
        )
    ]
    return csub.sparkSession.createDataFrame(rows, ["__j", "__code", "__cw"]).select(
        "__j", "__code", F.col("__cw").cast("array<double>").alias("__cw")
    )


def _pq_codes(
    csub: DataFrame, codebook: DataFrame, corpus_id: str, assign_round: int = 6
) -> DataFrame:
    """(corpus_id, __codes): nearest-codeword index per subspace, assembled
    into an m-element array ordered by subspace. Broadcast join + two-phase
    groupBy.min struct election (map-side combine) + one groupBy on the
    corpus id — and that exchange IS the compressed representation a 100 TB
    pipeline persists (m small ints instead of 4*dim bytes of floats)."""
    enc = (
        csub.join(F.broadcast(codebook), "__j")
        .select(
            corpus_id,
            "__j",
            F.struct(
                F.round(_l2sq(F.col("__sub"), F.col("__cw")), assign_round).alias("__d2"),
                F.col("__code"),
            ).alias("__s"),
        )
        .groupBy(corpus_id, "__j")
        .agg(F.min("__s").alias("__m"))
        .select(corpus_id, "__j", F.col("__m.__code").alias("__code"))
    )
    return enc.groupBy(corpus_id).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__j", "__code"))), lambda s: s["__code"]
        ).alias("__codes")
    )


def _pq_encode_score(
    csub: DataFrame,
    qsub: DataFrame,
    codebook: DataFrame,
    m: int,
    n_codes: int,
    k: int,
    corpus_id: str,
    query_id: str,
    assign_round: int = 6,
    rank_round: int = 6,
    candidates: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Shared PQ machinery: encode the corpus against ``codebook``
    ((__j, __code, __cw) — m*n_codes tiny rows, broadcast), build each
    query's asymmetric-distance lookup table, score via LUT sums, rank.

    Scale shape: encoding is one broadcast join + two-phase ``groupBy.min``
    on a (rounded-d2, code) struct — map-side combine, no window over the
    corpus; the corpus never shuffles except hashed by its own id to
    assemble the m-code array (and that exchange IS the compressed
    representation a 100 TB pipeline persists: m bytes/vector instead of
    4*dim). Scoring joins the broadcast per-query LUT and sums m array
    lookups per (query, vector) in codegen; the final top-k is
    :func:`_topk` (WindowGroupLimit: per-partition pre-truncation,
    skew-safe).

    ``candidates`` (a (query_id, corpus_id) pair frame) restricts scoring to
    those pairs instead of the full query x corpus product — the IVFADC
    hook: an IVF cell probe bounds the candidates, PQ codes bound the
    bytes. ``codes`` (a precomputed (corpus_id, __codes) frame, e.g. read
    back from the parquet store pq_encode wrote) skips encoding entirely —
    the nightly-scan path where only queries change."""
    if codes is None:
        codes = _pq_codes(csub, codebook, corpus_id, assign_round)
    # ADC scoring below looks the LUT up POSITIONALLY (j*n_codes + code), so
    # the sorted LUT must hold exactly one entry per (subspace, code) slot. A
    # codebook with fewer codes per subspace (corpus smaller than n_codes, or
    # zero-norm seed rows dropped by _pq_subvectors) would silently misalign
    # every distance — guard with an in-plan cardinality check per query row.
    lut_pairs = F.array_sort(F.collect_list(F.struct("__idx", "__d2")))
    lut = (
        qsub.join(F.broadcast(codebook), "__j")
        .select(
            query_id,
            (F.col("__j") * n_codes + F.col("__code")).alias("__idx"),
            F.round(_l2sq(F.col("__sub"), F.col("__cw")), assign_round).alias("__d2"),
        )
        .groupBy(query_id)
        .agg(lut_pairs.alias("__pairs"))
        .select(
            query_id,
            F.when(
                F.size("__pairs") != m * n_codes,
                F.raise_error(
                    F.lit(
                        f"pq: codebook cardinality mismatch — expected m*n_codes"
                        f"={m * n_codes} (m={m}, n_codes={n_codes}) entries per "
                        "query LUT; the codebook has a different code count per "
                        "subspace (undersized corpus or dropped zero-norm seed "
                        "rows), which would silently misalign positional ADC "
                        "lookups"
                    )
                ),
            )
            .otherwise(F.transform(F.col("__pairs"), lambda s: s["__d2"]))
            .alias("__lut"),
        )
    )
    paired = (
        codes.crossJoin(F.broadcast(lut))
        if candidates is None
        else candidates.join(codes, corpus_id).join(F.broadcast(lut), query_id)
    )
    scored = paired.select(
        query_id,
        corpus_id,
        # The fold accumulates in exact DECIMAL: each LUT entry is a
        # 6-dp-rounded double (recovered exactly by the decimal cast), and a
        # plain double fold vs the oracle's arbitrary-order SUM can differ by
        # an ulp, flipping the outer ROUND on a .xxxxx5 boundary and with it
        # the shortlist membership (the ivfsq_trained_recall escape class).
        F.round(
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0).cast("decimal(38,6)"),
                lambda acc, j: acc
                + F.element_at(
                    F.col("__lut"),
                    (j * n_codes + F.element_at(F.col("__codes"), (j + 1).cast("int")) + 1).cast(
                        "int"
                    ),
                ).cast("decimal(25,6)"),
            ),
            rank_round,
        )
        .cast("double")
        .alias("adc_dist"),
    )
    return _topk(scored, query_id, [F.asc("adc_dist"), F.asc(corpus_id)], k)


def _pq_rerank(
    shortlist: DataFrame,
    corpus_nv: DataFrame,
    query_nv: DataFrame,
    k: int,
    corpus_id: str,
    query_id: str,
    rerank_round: int = 4,
) -> DataFrame:
    """Exact-cosine rerank of the PQ/ADC shortlist — the standard second
    stage (Jégou et al. 2011 §IV): full-precision vectors are touched for
    only ``shortlist`` rows per query (bounded by the rerank width), so the
    bytes story survives: the SCAN reads m-byte codes, the rerank reads
    R << corpus full vectors via one equi-join on the corpus id."""
    exact = (
        shortlist.join(corpus_nv, corpus_id)
        .join(F.broadcast(query_nv), query_id)
        .select(
            query_id,
            corpus_id,
            F.round(dot_product(F.col("__cnv"), F.col("__qnv")), rerank_round).alias("cosine"),
        )
    )
    return _topk(exact, query_id, [F.desc("cosine"), F.asc(corpus_id)], k)


def _pq_search(
    corpus: DataFrame,
    queries: DataFrame,
    csub: DataFrame | None,
    codebook: DataFrame,
    m: int,
    n_codes: int,
    k: int,
    rerank: int | None,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    assign_round: int,
    rank_round: int,
    candidates: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k over ``codebook`` (see :func:`_pq_encode_score`); with
    ``rerank`` set, the top-``rerank`` ADC shortlist is re-ranked by exact
    cosine (:func:`_pq_rerank`)."""
    qsub = _pq_subvectors(
        queries.select(F.col(query_id), F.col(query_vec)), query_id, query_vec, m
    )
    adc = _pq_encode_score(
        csub, qsub, codebook, m, n_codes, k if rerank is None else rerank, corpus_id,
        query_id, assign_round, rank_round, candidates=candidates, codes=codes,
    )
    if rerank is None:
        return adc
    corpus_nv = corpus.select(F.col(corpus_id), l2_normalize(F.col(corpus_vec)).alias("__cnv"))
    query_nv = queries.select(F.col(query_id), l2_normalize(F.col(query_vec)).alias("__qnv"))
    return _pq_rerank(adc.select(query_id, corpus_id), corpus_nv, query_nv, k, corpus_id, query_id)


def pq_topk_deterministic(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    m: int = 4,
    n_codes: int = 8,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    assign_round: int = 6,
    rank_round: int = 6,
    rerank: int | None = None,
    codebook: DataFrame | None = None,
    codes_store: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) with a *data-seeded
    deterministic* codebook: subspace ``j``'s codewords are the ``j``-th
    subvectors of the ``n_codes`` lowest-id corpus vectors — no Lloyd
    iterations, so encoding and ADC scoring are pure fixed-order float
    arithmetic and the whole operator is SQL-expressible. Oracle-gated twin
    of :func:`pq_topk` (trained codebooks, better cells, engine-specific).

    Why PQ at 100 TB: the persisted representation is ``m`` small codes per
    vector (m bytes at n_codes<=256) instead of 4*dim bytes — 64x smaller at
    dim=64/m=4 — and query scoring touches only the code arrays plus an
    m*n_codes LUT per query, never the raw floats. This is the memory-bound
    regime where brute force dies; IVF bounds candidates, PQ bounds bytes.
    Rounding discipline: assignment and ADC rank on ROUND(d2, 6) with
    code/vector-id tie breaks, so engines differing in last-ulp float
    formatting encode and rank identically.
    """
    corpus = ensure_parallelism(corpus)
    if codes_store is not None and codebook is None:
        raise ValueError("codes_store requires the codebook it was encoded with")
    csub = None
    if codes_store is None:
        # Read by TWO branches (codebook seed join + encoding) — persist the
        # narrow subvector frame rather than normalizing the corpus twice.
        csub = managed_persist(
            _pq_subvectors(
                corpus.select(F.col(corpus_id), F.col(corpus_vec)), corpus_id, corpus_vec, m
            )
        )
        if codebook is None:
            codebook = _seeded_codebook(csub, corpus, corpus_id, n_codes)
    return _pq_search(
        corpus, queries, csub, codebook, m, n_codes, k, rerank, corpus_id, corpus_vec,
        query_id, query_vec, assign_round, rank_round, codes=codes_store,
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    m: int = 4,
    n_codes: int = 8,
    seed: int = 42,
    max_iter: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    assign_round: int = 6,
    rank_round: int = 6,
    rerank: int | None = None,
) -> DataFrame:
    """Production PQ ANN: per-subspace codebooks trained with
    ``pyspark.ml`` KMeans over the corpus subvectors (m models of n_codes
    centroids; at 100 TB the fit runs on a corpus SAMPLE — the model is
    m*n_codes*subdim floats regardless of corpus size). The iterative
    trainer makes this non-SQL-expressible; determinism comes from the
    fixed seed. Encoding/ADC/ranking are byte-identical machinery to the
    oracle-gated :func:`pq_topk_deterministic`; the recall floor vs brute
    force is pytest-gated (tests/test_param_fuzz.py)."""
    corpus = ensure_parallelism(corpus)
    csub = _pq_subvectors(corpus.select(F.col(corpus_id), F.col(corpus_vec)), corpus_id, corpus_vec, m)
    codebook = _trained_codebook(csub, m, n_codes, seed, max_iter)
    return _pq_search(
        corpus, queries, csub, codebook, m, n_codes, k, rerank, corpus_id, corpus_vec,
        query_id, query_vec, assign_round, rank_round,
    )


def ivfadc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 4,
    n_codes: int = 8,
    rerank: int | None = 50,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    assign_round: int = 6,
    rank_round: int = 6,
    trained: bool = False,
    seed: int = 42,
    max_iter: int = 10,
    n_assign: int = 1,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §V): the full large-scale ANN composition —
    an IVF coarse quantizer bounds WHICH vectors each query scores
    (n_probe/n_cells of the corpus) and PQ codes bound the BYTES each score
    touches (m codes instead of 4*dim floats), with an exact-cosine rerank
    of the shortlist. This is the layout a 100 TB vector corpus actually
    ships: cells as partition keys, codes as the persisted scan
    representation, raw vectors read only for rerank rows.

    Two quantizer modes. Default (``trained=False``): data-seeded
    deterministic — centroids = the ``n_cells`` lowest-id vectors,
    codebooks = subvectors of the ``n_codes`` lowest-id vectors, all
    ranking on pre-rounded keys with id tie breaks, so behavior is
    engine-reproducible without any model state; recall is then CAPPED by
    how well those arbitrary vectors cover the data (measured mean 0.657 on
    sf0.01 at cells=8/probe=3 — the candidate ceiling, which ADC+rerank
    attains exactly). ``trained=True``: ``pyspark.ml`` KMeans for both the
    coarse cells (full vectors) and the per-subspace codebooks — the
    production configuration, recall-floor-gated in pytest. Candidate
    generation is one equi-join on the cell id (query probes broadcast);
    ADC scoring joins the candidate pairs to the codes and the per-query
    LUT; no cross join anywhere.

    ``n_assign`` (multiple assignment, Jégou et al. §V-C discussion): index
    each CORPUS vector under its ``n_assign`` nearest cells instead of one.
    Boundary vectors — the dominant recall loss on weakly-clustered data,
    where a neighbor sits just across the query's probed cells — then
    surface in both adjacent cells. Costs index size and candidate volume
    ×n_assign (an explicit, documented trade: measured on sf0.01 at
    cells=8/probe=4 trained, n_assign=2 lifts mean recall@5 0.871 -> 0.971
    and min 0.40 -> 0.80 for 2× the code rows; n_assign=3 adds nothing
    here); candidates are DISTINCT'd so a pair reachable through several
    shared cells is scored once.
    """
    corpus = ensure_parallelism(corpus)
    c = corpus.select(F.col(corpus_id), l2_normalize(F.col(corpus_vec)).alias("__cnv"))
    if trained:
        cent = _trained_centroids(c, "__cnv", n_cells, seed, max_iter)
    else:
        cent = _seed_centroids(c, corpus_id, "__cnv", n_cells)
    q = queries.select(F.col(query_id), l2_normalize(F.col(query_vec)).alias("__qnv"))
    c_cells = _coarse_assign(c, corpus_id, "__cnv", cent, n_cells, n_assign, levels=1, round_digits=assign_round)
    q_probes = _coarse_assign(q, query_id, "__qnv", cent, n_cells, n_probe, levels=1, round_digits=assign_round)
    candidates = c_cells.select(corpus_id, "__cell").join(
        F.broadcast(q_probes.select(query_id, "__cell")), "__cell"
    ).select(query_id, corpus_id)
    if n_assign > 1:
        # A pair can share several (corpus-cell × probed-cell) routes; score
        # each pair once. Skipped at n_assign=1 where pairs are unique by
        # construction — no extra exchange on the default path.
        candidates = candidates.distinct()

    csub = managed_persist(
        _pq_subvectors(corpus.select(F.col(corpus_id), F.col(corpus_vec)), corpus_id, corpus_vec, m)
    )
    if trained:
        codebook = _trained_codebook(csub, m, n_codes, seed + 1, max_iter)
    else:
        codebook = _seeded_codebook(csub, corpus, corpus_id, n_codes)
    return _pq_search(
        corpus, queries, csub, codebook, m, n_codes, k, rerank, corpus_id, corpus_vec,
        query_id, query_vec, assign_round, rank_round, candidates=candidates,
    )


def pq_codebook_deterministic(
    corpus: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """The data-seeded deterministic PQ codebook as a frame ``(__j, __code,
    __cw)``: subspace ``j``'s codewords are the ``j``-th subvectors of the
    ``n_codes`` lowest-id corpus vectors. Persist next to the codes store —
    scoring needs both, and codes are meaningless under a different
    codebook."""
    csub = _pq_subvectors(
        corpus.select(F.col(corpus_id), F.col(corpus_vec)), corpus_id, corpus_vec, m
    )
    return _seeded_codebook(csub, corpus, corpus_id, n_codes)


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    assign_round: int = 6,
) -> DataFrame:
    """Encode a corpus against an existing PQ ``codebook`` into the
    persistable codes store ``(corpus_id, __codes)`` — the artifact a
    100 TB pipeline writes ONCE and scans nightly (m small ints per vector,
    64x smaller than the floats at dim=64/m=4). Pass the frame back to
    :func:`pq_topk_deterministic` via ``codes_store`` and the raw vectors
    are read only for rerank rows."""
    csub = _pq_subvectors(
        corpus.select(F.col(corpus_id), F.col(corpus_vec)), corpus_id, corpus_vec, m
    )
    return _pq_codes(csub, codebook, corpus_id, assign_round)


def _sq_stats(c_nv: DataFrame, vec_col: str = "__cnv") -> DataFrame:
    """Per-dimension min/max of the (normalized) corpus, collected into one
    row of dim-length arrays ``(__mns, __mxs)`` — the whole trained state of
    a scalar quantizer. posexplode → groupBy(dim) is a dim-bounded shuffle
    (|stats| = dim rows regardless of corpus size); the final collect into
    sorted arrays is a single-row struct sort over dim entries."""
    dims = c_nv.select(F.posexplode(F.col(vec_col)).alias("__i", "__x"))
    stats = dims.groupBy("__i").agg(F.min("__x").alias("__mn"), F.max("__x").alias("__mx"))
    return stats.agg(
        F.array_sort(F.collect_list(F.struct("__i", "__mn"))).alias("__a"),
        F.array_sort(F.collect_list(F.struct("__i", "__mx"))).alias("__b"),
    ).select(
        F.transform("__a", lambda s: s["__mn"]).alias("__mns"),
        F.transform("__b", lambda s: s["__mx"]).alias("__mxs"),
    )


def _sq_encode(vec: Column, mns: Column, mxs: Column) -> Column:
    """SQ8 encode: per dimension, code = floor((x - mn) / (mx - mn) * 255
    + 0.5) clamped to [0, 255]; degenerate (mx == mn) dimensions encode 0.
    Pure fixed-order IEEE arithmetic + an exact integer floor, so two
    engines encode bit-identically — no rounding discipline needed."""

    def enc(x: Column, i: Column) -> Column:
        mn = F.element_at(mns, i + 1)
        mx = F.element_at(mxs, i + 1)
        span = mx - mn
        code = F.floor((x - mn) / span * F.lit(255.0) + F.lit(0.5))
        code = F.least(F.lit(255).cast("long"), F.greatest(F.lit(0).cast("long"), code))
        return F.when(span == F.lit(0.0), F.lit(0).cast("long")).otherwise(code)

    return F.transform(vec, enc)


def _sq_shortlist(
    c_cells: DataFrame,
    q_cells: DataFrame,
    stats: DataFrame,
    rerank: int,
    corpus_id: str,
    query_id: str,
    collapse: bool,
) -> DataFrame:
    """(query_id, corpus_id): per query, the ``rerank`` corpus vectors of
    its probed cells nearest in SQ8 code space. Both sides are encoded with
    the same broadcast ``stats`` and scored by the symmetric integer
    distance sum((qcode_i - code_i)^2); the (tiny, broadcast) encoded probes
    join the corpus cells on the cell id. ``collapse``: under multiple
    assignment the same pair surfaces through two shared cells — keep one
    (the distances agree)."""
    enc_c = c_cells.crossJoin(F.broadcast(stats)).select(
        F.col(corpus_id),
        F.col("__cell"),
        _sq_encode(F.col("__cnv"), F.col("__mns"), F.col("__mxs")).alias("__codes"),
    )
    enc_q = q_cells.crossJoin(F.broadcast(stats)).select(
        F.col(query_id),
        F.col("__cell"),
        _sq_encode(F.col("__qnv"), F.col("__mns"), F.col("__mxs")).alias("__qcodes"),
    )
    d2 = enc_c.join(F.broadcast(enc_q), "__cell").select(
        F.col(query_id),
        F.col(corpus_id),
        F.aggregate(
            F.zip_with(F.col("__qcodes"), F.col("__codes"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("__d2"),
    )
    if collapse:
        d2 = d2.groupBy(query_id, corpus_id).agg(F.min("__d2").alias("__d2"))
    return _topk(d2, query_id, [F.asc("__d2"), F.asc(corpus_id)], rerank, "__r").select(
        query_id, corpus_id
    )


def ivfsq_topk_deterministic(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    rerank: int = 50,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    assign_round: int = 6,
) -> DataFrame:
    """IVF + 8-bit scalar quantization ANN (the FAISS ``IVF,SQ8`` index
    family) with the data-seeded deterministic coarse quantizer of
    :func:`ivf_topk_deterministic`: IVF cells bound the candidates, SQ8
    codes bound the bytes (1 byte/dim vs 8 — an 8x smaller persisted scan;
    4x vs float32), and an exact-cosine rerank of the top-``rerank``
    shortlist restores quality. Completes the quantization family next to
    PQ (pq_topk_deterministic) and IVFADC (ivfadc_topk): SQ keeps per-dim
    resolution where PQ shares sub-space codewords — the standard pick when
    dim is small and recall matters more than the last 4x of compression.

    Determinism contract: candidate ranking uses the SYMMETRIC code-space
    distance — the query is encoded with the same per-dim stats and
    d2 = sum((qcode_i - code_i)^2) is pure 64-bit integer arithmetic —
    so the shortlist is EXACTLY reproducible in any engine with no float
    rounding discipline at all (the one float step, encoding, is fixed-order
    IEEE + floor). The oracle replays encode/score/rerank verbatim.

    100 TB shape: stats is a dim-row aggregate collected to ONE broadcast
    row; cell assignment is the IVF broadcast pass; scoring joins the
    (tiny, broadcast) encoded probes to the candidate cells on the cell id
    — the corpus-sized side streams, only codes cross the operator, and the
    full-precision vectors are read for rerank rows alone."""
    corpus = ensure_parallelism(corpus)
    # Read by three branches (centroid seed, stats, encoding) — persist the
    # narrow normalized frame once.
    c = managed_persist(
        corpus.select(F.col(corpus_id), l2_normalize(F.col(corpus_vec)).alias("__cnv"))
    )
    cent = _seed_centroids(c, corpus_id, "__cnv", n_cells)
    q = queries.select(F.col(query_id), l2_normalize(F.col(query_vec)).alias("__qnv"))
    shortlist = _sq_shortlist(
        _coarse_assign(c, corpus_id, "__cnv", cent, n_cells, levels=1, round_digits=assign_round),
        _coarse_assign(q, query_id, "__qnv", cent, n_cells, n_probe, levels=1, round_digits=assign_round),
        _sq_stats(c), rerank, corpus_id, query_id, collapse=False,
    )
    return _pq_rerank(shortlist, c, q, k, corpus_id, query_id)


def ivfsq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    rerank: int = 50,
    seed: int = 42,
    max_iter: int = 10,
    n_assign: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """TRAINED IVF+SQ8: KMeans coarse cells (the ivf_topk trainer — fixed
    seed, model fit on the corpus, at 100 TB on a sample) + the SQ8 code
    path of :func:`ivfsq_topk_deterministic` (symmetric integer code
    distance shortlist, exact-cosine rerank). ``n_assign`` indexes each
    corpus vector in its n nearest cells (ivfadc_topk's boundary-loss
    recovery — without it a truth neighbor just across a cell boundary is
    invisible to every probe). The iterative trainer makes this
    non-SQL-expressible, so the driver-gated contract is the bounded
    recall row (`ivfsq_trained_recall`), exactly the N33 pattern used for
    trained IVFADC/PQ."""
    corpus = ensure_parallelism(corpus)
    centers = _kmeans_centers(corpus, corpus_vec, n_cells, seed, max_iter)
    c_norm = managed_persist(
        corpus.select(
            F.col(corpus_id),
            l2_normalize(F.col(corpus_vec)).alias("__cnv"),
            F.col(corpus_vec).cast("array<double>").alias("__cv"),
        )
    )
    c_cells = _nearest_literal_cells(c_norm, F.col("__cv"), centers, n_assign).select(
        corpus_id, "__cnv", "__cell"
    )
    q = queries.select(
        F.col(query_id),
        l2_normalize(F.col(query_vec)).alias("__qnv"),
        F.col(query_vec).cast("array<double>").alias("__qv"),
    )
    probed = _nearest_literal_cells(q, F.col("__qv"), centers, n_probe).select(
        query_id, "__qnv", "__cell"
    )
    shortlist = _sq_shortlist(
        c_cells, probed, _sq_stats(c_norm), rerank, corpus_id, query_id, collapse=True
    )
    corpus_nv = c_norm.select(F.col(corpus_id), F.col("__cnv"))
    return _pq_rerank(shortlist, corpus_nv, q.select(F.col(query_id), F.col("__qnv")), k, corpus_id, query_id)

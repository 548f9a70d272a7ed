"""Deterministic k-means clustering over embedding columns.

The training-data use case is SemDeDup-style semantic grouping: cluster
document embeddings, then dedup/filter within clusters. Floating-point
k-means is irreproducible on a cluster (reduction order changes the
centroids); this implementation is *exactly* deterministic, on any
partitioning, by doing all arithmetic in scaled integers:

- quantize: ``q_d = floor(x_d * 10^6)`` per dimension (embeddings live
  in [-1, 1], so |q| <= 10^6);
- distances: ``sum((q_d - c_d)^2)`` in BIGINT — max 64 * (2*10^6)^2
  ~= 2.6*10^14, far under 2^63, and integer sums are order-independent;
- centroid update: floor division via the positive-remainder identity
  ``(s - ((s % n) + n) % n) / n`` — identical in engines that disagree
  on negative integer division (truncation vs floor);
- init: the k vectors whose md5(vec_id) sorts smallest (a deterministic
  pseudo-random draw), numbered in that order.

Plan shape per iteration: assignment is a broadcast crossJoin against
the k centroids (n*k vectorized BIGINT array ops, no shuffle of the
corpus); the update explodes assigned vectors to (cluster, dim) cells
and partial-aggregates — shuffle carries k*D cells. Iteration count is
fixed (hyperparameter), so the whole operator is a static plan.

Reference scope note: apache/hudi-rs has no clustering operator; this
is part of the training-data-pipeline surface this repo adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hudi_rs_spark.operators.pin import pin
from pyspark.sql.window import Window

QUANT_SCALE = 1_000_000


def quantize(vec_col: str) -> F.Column:
    """array<float> -> array<bigint> at QUANT_SCALE (exact, portable)."""
    return F.expr(
        f"transform({vec_col}, x -> bigint(floor(double(x) * {QUANT_SCALE})))"
    )


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iterations: int = 2,
) -> DataFrame:
    """Cluster rows of ``df`` by their embedding; returns
    (id, cluster, dist2) with ``cluster`` in [1, k].

    ``iterations`` centroid updates run before the final assignment;
    ties in distance break to the lowest cluster id (total order), so
    the output is unique and reproducible.
    """
    q = df.select(F.col(id_col).alias("id"), quantize(vec_col).alias("q"))
    centroids = _kmeans_centroids(q, k, iterations)
    return _assign(q, centroids, keep_dist=True).select(
        "id", "cid", "dist2"
    )


def _kmeans_centroids(q: DataFrame, k: int, iterations: int) -> DataFrame:
    """Final (cid, cq) centroid frame after ``iterations`` update rounds
    over the narrow (id, q) frame — the iterative half of
    :func:`kmeans_assign`, split out so callers that need the assignment
    WITH extra payload columns (semdedup) can run the cheap iterations
    on the narrow frame and the final assignment on the wide one."""
    # deterministic init: k smallest md5(id), numbered in md5 order
    seeded = q.select(
        "id", "q", F.md5(F.col("id").cast("string")).alias("seed")
    )
    centroids = (
        seeded.orderBy("seed", "id")
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy("seed", "id")).alias("cid"),
            F.col("q").alias("cq"),
        )
    )

    for _ in range(iterations):
        assigned = _assign(q, centroids)
        # update: explode to (cluster, dim) cells, exact integer mean.
        # _assign carries q through (map-only), so no join back — the
        # only shuffle per iteration is this partial-aggregated groupBy
        # (k*D cells after map-side combine).
        cells = (
            assigned
            .select("cid", F.posexplode("q").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .select(
                "cid",
                "pos",
                F.expr("(s - ((s % n) + n) % n) div n").alias("m"),
            )
        )
        centroids = (
            cells.groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, m))), c -> c.m)"
                ).alias("cq")
            )
            # Truncate the iterative lineage: each round's centroid plan
            # otherwise EMBEDS the previous round's full assignment plan,
            # so the final plan replicates the corpus scan
            # ~2^iterations times (measured: 20 source scans at
            # iterations=2 when composed downstream). The checkpoint is
            # k rows — one centroid per cluster — materialized
            # immediately.
        )
        centroids = pin(centroids)

    return centroids


def _assign(q: DataFrame, centroids: DataFrame, keep_dist: bool = False) -> DataFrame:
    """Nearest centroid per row as a MAP-ONLY pass: the k centroids
    collapse into ONE array-of-structs row, broadcast-crossJoined onto
    the corpus, and argmin((dist2, cid)) is array_min over that array —
    integer dist2 and the lowest-cid tie-break give the same total
    order as the old crossJoin + groupBy(id).min(struct) shape, with
    ZERO shuffles instead of two (the n*k exchange for the min and the
    join back for q; guide §2.4). Output carries EVERY input column of
    ``q`` plus cid[, dist2] — payload columns (float vectors, norms)
    ride the map-only pass for free, so downstream never re-joins the
    corpus (semdedup relies on this to skip a corpus-sized id-join)."""
    carr = centroids.agg(
        F.collect_list(F.struct("cid", "cq")).alias("cs")
    )
    best = F.array_min(
        F.expr(
            "transform(cs, c -> struct("
            "aggregate(zip_with(q, c.cq, (x, y) -> (x - y) * (x - y)),"
            " bigint(0), (acc, v) -> acc + v) AS dist2,"
            " c.cid AS cid))"
        )
    )
    in_cols = list(q.columns)
    out = q.crossJoin(F.broadcast(carr)).select(
        *in_cols, best.alias("b")
    )
    cols = [F.col(c) for c in in_cols] + [F.col("b.cid").alias("cid")]
    if keep_dist:
        cols.append(F.col("b.dist2").alias("dist2"))
    return out.select(*cols)


def _within_cluster_pairs_exact(withv: DataFrame) -> DataFrame:
    """All (cid, id_a, va, na, id_b, vb, nb) pairs within each cluster,
    id_a < id_b — the exact SemDeDup candidate set, O(population^2) per
    cluster. Norms ride along so the per-pair cosine downstream is ONE
    array fold (the dot product), not three."""
    a = withv.select(
        "cid", F.col("id").alias("id_a"),
        F.col("v").alias("va"), F.col("vn").alias("na"),
    )
    b = withv.select(
        "cid", F.col("id").alias("id_b"),
        F.col("v").alias("vb"), F.col("vn").alias("nb"),
    )
    return a.join(b, "cid").filter(F.col("id_a") < F.col("id_b"))


def _within_cluster_pairs_lsh(
    withv: DataFrame,
    dim: int,
    n_bands: int,
    planes_per_band: int,
) -> DataFrame:
    """Banded hyperplane-LSH candidate pairs WITHIN each cluster:
    (cid, id_a, va, id_b, vb), id_a < id_b, restricted to rows whose
    signatures collide in at least one band.

    Same construction as ``similarity.embedding_near_dups`` (its
    scale-contract comments apply), but the bucket key is
    ``(cid, band, sig)`` — cluster id participates in the join so pairs
    never cross clusters and the per-bucket population is further
    divided by the cluster blocking. The candidate self-join carries ids
    only; vectors re-join by id afterwards.
    """
    from hudi_rs_spark.operators.similarity import _band_signature_udf

    sig_udf = _band_signature_udf(dim, n_bands, planes_per_band, "semdedup")
    keys = withv.select(
        "cid", "id", F.posexplode(sig_udf(F.col("v"))).alias("band", "sig")
    )
    # Materialized for the same reason as embedding_near_dups: the
    # signature matmul must not run once per self-join side.
    keys = pin(keys)
    cand = (
        keys.select("cid", F.col("id").alias("id_a"), "band", "sig")
        .join(
            keys.select("cid", F.col("id").alias("id_b"), "band", "sig"),
            ["cid", "band", "sig"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("cid", "id_a", "id_b")
        .distinct()
    )
    vecs = withv.select(F.col("id").alias("vid"), "v", "vn")
    return cand.join(
        vecs.select(
            F.col("vid").alias("id_a"),
            F.col("v").alias("va"), F.col("vn").alias("na"),
        ),
        "id_a",
    ).join(
        vecs.select(
            F.col("vid").alias("id_b"),
            F.col("v").alias("vb"), F.col("vn").alias("nb"),
        ),
        "id_b",
    )


def semdedup_candidates(
    withv: DataFrame,
    exact_max_cluster: int | None,
    dim: int,
    lsh_bands: int,
    lsh_planes: int,
) -> DataFrame:
    """Candidate pair frame for :func:`semdedup` — split by cluster
    population when the large-cluster guard is armed. Exposed so tests
    can count candidate pairs directly. Pairs carry the per-vector
    norms (na/nb), computed here when the caller did not already."""
    if "vn" not in withv.columns:
        from hudi_rs_spark.operators.similarity import norm

        withv = withv.withColumn("vn", norm(F.col("v")))
    if exact_max_cluster is None:
        return _within_cluster_pairs_exact(withv)
    sizes = withv.groupBy("cid").agg(F.count("*").alias("__csize"))
    sized = withv.join(F.broadcast(sizes), "cid")
    small = sized.filter(F.col("__csize") <= exact_max_cluster).drop("__csize")
    large = sized.filter(F.col("__csize") > exact_max_cluster).drop("__csize")
    return _within_cluster_pairs_exact(small).unionByName(
        _within_cluster_pairs_lsh(large, dim, lsh_bands, lsh_planes)
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iterations: int = 2,
    threshold: float = 0.9,
    exact_max_cluster: int | None = None,
    dim: int = 64,
    lsh_bands: int = 16,
    lsh_planes: int = 4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup = k-means blocking,
    then exact-cosine near-dup pruning *within* each cluster.

    Returns (id, cluster, kept, dist2): ``kept`` is False iff some
    lower-id member of the same cluster is cosine-similar above
    ``threshold`` — the deterministic min-id survivor rule, so the
    output is reproducible on any partitioning.

    Scale: the within-cluster candidate set is the SemDeDup blocking
    contract — ``k`` is the blocking parameter and must grow with the
    corpus (the paper runs 50k clusters over LAION) so cluster
    population ``n/k`` stays bounded; pair work is then
    ``O(k * (n/k)^2) = O(n^2 / k)`` with a constant per-cluster bound.
    The pair join is an equi-join on cluster id (one shuffle), exact
    cosine runs JVM-side on the joined rows, and the final kept-flag is
    a broadcast-size anti-ish left join of dropped ids.

    Large-cluster guard: real corpora are not uniform over clusters —
    one mega-cluster (boilerplate, near-constant embeddings) makes the
    exact within-cluster join quadratic in ITS population no matter how
    large ``k`` is. With ``exact_max_cluster`` set, clusters whose
    population exceeds it generate candidates via banded hyperplane LSH
    (``lsh_bands`` x ``lsh_planes``, bucket key ``(cid, band, sig)``)
    instead of all-pairs, bounding pair work per bucket; the exact
    cosine filter and min-id survivor rule are unchanged, so the only
    deviation from exact SemDeDup is LSH recall on the oversized
    clusters (tune bands up / planes down to push recall toward 1; the
    defaults give >0.999 at threshold 0.9). ``None`` (default) keeps
    the exact contract everywhere.
    """
    from hudi_rs_spark.operators.similarity import dot, norm

    # The float vector and its norm RIDE the map-only assignment pass
    # (r14, guide §2.4): the k-means iterations run on the narrow
    # (id, q) frame, then ONE final broadcast-assign over the wide frame
    # carries (v, vn) straight through — the old shape re-joined the
    # corpus on id to get the vectors back (a corpus-sized SortMergeJoin
    # executed once per pair-join side). The assignment feeds three plan
    # branches (both pair-join sides and the final kept-flag join);
    # materialize it once.
    # per-vector norm computed ONCE here (r13): the pair filter below is
    # then a single dot-product fold per pair instead of dot + two norm
    # folds — same expressions, same float order (dot / (na * nb) is
    # exactly cosine's arithmetic), ~3x less per-pair compute on the
    # dominant stage.
    base = df.select(
        F.col(id_col).alias("id"),
        quantize(vec_col).alias("q"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("vn"),
    )
    centroids = _kmeans_centroids(base.select("id", "q"), k, iterations)
    assigned = pin(_assign(base, centroids, keep_dist=True).drop("q"))
    withv = assigned.select("id", "cid", "v", "vn")
    pairs = semdedup_candidates(
        withv, exact_max_cluster, dim, lsh_bands, lsh_planes
    )
    dropped = (
        pairs.filter(
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
            >= F.lit(float(threshold))
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return assigned.select("id", "cid", "dist2").join(
        dropped.withColumn("__drop", F.lit(True)), "id", "left"
    ).select("id", "cid", F.col("__drop").isNull().alias("kept"), "dist2")

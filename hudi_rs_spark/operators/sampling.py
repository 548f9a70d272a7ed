"""Deterministic sampling and data-mixing operators.

Training-data pipelines need *reproducible* sampling: the same corpus
and config must select the same rows on every run, on any cluster
layout, with no RNG state. All operators here derive a uniform 32-bit
value from md5(id || salt) and keep a row iff that value falls under
``floor(fraction * 2^32)`` — a pure map-side filter:

- no shuffle at all (the filter happens before any exchange);
- embarrassingly scalable — each task samples its own split;
- oracle-checkable — md5 is bit-identical in Spark and DuckDB.

``proportional_mix`` computes per-stratum rates *in-plan* from the
stratum counts (one small aggregate, broadcast back), so there is no
driver-side collect and the operator composes into a single Spark job
at any scale.

Reference scope note: apache/hudi-rs has no sampling operators; this is
part of the training-data-pipeline surface this repo adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hudi_rs_spark.operators.pin import pin
from hudi_rs_spark.session import local_frame

_U32 = 4294967296.0  # 2^32, exactly representable as a double


def hash_u32(col: Column, salt: str) -> Column:
    """Uniform value in [0, 2^32) from the first 8 hex chars of
    md5(col || '|' || salt). Deterministic and engine-portable."""
    d = F.md5(F.concat_ws("|", col.cast("string"), F.lit(salt)))
    return F.conv(F.substring(d, 1, 8), 16, 10).cast("long")


def hash_sample(df: DataFrame, id_col: str, fraction: float, salt: str = "s") -> DataFrame:
    """Deterministic Bernoulli sample: keep iff u32(id) < fraction * 2^32."""
    thresh = F.floor(F.lit(float(fraction)) * F.lit(_U32))
    return df.filter(hash_u32(F.col(id_col), salt) < thresh)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    default: float = 0.0,
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic sampling with explicit fractions.

    The fraction lookup is a CASE expression (pure projection — no join,
    no shuffle); strata missing from ``fractions`` use ``default``.
    """
    frac: Column = F.lit(float(default))
    for k, v in sorted(fractions.items()):
        frac = F.when(F.col(stratum_col) == k, F.lit(float(v))).otherwise(frac)
    thresh = F.floor(frac * F.lit(_U32))
    return df.filter(hash_u32(F.col(id_col), salt) < thresh)


def temperature_mix(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    alpha: float = 0.5,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-based resampling across strata (downsample-only).

    Multilingual / multi-source pretraining mixes are usually drawn with
    *temperature sampling*: target share ``p_s ∝ cnt_s^alpha`` with
    ``alpha < 1`` flattening the distribution toward uniform (alpha=1 is
    proportional, alpha=0 is uniform).  The largest mix achieving those
    shares without oversampling any stratum thins stratum ``s`` at

        rate_s = min_t(cnt_t / p_t) * p_s / cnt_s
               = (min_cnt / cnt_s) ^ (1 - alpha)

    — the normalizing constant cancels, so no cross-stratum SUM is ever
    computed.  That matters for oracle portability: a float sum's value
    depends on accumulation order, but this closed form is only
    ``sqrt``/``power``, division and ``min`` — all correctly-rounded IEEE
    ops both Spark and DuckDB evaluate bit-identically (for alpha=0.5 the
    power is ``sqrt``, which IEEE 754 requires exactly rounded).

    Plan shape: one tiny groupBy over the strata, a single-row min
    broadcast back, a broadcast rate join, then the map-side md5 filter —
    identical scale profile to :func:`proportional_mix`.
    """
    if not 0.0 <= float(alpha) <= 1.0:
        raise ValueError(
            f"temperature_mix is downsample-only: alpha must be in [0, 1], got {alpha}"
            " (alpha > 1 would silently keep every row; alpha < 0 over-flattens)"
        )
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("cnt"))
    one_minus = 1.0 - float(alpha)

    def _pow(c: Column) -> Column:
        # sqrt is IEEE-exact; pow(x, y) may differ in the last ulp
        # across libm implementations, so prefer sqrt when alpha=0.5.
        if one_minus == 0.5:
            return F.sqrt(c)
        return F.pow(c, F.lit(one_minus))

    # counts feeds BOTH min_cnt and rates; pin the <= |strata|-row frame
    # so each branch does not re-execute the corpus-sized aggregate
    # (r14, guide §5 — same fix as proportional_mix's ratios).
    counts = pin(counts)
    min_cnt = counts.agg(F.min("cnt").alias("min_cnt"))
    rates = counts.crossJoin(F.broadcast(min_cnt)).select(
        stratum_col,
        F.floor(
            _pow(F.col("min_cnt").cast("double"))
            / _pow(F.col("cnt").cast("double"))
            * F.lit(_U32)
        ).alias("u32_thresh"),
    )
    return df.join(F.broadcast(rates), stratum_col).filter(
        hash_u32(F.col(id_col), salt) < F.col("u32_thresh")
    )


def shuffle_shard(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    salt: str = "shuf",
) -> DataFrame:
    """Deterministic global shuffle into training shards.

    Training runs need the corpus in a reproducible pseudo-random order,
    materialized as ``n_shards`` shard files each internally shuffled.
    Rows get ``shard = u32(id) % n_shards`` and ``pos`` = their rank
    within the shard by ``(u32, id)`` — the id tie-break makes the order
    total, so identical inputs yield identical (shard, pos) everywhere.

    Scale: the only shuffle is the window's hash-partition on ``shard``;
    each shard sorts independently (per-shard data ≈ N/n_shards — pick
    n_shards ≥ cluster parallelism, as a real shard-writing job would).
    No driver-side state, no RNG.
    """
    from pyspark.sql import Window

    u = hash_u32(F.col(id_col), salt)
    with_shard = df.withColumn("__u", u).withColumn(
        "shard", (F.col("__u") % F.lit(int(n_shards))).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("__u", id_col)
    return with_shard.withColumn("pos", F.row_number().over(w)).drop("__u")


def proportional_mix(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    targets: dict[str, float],
    salt: str = "mix",
) -> DataFrame:
    """Sample the largest mix achieving target stratum proportions.

    Given target shares ``p_s`` (summing to 1), the maximum total sample
    honoring every share without oversampling any stratum is
    ``N = min_s(count_s / p_s)``; each stratum is then thinned at
    ``rate_s = N * p_s / count_s`` (the binding stratum keeps all rows).

    Everything stays in-plan: counts are one partial-aggregated groupBy
    over the strata, N is a single-row aggregate cross-joined (broadcast)
    back, and the final rate lookup joins a ~|strata|-row frame — Spark
    broadcasts it. The data-side work is one scan plus a map-side filter;
    rows of non-targeted strata are dropped.

    All rate arithmetic is plain IEEE double ops in a fixed order
    (no rounding), so an oracle engine computes bit-identical rates.
    """
    tgt = local_frame(
        df.sparkSession, sorted(targets.items()), f"{stratum_col} string, p double"
    )
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("cnt"))
    ratios = counts.join(F.broadcast(tgt), stratum_col).select(
        stratum_col, "cnt", "p", (F.col("cnt") / F.col("p")).alias("ratio")
    )
    # ratios feeds BOTH feasible and rates; without the pin each branch
    # re-executes the corpus-sized counts aggregate (r14, guide §5
    # materialize reused subtrees — measured: the df subtree ran 3x in
    # pipeline_curate's plan, 3 -> 2 full passes after). The pinned
    # frame is <= |strata| rows.
    ratios = pin(ratios)
    feasible = ratios.agg(F.min("ratio").alias("n_total"))
    rates = ratios.crossJoin(F.broadcast(feasible)).select(
        stratum_col,
        F.floor(F.col("n_total") * F.col("p") / F.col("cnt") * F.lit(_U32)).alias(
            "u32_thresh"
        ),
    )
    return df.join(F.broadcast(rates), stratum_col).filter(
        hash_u32(F.col(id_col), salt) < F.col("u32_thresh")
    )


def leakage_free_split(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    frac_train: float = 0.8,
    salt: str = "split",
) -> DataFrame:
    """Cluster-atomic train/validation split.

    A hash split over document ids leaks: near-duplicates land on both
    sides and the validation loss measures memorization.  Here the
    candidate near-dup ``pairs`` (id_a, id_b — any detector from
    ``operators/dedup.py``) are contracted into clusters first, and the
    md5-threshold coin flip is taken on the cluster's canonical (min) id
    — so an entire duplicate cluster moves together, by construction.

    Returns ``df`` plus (canon_id, split) with split in
    {'train', 'val'}.  Scale: the contraction runs on the pair set (tiny
    vs the corpus); the corpus-side work is one id-keyed left join plus
    a map-side hash filter — no extra corpus shuffle beyond the join.
    """
    from hudi_rs_spark.operators.graph import connected_components

    comp = connected_components(pairs, assume_distinct=True).withColumnRenamed(
        "node", id_col
    )
    thresh = F.floor(F.lit(float(frac_train)) * F.lit(_U32))
    return (
        df.join(comp, id_col, "left")
        .withColumn("canon_id", F.coalesce("component", F.col(id_col)))
        .drop("component")
        .withColumn(
            "split",
            F.when(hash_u32(F.col("canon_id"), salt) < thresh, F.lit("train"))
            .otherwise(F.lit("val")),
        )
    )

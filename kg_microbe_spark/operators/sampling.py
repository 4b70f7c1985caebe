"""Deterministic hash-based sampling and dataset splitting.

Training-data pipelines need reproducible row selection — train/val/
test splits and fractional downsampling that give the SAME answer on
every engine, every run, every cluster size. Spark's `sample()` /
`sampleBy()` are seeded per-partition (repartitioning changes the
selection) and `rand()` is banned from deterministic pipelines; the
portable form is a content hash of a stable key:

    bucket = md5_60bit(key) mod resolution

md5-60bit (the first 15 hex chars of md5 as a long) is the repo's
cross-engine hash (functions/text.py simhash uses the same trick):
Spark `conv(substring(md5(x),1,15),16,10)` equals DuckDB
`CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)` bit-for-bit, so a
split computed here is reproducible by ANY system that can md5 — the
property that matters when the val set must stay frozen across
re-crawls and engine migrations.

100-TB shape: a pure narrow map — no shuffle, no state, no driver
participation; splits are stable under repartitioning by construction."""

from __future__ import annotations

from typing import Dict, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kg_microbe_spark.session import local_frame

# 10000 buckets → 0.01% split granularity; small enough that the
# 60-bit hash's modulo bias is ~5e-15, far below any split tolerance.
RESOLUTION = 10_000


def hash_bucket(key: Column, resolution: int = RESOLUTION) -> Column:
    """Deterministic bucket in [0, resolution) from a string key."""
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    return h % F.lit(int(resolution))


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows by key hash. Rows with
    equal keys are kept or dropped together (sampling is by KEY, the
    correct unit when duplicate keys must not straddle the boundary)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    cut = int(round(fraction * RESOLUTION))
    return df.filter(hash_bucket(F.col(key_col).cast("string")) < F.lit(cut))


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: Sequence[Tuple[str, float]] = (("train", 0.8), ("val", 0.1), ("test", 0.1)),
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a split label by key hash; weights must sum to 1.
    The assignment is a single `when` chain over cumulative bucket
    boundaries — one narrow projection, no shuffle, stable under
    repartitioning and incremental arrival (a re-crawled url lands in
    the same split forever)."""
    total = sum(w for _, w in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = hash_bucket(F.col(key_col).cast("string"))
    expr = None
    acc = 0.0
    for name, weight in splits:
        acc += weight
        bound = int(round(acc * RESOLUTION))
        cond = bucket < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # float rounding could leave the last boundary a hair under
    # RESOLUTION; the otherwise() pins stragglers to the last split.
    return df.withColumn(split_col, expr.otherwise(F.lit(splits[-1][0])))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: Dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling (the language/source
    rebalancing step of a corpus pipeline: keep all `en`, 25% of `pt`, …).
    Same md5-bucket mechanism as `hash_sample`, with the cut chosen per
    stratum via one `when` chain — still a pure narrow map, no shuffle,
    and a row's fate depends only on (key, its stratum's fraction), so
    growing one stratum's fraction later only ADDS rows (nested samples,
    the property that keeps eval sets frozen across quota changes).
    Strata absent from ``fractions`` fall back to ``default_fraction``."""
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {name!r} must be in [0,1], got {frac}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0,1], got {default_fraction}")
    cut = None
    for name in sorted(fractions):
        bound = F.lit(int(round(fractions[name] * RESOLUTION)))
        cond = F.col(strata_col) == F.lit(name)
        cut = F.when(cond, bound) if cut is None else cut.when(cond, bound)
    default_bound = F.lit(int(round(default_fraction * RESOLUTION)))
    cut = default_bound if cut is None else cut.otherwise(default_bound)
    return df.filter(hash_bucket(F.col(key_col).cast("string")) < cut)


def deterministic_group_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    k: int,
) -> DataFrame:
    """EXACTLY ``k`` rows per stratum (fewer when the stratum is smaller)
    — the fixed-quota companion to ``stratified_hash_sample``'s fractions
    (eval-set construction: "500 docs per language, frozen forever").

    Selection = the k keys with the SMALLEST md5-60bit hash per stratum
    (tiebreak: key asc — md5 collisions at 60 bits are ~n²/2⁶¹), via one
    rank window per stratum. Deterministic and engine-portable like the
    other samplers, but NOT nested under k growth per se — it is
    PREFIX-STABLE: the top-k set is always a prefix of the same global
    hash order, so growing k only appends. One shuffle (the window);
    at corpus scale prefer fraction-based sampling unless the quota
    semantics are required."""
    if k < 1:
        raise ValueError(f"k must be ≥ 1, got {k}")
    from pyspark.sql import Window

    h = hash_bucket(F.col(key_col).cast("string"), resolution=1 << 60)
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def split_counts(df: DataFrame, key_col: str, **kwargs) -> Dict[str, int]:
    """Convenience: split sizes for quick skew/ratio checks (dimension-
    scale result; the full frame never leaves the executors)."""
    rows = hash_split(df, key_col, **kwargs).groupBy("split").count().collect()
    return {r["split"]: r["count"] for r in rows}


def mixture_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    targets: Dict[str, float],
) -> DataFrame:
    """Build a training mix with prescribed group shares ("50% web,
    30% wiki, 20% books") — the mix-construction step every LLM data
    recipe ends with. The mix is the LARGEST feasible: n_out =
    min_g(count_g / share_g), each group then keeps the deterministic
    hash fraction share_g·n_out/count_g of its rows.

    Scale shape: the only aggregation is the |groups|-row count frame
    (collected — dimension-sized by definition of a mix recipe); the
    selection itself is the zero-shuffle md5-threshold filter of
    ``hash_sample``, so membership is stable under repartitioning,
    re-runs, and engine migrations, and growing one group's corpus
    only ever APPENDS to the others' selections (per-group cuts are
    hash-prefix stable)."""
    import math

    if not targets:
        raise ValueError("targets must be non-empty")
    total = sum(targets.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"target shares must sum to 1, got {total}")
    filtered = df.filter(F.col(group_col).isin(*targets.keys()))
    counts = {
        r["g"]: r["c"]
        for r in filtered.groupBy(F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()  # |groups| rows — dimension-sized by contract
    }
    absent = sorted(set(targets) - set(counts))
    if absent:
        raise ValueError(f"target groups missing from the data: {absent}")
    n_out = min(counts[g] / s for g, s in targets.items())
    # floor(x + 0.5) instead of round(): identical on every engine
    # (Python round() is banker's; SQL ROUND is away-from-zero)
    cuts = {
        g: int(math.floor(min(1.0, s * n_out / counts[g]) * RESOLUTION + 0.5))
        for g, s in targets.items()
    }
    cut_map = F.create_map(
        *[F.lit(x) for gc in cuts.items() for x in gc]
    )
    return filtered.filter(
        hash_bucket(F.col(key_col).cast("string"))
        < cut_map[F.col(group_col)]
    )


def weighted_group_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    strata_col: str,
    k: int,
) -> DataFrame:
    """EXACTLY ``k`` rows per stratum sampled WITHOUT replacement with
    probability proportional to ``weight_col`` — Efraimidis-Spirakis
    (2006) A-ES: each item draws priority u^(1/w) and the k largest
    win. The weighted companion to ``deterministic_group_sample``
    (quality-weighted eval-set construction: sample per-language docs
    ∝ quality score, frozen forever).

    u comes from the same md5-60bit hash as every sampler here —
    u = (h+1)/2⁶⁰ ∈ (0,1] — so selection is deterministic,
    engine-portable, and partition-invariant; the rank key is
    ln(u)/w (monotone in u^(1/w), computed in double — one ln of an
    exact rational and one division, bit-identical across engines),
    ties to key asc. Non-positive/null weights are excluded (a zero
    weight must never be drawn; A-ES is undefined there).

    One keyed window per stratum — the same single-shuffle shape and
    scale caveats as ``deterministic_group_sample``.
    """
    if k < 1:
        raise ValueError(f"k must be ≥ 1, got {k}")
    from pyspark.sql import Window

    h = hash_bucket(F.col(key_col).cast("string"), resolution=1 << 60)
    u = (h + F.lit(1)) / F.lit(float(1 << 60))
    score = F.log(u) / F.col(weight_col).cast("double")
    w = Window.partitionBy(strata_col).orderBy(
        score.desc(), F.col(key_col).asc()
    )
    return (
        df.filter(F.col(weight_col).cast("double") > 0)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def neighbor_fanout_sample(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    k: int,
    seed: str = "s0",
) -> DataFrame:
    """Fixed fan-out neighbor sampling — at most ``k`` distinct
    neighbors per source node, the GraphSAGE §3 mini-batch sampler
    (Hamilton et al. 2017) that bounds per-node aggregation work on a
    power-law graph before any GNN feature join (compose with
    ``projection.neighbor_mean_features``).

    Selection is the k neighbors with the SMALLEST md5-60bit of
    ``src|dst|seed`` — deterministic, partition-invariant, and
    PREFIX-STABLE in k (growing the fan-out only appends neighbors, so
    a cached layer-1 sample stays a subset of a re-run at larger k).
    Distinct seeds draw independent samples (multi-layer GraphSAGE
    wants fresh neighborhoods per layer). Parallel edges collapse
    first — the unit sampled is the distinct neighbor, not the edge.

    Shape: one (src, dst) distinct + one keyed window; a hub's
    candidate set spreads over the dedup exchange before the window
    sees it. The window is per-source top-k like every W3 rank here;
    at extreme hub degree the repeated-min_by form trades k passes for
    the sort, same as deterministic_group_sample's caveat.
    """
    if k < 1:
        raise ValueError(f"k must be ≥ 1, got {k}")
    from pyspark.sql import Window

    e = edges.select(src_col, dst_col).distinct()
    h = hash_bucket(
        F.concat_ws(
            "|",
            F.col(src_col).cast("string"),
            F.col(dst_col).cast("string"),
            F.lit(seed),
        ),
        resolution=1 << 60,
    )
    w = Window.partitionBy(src_col).orderBy(h.asc(), F.col(dst_col).asc())
    return (
        e.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def greedy_set_cover(
    df: DataFrame,
    id_col: str,
    item_col: str,
    k: int,
) -> "list":
    """Greedy maximum-coverage document selection (the (1−1/e)-optimal
    classic): k rounds, each picking the document whose item set adds
    the most NOT-yet-covered items — the coverage-driven corpus
    selection step of a training-data pipeline (pick k docs that span
    the vocabulary / entity space), where proportional samplers
    (mixture_sample, weighted_group_sample) can't see redundancy
    between picks.

    Each round is one distributed aggregation: anti-join the (id, item)
    facts against the covered-item set (BROADCAST — bounded by the
    total distinct-item vocabulary, the same budget every dictionary
    broadcast in this repo documents), groupBy(id).count, take the
    (count DESC, id ASC) argmax via orderBy().limit(1) — a ONE-ROW
    driver collect per round, the same contract as graph_summary's
    limit(1) scalars (stats.py). Ties break on id: deterministic.
    Inherently iterative (each pick changes every later marginal gain),
    so there is no SQL oracle — the driver entry is rows-only and the
    brute-force equivalence lives in pytest.

    Returns a list of Rows (rank, id, marginal_gain, covered_total),
    rank 1-based, stopping early when no document adds coverage.
    """
    if k < 1:
        raise ValueError(f"k must be ≥ 1, got {k}")
    facts = (
        df.select(
            F.col(id_col).cast("string").alias("_id"),
            F.col(item_col).cast("string").alias("_item"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = df.sparkSession
    covered = local_frame(spark, [], "_item string")
    out = []
    total = 0
    for rank in range(1, k + 1):
        gains = (
            facts.join(F.broadcast(covered), "_item", "left_anti")
            .groupBy("_id")
            .agg(F.count(F.lit(1)).alias("_gain"))
            .orderBy(F.col("_gain").desc(), F.col("_id").asc())
            .limit(1)
            .collect()
        )
        if not gains or gains[0]._gain == 0:
            break
        best = gains[0]
        total += best._gain
        out.append((rank, best._id, best._gain, total))
        covered = (
            covered.unionByName(
                facts.filter(F.col("_id") == best._id).select("_item")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
    return out

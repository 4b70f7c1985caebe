"""A7 — graph summary stats: the merged_graph_stats.yaml equivalent
(merge.yaml:272-286) as one multi-facet pass.

The reference computes facets with nested loops over the whole graph; here
a single ``cube`` (or per-facet groupBys unioned) produces counts by
predicate, category, provided_by, and spo-triple type in one shuffle each.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kg_microbe_spark.session import local_frame


def _prefix(col):
    return F.split(col, ":")[0]


def edge_stats(edges: DataFrame) -> DataFrame:
    """Counts by predicate + spo prefix-shape (the 'triple type' facet)."""
    shaped = edges.select(
        "predicate",
        F.concat_ws("-", _prefix(F.col("subject")), F.col("predicate"), _prefix(F.col("object"))).alias(
            "spo_type"
        ),
        _prefix(F.col("subject")).alias("subject_prefix"),
        _prefix(F.col("object")).alias("object_prefix"),
    )
    return shaped.cube("predicate", "spo_type").count().filter(
        F.col("predicate").isNotNull() | F.col("spo_type").isNotNull()
    )


def node_stats(nodes: DataFrame) -> DataFrame:
    return nodes.groupBy("category").agg(
        F.count("*").alias("n_nodes"),
        F.count_distinct("provided_by").alias("n_sources"),
    )


def graph_summary(nodes: DataFrame, edges: DataFrame) -> dict:
    """Driver-side scalar summary (the yaml headline numbers)."""
    n_nodes = nodes.count()
    n_edges = edges.count()
    top_pred = (
        edges.groupBy("predicate").count().orderBy(F.col("count").desc(), F.col("predicate")).limit(1).collect()
    )
    return {
        "total_nodes": n_nodes,
        "total_edges": n_edges,
        "largest_predicate": top_pred[0].predicate if top_pred else None,
        "largest_predicate_count": top_pred[0]["count"] if top_pred else 0,
    }


def group_quantiles(
    df: DataFrame,
    key_cols,
    value_col: str,
    qs=(0.25, 0.5, 0.75),
) -> DataFrame:
    """EXACT per-group quantiles → (keys…, q, quantile_value): the value
    at rank ceil(q·n) in each group's sort order (type-7-free "inverted
    CDF" definition — a value that exists in the data, deterministic
    under ties because tied rows carry the same value).

    Shape: ONE shuffle (the window partition), rank + count sharing the
    window spec, then a broadcast join against the |qs|-row literal
    frame. At 100 TB per-key exact quantiles are affordable when keys
    are dimension-like (per-source, per-language); for global quantiles
    over raw values use the A6 histogram CDF (calibration.py) — exact
    bin arithmetic, no per-group sort.

    qs must lie in (0, 1]: q→ceil(q·n) hits rank n at q=1 (max), and
    q=0 is meaningless in this definition (raises)."""
    from pyspark.sql import Window

    qs = [float(q) for q in qs]
    if any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"quantiles must be in (0,1], got {qs}")
    key_cols = list(key_cols)
    w = Window.partitionBy(*key_cols).orderBy(F.col(value_col).asc())
    ranked = df.select(
        *key_cols,
        F.col(value_col),
        F.row_number().over(w).alias("_rk"),
        F.count("*").over(Window.partitionBy(*key_cols)).alias("_n"),
    )
    spark = df.sparkSession
    qdf = F.broadcast(local_frame(spark, [(q,) for q in qs], "q double"))
    return (
        ranked.crossJoin(qdf)
        .filter(F.col("_rk") == F.ceil(F.col("q") * F.col("_n")))
        .select(*key_cols, "q", F.col(value_col).alias("quantile_value"))
    )


def dimensional_rollup(
    df: DataFrame, dims: list[str], measure: str
) -> DataFrame:
    """OLAP ROLLUP over ``dims`` with count + sum(``measure``) and the
    SQL-standard GROUPING id to disambiguate "NULL because subtotal"
    from "NULL in the data" — the reference's per-source/per-predicate
    summary tables (merged_graph_stats.yaml facets) generalized to one
    hierarchical pass.

    Spark shape: ``DataFrame.rollup`` compiles to ONE Expand + ONE
    map-combinable aggregation — |dims|+1 grouping sets in a single
    shuffle instead of |dims|+1 separate groupBy jobs; subtotal rows
    collapse in map-side partials like any other key. ``grouping_id()``
    follows the same bit order as SQL GROUPING(dim1, dim2, ...).
    """
    return (
        df.rollup(*dims)
        .agg(
            F.grouping_id().alias("grouping_level"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(measure).cast("long")).alias("total"),
        )
        .select(*dims, "grouping_level", "n", "total")
    )


def pivot_table(
    df: DataFrame,
    key_col: str,
    pivot_col: str,
    values: list[str],
) -> DataFrame:
    """Long→wide crosstab: one row per ``key_col``, one count column per
    PINNED ``pivot_col`` value — the inverse of ``binning.melt_trait_
    columns`` (the reference's wide trait tables reconstructed from
    long (id, trait, value) rows).

    The value list is REQUIRED (pinned): Spark's two-pass value
    discovery is a full extra scan at corpus scale, and an unpinned
    schema is nondeterministic under data drift — a production sink
    schema must not depend on what happened to arrive today. With
    pinned values the plan is ONE map-combinable aggregation (pivot
    compiles to per-value conditional counts); values absent for a key
    yield 0, not NULL (count semantics).
    """
    out = (
        df.groupBy(key_col)
        .pivot(pivot_col, values)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        key_col,
        *[F.coalesce(F.col(v), F.lit(0)).cast("long").alias(v) for v in values],
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-pass column profiler — per column: row count, null count,
    exact distinct count, min/max (stringified so heterogeneous column
    types share one long-format schema). The data-quality gate a
    pipeline runs on every new ingest before transforms see it
    (reference analog: the ad-hoc per-source sanity checks in its
    transform notebooks — here one operator, any table).

    Shape: ONE aggregation pass computes every per-column metric as
    parallel agg expressions (count/sum/min/max are map-combinable;
    count_distinct expands per column but still partial-aggregates),
    yielding a single 1×(5·|cols|) row that is exploded IN-ROW to the
    long format — no per-column scans, no driver loop over the data.
    min/max stringify BEFORE aggregation so ordering is the COLUMN
    type's, not the string's, only the reported value is cast.
    Returns (column, n_rows, n_nulls, n_distinct, min_value,
    max_value) — one row per profiled column.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs.extend(
            [
                F.count(F.lit(1)).alias(f"_n_{c}"),
                F.sum(col.isNull().cast("long")).alias(f"_nulls_{c}"),
                F.count_distinct(col).alias(f"_dist_{c}"),
                F.min(col).cast("string").alias(f"_min_{c}"),
                F.max(col).cast("string").alias(f"_max_{c}"),
            ]
        )
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"_n_{c}").alias("n_rows"),
                F.col(f"_nulls_{c}").alias("n_nulls"),
                F.col(f"_dist_{c}").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_value"),
                F.col(f"_max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(rows).alias("_r")).select("_r.*")


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "subject",
    dst_col: str = "object",
) -> DataFrame:
    """Directed degree assortativity (Pearson r of out-degree(src) vs
    in-degree(dst) across distinct edges) as one row of EXACT BIGINT
    moments plus the rounded coefficient — the standard web-graph
    health metric (link farms and scraped mirror clusters show strong
    positive assortativity; organic link graphs are near zero or
    negative).

    Scale shape: degrees are two map-combinable groupBy counts over
    the distinct edge set; each joins back to edges on its own key —
    plain shuffle equi-joins that AQE can skew-split, never a collect.
    Because degrees are integers, ALL five Pearson moments (Σx Σy Σxy
    Σx² Σy²) are exact BIGINT sums — addition-order-free — and the
    only float ops are one division and two sqrt calls on those exact
    integers, both IEEE-correctly-rounded and therefore engine-stable.
    Returns (n_edges, sx, sy, sxy, sx2, sy2, assortativity).
    """
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).distinct()
    outd = e.groupBy("_s").agg(F.count(F.lit(1)).alias("x"))
    ind = e.groupBy("_d").agg(F.count(F.lit(1)).alias("y"))
    xy = e.join(outd, "_s").join(ind, "_d")
    m = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sy2"),
    )
    n = F.col("n_edges")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sx2") - F.col("sx") * F.col("sx")
    vy = n * F.col("sy2") - F.col("sy") * F.col("sy")
    return m.select(
        "n_edges",
        "sx",
        "sy",
        "sxy",
        "sx2",
        "sy2",
        F.when(
            (vx > 0) & (vy > 0),
            F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("assortativity"),
    )


def kmv_distinct(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-key distinct-count estimate via the K-Minimum-Values sketch
    (Bar-Yossef et al. 2002): keep the k smallest hashes of the
    distinct values, estimate D ≈ (k−1)/F(h_k) where F normalizes the
    k-th smallest hash into [0,1) — the mergeable cardinality sketch
    for cases where ``approx_count_distinct``'s HLL is unavailable or
    an engine-portable, exactly-reproducible estimate is required
    (this one uses the md5-60-bit hash, so a SQL oracle replays it
    bit-for-bit; xxhash64 would be cheaper but engine-specific).

    Keys with fewer than k distinct values report the EXACT count
    (the sketch is lossless below its capacity). Ties in the hash
    order break on the value string, so the kept set is deterministic
    even under (astronomically unlikely) 60-bit collisions.

    Scale shape: the (key, value) distinct collapses duplicates
    map-side; rank-k-per-key runs as ONE window partitioned by the
    key — the partition carries the key's distinct VALUES, which is
    exactly the quantity being sketched, so a hub key is the
    documented hot spot; pre-filtering h below a coarse global
    threshold (k / expected-D quantile) bounds it when hubs are known.
    Returns (``key_col``, n_kept, est_distinct) with est rounded 6 dp.
    """
    if k < 2:
        raise ValueError(f"k must be ≥ 2, got {k}")
    from pyspark.sql import Window as W

    from kg_microbe_spark.operators.dedup import portable_hash60_col

    hv = (
        df.select(
            F.col(key_col).alias("_k"),
            F.col(value_col).cast("string").alias("_v"),
        )
        .distinct()
        .select("_k", "_v", portable_hash60_col(F.col("_v")).alias("_h"))
    )
    w = W.partitionBy("_k").orderBy(F.col("_h").asc(), F.col("_v").asc())
    top = (
        hv.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.lit(int(k)))
        .groupBy("_k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.max("_h").cast("long").alias("_hk"),
        )
    )
    est = F.lit(float(k - 1)) * F.lit(float(1 << 60)) / F.col("_hk")
    return top.select(
        F.col("_k").alias(key_col),
        "n_kept",
        F.when(F.col("n_kept") < F.lit(int(k)), F.col("n_kept").cast("double"))
        .otherwise(F.round(est, 6))
        .alias("est_distinct"),
    )


def numeric_correlations(
    df: DataFrame,
    cols: list[tuple[str, Column]],
) -> DataFrame:
    """Pairwise Pearson correlation matrix over pre-integerized numeric
    columns — the column-profiling companion (which measurement columns
    in a scraped table are redundant? which extracted quantitative
    trait tracks which?) to ``profile_columns``'s per-column pass.

    ``cols`` is a list of (name, integer-valued Column): the CALLER
    integerizes (floor(scale·x)) because the right scale is per-column
    domain knowledge. All five moments per pair (n, Σa, Σb, Σab, Σa²,
    Σb²) are exact BIGINT sums in ONE combinable keyless aggregation —
    one fact pass for ALL pairs, no shuffle beyond the aggregate's
    single-row reduce. Overflow contract (documented, asserted nowhere
    cheaper): n·max(|v|)² must stay < 2^63 — pick scales accordingly.
    r is ONE float dataflow from the exact moments, rounded to 6 dp;
    constant columns (zero variance) report NULL. Output: one row per
    unordered pair (col_a, col_b, n, r).
    """
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    proj = df.select(
        *[c.cast("long").alias(f"_v{i}") for i, (_, c) in enumerate(cols)]
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for i in range(len(cols)):
        v = F.col(f"_v{i}")
        aggs.append(F.sum(v).cast("long").alias(f"_s{i}"))
        aggs.append(F.sum(v * v).cast("long").alias(f"_q{i}"))
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            aggs.append(
                F.sum(F.col(f"_v{i}") * F.col(f"_v{j}"))
                .cast("long")
                .alias(f"_p{i}_{j}")
            )
    one = proj.agg(*aggs)
    pair_rows = []
    n = F.col("_n").cast("double")
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            sa, sb = F.col(f"_s{i}").cast("double"), F.col(f"_s{j}").cast("double")
            qa, qb = F.col(f"_q{i}").cast("double"), F.col(f"_q{j}").cast("double")
            sab = F.col(f"_p{i}_{j}").cast("double")
            var_a = n * qa - sa * sa
            var_b = n * qb - sb * sb
            cov = n * sab - sa * sb
            r = F.when(
                (var_a > 0) & (var_b > 0),
                F.round(cov / F.sqrt(var_a * var_b), 6),
            )
            pair_rows.append(
                F.struct(
                    F.lit(cols[i][0]).alias("col_a"),
                    F.lit(cols[j][0]).alias("col_b"),
                    F.col("_n").alias("n"),
                    r.alias("r"),
                )
            )
    return one.select(
        F.explode(F.array(*pair_rows)).alias("_row")
    ).select("_row.col_a", "_row.col_b", "_row.n", "_row.r")


def h_index_per_key(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key h-index: the largest k such that the key has ≥ k rows
    with value ≥ k (Hirsch 2005) — the robust "how many STRONG links"
    summary for a link graph (a domain's h-index over per-page inlink
    counts resists both hub spam and long thin tails, unlike sum or
    max). Keys with no row where value ≥ 1 report h = 0.

    Scale shape: ONE window partitioned by the key ordering values
    DESC (rank ties broken by the value itself are harmless: the
    h condition min(rank-th value, rank) is monotone), then a
    combinable groupBy(key).max(min(value, rank)). The window's
    per-key sort is the unavoidable cost; no self-join, no global
    sort. Returns (key, h_index).
    """
    from pyspark.sql import Window as W

    v = F.col(value_col).cast("long")
    w = W.partitionBy(F.col(key_col)).orderBy(v.desc())
    ranked = df.select(
        F.col(key_col).alias("_k"),
        F.least(v, F.row_number().over(w).cast("long")).alias("_h"),
    )
    return (
        ranked.groupBy("_k")
        .agg(F.greatest(F.max("_h"), F.lit(0).cast("long")).alias("h_index"))
        .select(F.col("_k").alias(key_col), "h_index")
    )


def hll_alpha(m: int) -> float:
    """Standard bias-correction constant for an m-register HLL
    (Flajolet et al. 2007 §4); a plan-build-time Python literal so a
    SQL oracle can interpolate the identical constant."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_distinct(
    df: DataFrame,
    key_col: str,
    value_col: str,
    p: int = 6,
) -> DataFrame:
    """Per-key distinct-count estimate via HyperLogLog register merge
    (Flajolet et al. 2007) — the register form of what
    ``approx_count_distinct`` runs natively; shipped separately because
    (a) the REGISTERS are the mergeable sketch a 100-TB rollup stores
    per partition/day and folds with a plain ``max`` per register, and
    (b) this variant is engine-portable bit-for-bit: the md5-60-bit
    hash (operators/dedup.py portable_hash60_col) splits into a low-p
    register index and a (60-p)-bit remainder whose rank
    rho = (60-p) - bitlength + 1 both Spark and DuckDB compute exactly
    via ``length(bin(x))`` — no floating log2 in the hot path.

    Unlike kmv_distinct (stats.py:258, the house exact-below-capacity
    sketch), HLL needs NO per-key window and NO pre-distinct: the
    register is max(rho), idempotent under duplicates, so the whole
    operator is two combinable groupBys — (key, register) then (key) —
    with map-side partial aggregation absorbing any hub key. That is
    the strictly better 100-TB shape; KMV stays for exact small-key
    counts.

    The estimate applies the standard small-range linear-counting
    correction (E ≤ 2.5m with empty registers → m·ln(m/V)). The
    register sum Σ2^(-M_j) is a sum of exact powers of two with
    exponent spread < 53 bits, hence an EXACT double regardless of
    summation order — cross-engine reproducible; ln() differs at most
    in the last ulp, invisible at the 6-dp rounding.

    Returns (``key_col``, n_zero_registers, est_distinct).
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    from kg_microbe_spark.operators.dedup import portable_hash60_col

    m = 1 << p
    width = 60 - p
    alpha = hll_alpha(m)

    # _w = h >> p via integer division (DIV here, // in the oracle) —
    # the / operator would round-trip a 60-bit long through a double.
    h = portable_hash60_col(F.col(value_col).cast("string"))
    hv = df.select(
        F.col(key_col).alias("_k"),
        h.alias("_h"),
    ).select(
        "_k",
        (F.col("_h") % F.lit(m)).alias("_j"),
        F.expr(f"_h DIV {m}").alias("_w"),
    )
    rho = F.when(F.col("_w") == 0, F.lit(width + 1)).otherwise(
        F.lit(width + 1) - F.length(F.bin(F.col("_w")))
    )
    regs = hv.groupBy("_k", "_j").agg(F.max(rho).cast("int").alias("_M"))
    agg = regs.groupBy("_k").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("_M"))).alias("_s"),
        F.count(F.lit(1)).alias("_nz"),
    )
    # registers never hit by a value contribute 2^0 = 1 each
    s_full = F.col("_s") + (F.lit(m) - F.col("_nz")).cast("double")
    v_zero = (F.lit(m) - F.col("_nz")).cast("long")
    e_raw = F.lit(alpha * m * m) / s_full
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double")),
    ).otherwise(e_raw)
    return agg.select(
        F.col("_k").alias(key_col),
        v_zero.alias("n_zero_registers"),
        F.round(est, 6).alias("est_distinct"),
    )


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """2-D skyline: the rows minimizing (``x_col``, ``y_col``) under
    Pareto dominance — row r is kept iff no other row is ≤ on both
    dimensions and < on at least one (Börzsönyi et al. 2001). The
    multi-objective "best tradeoff" query (cheapest-AND-smallest part,
    fastest-AND-shortest route) that a plain ORDER BY cannot answer.

    Spark-first shape — NOT the all-pairs dominance join: (1) a
    combinable groupBy(x).min(y) collapses the fact table to one row
    per distinct x; (2) ONE global window ordered by x computes the
    running min of y over strictly-preceding x-groups — an x-group is
    on the frontier iff its min-y beats that running min (a later x
    can only stay by strictly improving y, and within an x-group only
    min-y can survive); (3) an equi-join back tags the original rows.
    The single-partition window is bounded by |distinct x|, NOT fact
    rows — the standard skyline cardinality assumption; coarsen x
    (e.g. price cents → price bands) when distinct-x itself is huge.

    Returns the frontier rows of ``df`` (original columns), every tie
    on an (x, y) frontier point included.
    """
    from pyspark.sql import Window as W

    x = F.col(x_col)
    g = df.groupBy(x.alias("_x")).agg(F.min(F.col(y_col)).alias("_my"))
    w = W.orderBy(F.col("_x").asc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    frontier = (
        g.withColumn("_prev", F.min("_my").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_my") < F.col("_prev")))
        .select("_x", "_my")
    )
    return df.join(
        F.broadcast(frontier),
        (x == F.col("_x")) & (F.col(y_col) == F.col("_my")),
    ).drop("_x", "_my")


def mad_outliers(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_col: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Robust per-key outlier flags via the median-absolute-deviation
    z-score |0.6745·(x − med)/MAD| > threshold (Iglewicz & Hoaglin
    1993) — the outlier gate that, unlike burst_zscores' mean/std, a
    single wild value cannot drag: breakdown point 50%.

    Both medians use the house exact-rank definition (value at rank
    ceil(n/2) in sort order — group_quantiles' inverted CDF, a value
    that EXISTS in the data, deterministic under ties), so a SQL oracle
    replays them with ROW_NUMBER. Shape: two per-key rank windows (one
    over values, one over |deviation|) + two combinable groupBy-min
    extractions joined back — per-key sorts, no self-joins; same scale
    contract as group_quantiles (keys are dimension-like; for global
    robust stats use the histogram CDF).

    Ties inside the rank windows break on ``id_col`` — harmless to the
    selected value (tied rows carry equal values) but it makes the
    whole plan a total function of the input. MAD = 0 (a majority-
    constant key) yields robust_z NULL and is_outlier false for the
    constant rows — documented, matches the scipy convention of
    refusing the division rather than inventing infinities.

    Returns (key, id, value, robust_z rounded 6 dp, is_outlier).
    """
    from pyspark.sql import Window as W

    v = F.col(value_col).cast("double")
    base = df.select(
        F.col(key_col).alias("_k"), F.col(id_col).alias("_id"), v.alias("_v")
    )
    w1 = W.partitionBy("_k").orderBy(F.col("_v").asc(), F.col("_id").asc())
    ranked = base.withColumn("_rk", F.row_number().over(w1)).withColumn(
        "_n", F.count(F.lit(1)).over(W.partitionBy("_k"))
    )
    med = (
        ranked.filter(F.col("_rk") == F.ceil(F.col("_n") / 2))
        .groupBy("_k")
        .agg(F.min("_v").alias("_med"))
    )
    dev = base.join(med, "_k").withColumn("_d", F.abs(F.col("_v") - F.col("_med")))
    w2 = W.partitionBy("_k").orderBy(F.col("_d").asc(), F.col("_id").asc())
    devr = dev.withColumn("_rk", F.row_number().over(w2)).withColumn(
        "_n", F.count(F.lit(1)).over(W.partitionBy("_k"))
    )
    mad = (
        devr.filter(F.col("_rk") == F.ceil(F.col("_n") / 2))
        .groupBy("_k")
        .agg(F.min("_d").alias("_mad"))
    )
    z = F.when(
        F.col("_mad") > 0,
        F.round(
            F.lit(0.6745) * (F.col("_v") - F.col("_med")) / F.col("_mad"), 6
        ),
    )
    return (
        dev.join(mad, "_k")
        .select(
            F.col("_k").alias(key_col),
            F.col("_id").alias(id_col),
            F.col("_v").alias(value_col),
            z.alias("robust_z"),
            F.coalesce(F.abs(z) > F.lit(threshold), F.lit(False)).alias(
                "is_outlier"
            ),
        )
    )

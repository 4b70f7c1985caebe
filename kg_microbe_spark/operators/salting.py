"""Explicit salting — the third skew mitigation the north rule names
(alongside AQE skew-join splitting, session.py, and the partial-aggregation
merge rewrites, dedup.py/merge.py).

Where it matters: aggregations whose STATE is the payload. min_by/count/sum
absorb hub keys with map-side partial aggregation (each task emits one
partial row per key), but ``collect_set``/``collect_list`` partials are the
collected data itself — a hub key ("E. coli" xrefs on a large fraction of a
web corpus; the reference's NCBITaxon fan-in, merged_graph_stats.yaml) still
funnels its entire value set through ONE reducer. Salting splits that state:

    phase 1: groupBy(key, salt)  — hub key spread over ``salt_buckets``
             reducers, each collecting a partial set;
    phase 2: groupBy(key)        — flatten at most ``salt_buckets`` partial
             arrays per key.

The salt is ``hash(value) % salt_buckets`` — NOT random: same value → same
bucket, so phase-1 sets are globally disjoint and phase 2 is a pure
concatenation (no re-dedup pass over the hub's full value list), and the
operator stays deterministic (resume/retry-safe, no Date.now()/rand in the
plan). Reference analogue: A3 group-collect (SURVEY.md §2.4) — same output,
skew-safe shape.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    salt_source_col: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: replicate the (non-broadcastable) ``dim`` side
    ``salt_buckets`` ways and spread each fact key's rows across those
    replicas, so a hub key ("E. coli" joined to its ontology row on a large
    fraction of a web corpus — the NCBITaxon fan-in the north rule's skew
    clause is about) lands on ``salt_buckets`` reducers instead of one.

    Semantics are EXACTLY ``facts.join(dim, on, how)`` for ``inner`` and
    ``left`` joins: every fact row carries one salt value and meets the one
    dim replica with that salt, so no duplicates and no misses.

    The fact salt is ``hash(salt_source_col) % salt_buckets`` — NOT random
    (resume/retry-safe, stable under repartitioning). Pass a column that
    varies WITHIN a hot key (a row id, url, or line number); a column
    constant per key degenerates to the unsalted placement.

    Use when the dim side is too big to broadcast AND AQE skew splitting
    can't see the skew (e.g. the skewed side is freshly exploded or AQE is
    off). Cost: dim shuffles ``salt_buckets``× — bounded and chosen, unlike
    the unbounded single-reducer straggler it removes. Reference analogue:
    the merge/link joins of SURVEY §2.3 (J1/J6) under hub entities."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    on = list(on)
    overlap = set(facts.columns) & set(dim.columns) - set(on)
    if overlap:
        raise ValueError(f"ambiguous non-key columns on both sides: {sorted(overlap)}")
    salt = F.pmod(F.xxhash64(F.col(salt_source_col).cast("string")), F.lit(salt_buckets))
    f = facts.withColumn("_salt", salt)
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return f.join(d, on=on + ["_salt"], how=how).drop("_salt")


def salted_collect_set(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    out_col: str,
    salt_buckets: int = 32,
    count_col: Optional[str] = None,
) -> DataFrame:
    """Skew-safe ``groupBy(key).agg(sort_array(collect_set(value)))``.

    Output: one row per key with ``out_col`` = sorted array of distinct
    values (deterministic), plus ``count_col`` = total row count per key if
    requested (summed from phase-1 partials — free, no extra shuffle).

    ``salt_buckets`` bounds the per-reducer state at ~|hub set|/buckets;
    size it so a bucket's partial set fits executor memory at the target
    scale. Non-hub keys cost one extra (tiny) shuffle of pre-shrunk
    arrays — the overhead is a constant factor on the DIMENSION-sized
    phase-2 input, not on the fact-table fan-in.
    """
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    salt = F.pmod(F.xxhash64(F.col(value_col).cast("string")), F.lit(salt_buckets))
    phase1_aggs = [F.collect_set(value_col).alias("_part")]
    if count_col:
        phase1_aggs.append(F.count("*").alias("_cnt"))
    phase1 = df.groupBy(*key_cols, salt.alias("_salt")).agg(*phase1_aggs)
    # value-hash salting makes phase-1 sets disjoint across buckets, so the
    # merge is flatten+sort — never a re-dedup over the hub's full set.
    phase2_aggs = [F.array_sort(F.flatten(F.collect_list("_part"))).alias(out_col)]
    if count_col:
        phase2_aggs.append(F.sum("_cnt").cast("long").alias(count_col))
    return phase1.groupBy(*key_cols).agg(*phase2_aggs)

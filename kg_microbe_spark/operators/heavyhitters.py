"""Frequent-token (heavy-hitter) mining over a document corpus.

The naive plan — explode every token and ``groupBy(token).count()`` —
shuffles one partial-count row per (task, distinct-token). On web text
the distinct-token set is dominated by a long tail of unique junk
(urls, hashes, typos), so at 100 TB the shuffle is ∝ |vocabulary| ×
|tasks| even though only a few thousand tokens can possibly clear any
interesting threshold.

Two-pass sketch-then-verify shape (the standard production pattern):

  pass 1 — per-partition Misra-Gries summaries, NO shuffle. A capacity-k
      MG summary underestimates any token's in-partition count by at most
      n_p/k, so every token with global count > n/k survives in at least
      one partition's summary (pigeonhole over partitions). The union of
      summaries is therefore a SUPERSET of the true heavy hitters —
      at most k × |partitions| candidates, collected to the driver.
  pass 2 — exact counts of the candidate set only: explode + isin-filter
      + groupBy. Map-side partial aggregation shrinks each task's output
      to ≤ |candidates| rows, so the shuffle is ∝ |candidates| × |tasks|
      — independent of vocabulary size.

The result is EXACT (pass 2 recounts), which is what makes a DuckDB
oracle possible; the sketch only prunes the shuffle. MG runs in
``mapInPandas`` — a genuinely per-partition stateful stream algorithm,
i.e. the designated use of the Python path (task brief: custom sketches).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg_microbe_spark.functions.text import tokens_col
from kg_microbe_spark.session import local_frame


def _mg_candidates(df_text: DataFrame, capacity: int) -> DataFrame:
    """Per-partition Misra-Gries over the whitespace token stream of
    ``text``; emits each partition's surviving candidate tokens."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for text in pdf["text"]:
                if text is None:
                    continue
                for tok in text.lower().split():
                    if tok in counters:
                        counters[tok] += 1
                    elif len(counters) < capacity:
                        counters[tok] = 1
                    else:
                        # decrement-all step; drop zeros
                        dead = []
                        for key in counters:
                            counters[key] -= 1
                            if counters[key] == 0:
                                dead.append(key)
                        for key in dead:
                            del counters[key]
        yield pd.DataFrame({"token": pd.Series(list(counters), dtype="object")})

    return df_text.select("text").mapInPandas(run, "token string")


def frequent_tokens(
    docs: DataFrame,
    text_col: str,
    min_count: int,
    capacity: int = 4096,
) -> DataFrame:
    """EXACT tokens with global count ≥ ``min_count`` → (token, n).

    ``capacity`` must satisfy capacity ≥ total_tokens / min_count for the
    superset guarantee (per partition it holds a fortiori). The guard is
    enforced from the pass-2 total, which is free at that point; at the
    default 4096 the guarantee holds whenever the threshold captures
    ≥ 1/4096 of the stream — the regime heavy-hitter mining is for.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be ≥ 1, got {min_count}")
    src = docs.select(F.col(text_col).alias("text"))
    candidates = [r.token for r in _mg_candidates(src, capacity).distinct().collect()]
    if not candidates:
        return local_frame(docs.sparkSession, [], "token string, n long")
    tok = src.select(F.explode(tokens_col(F.col("text"))).alias("token"))
    counted = (
        tok.filter(F.col("token").isin(candidates))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= F.lit(int(min_count)))
    )
    # guarantee check: total token count vs capacity*min_count. Cheap agg
    # (reuses the exploded frame's map-side partials); fail loudly rather
    # than silently under-report when the caller's threshold is too deep
    # for the sketch capacity.
    # MG retains every token with count > total/capacity; we must cover
    # count ≥ min_count, so require min_count > total/capacity — i.e.
    # equality is already outside the guarantee.
    total = tok.agg(F.count("*").alias("t")).first()["t"]
    if total >= capacity * min_count:
        raise ValueError(
            f"capacity {capacity} cannot guarantee min_count {min_count} at "
            f"{total} total tokens; need capacity > {total // min_count}"
        )
    return counted


def vocab_coverage(
    docs: DataFrame,
    text_col: str,
    checkpoints: list[int] = (10, 100, 1000),
) -> DataFrame:
    """Cumulative token-coverage curve: for each vocabulary-size
    checkpoint k, what fraction of all corpus TOKEN OCCURRENCES the k
    most frequent types cover — the curve that sizes a tokenizer
    vocabulary or a stopword list (Zipfian corpora saturate fast;
    a curve that doesn't is a boilerplate/spam smell).

    Determinism: types rank by (count DESC, token ASC) so equal-count
    types order stably. Scale shape: ONE combinable token count
    collapses the corpus to its vocabulary; the ordered cumulative
    window runs over THAT bounded histogram (the W5/calibration
    pattern — never over token occurrences); the checkpoints are
    LITERALS, so the per-checkpoint readout is a keyless conditional
    aggregation over the ranked histogram — no theta join whose build
    side could balloon to the vocabulary (the join formulation tempts
    Spark into broadcasting the vocab-sized side). Output is
    len(checkpoints) rows exploded in-row from the 1-row aggregate.
    Counts stay BIGINT; coverage is one division. Checkpoints beyond
    the vocabulary report the full vocabulary (coverage 1.0).
    """
    if not checkpoints or any(int(k) < 1 for k in checkpoints):
        raise ValueError(f"checkpoints must be ≥ 1, got {checkpoints}")
    from pyspark.sql import Window as W

    from kg_microbe_spark.functions.text import tokens_col

    counts = (
        docs.select(F.explode(tokens_col(F.col(text_col))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    order = (F.col("c").desc(), F.col("t").asc())
    ranked = counts.select(
        F.row_number().over(W.orderBy(*order)).alias("rk"),
        F.sum("c").over(
            W.orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
        ).alias("cum"),
    )
    aggs = []
    for k in checkpoints:
        kk = int(k)
        aggs.append(
            F.max(F.when(F.col("rk") <= kk, F.col("rk")))
            .cast("long")
            .alias(f"_nt_{kk}")
        )
        aggs.append(
            F.max(F.when(F.col("rk") <= kk, F.col("cum")))
            .cast("long")
            .alias(f"_cov_{kk}")
        )
    one = ranked.agg(F.max("cum").cast("long").alias("_tot"), *aggs)
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(int(k)).cast("long").alias("k"),
                    F.col(f"_nt_{int(k)}").alias("n_types"),
                    F.col(f"_cov_{int(k)}").alias("covered"),
                )
                for k in checkpoints
            ]
        )
    ).alias("_r")
    return one.select(rows, "_tot").select(
        F.col("_r.k").alias("k"),
        F.col("_r.n_types").alias("n_types"),
        F.col("_r.covered").alias("covered"),
        F.round(F.col("_r.covered") / F.col("_tot"), 6).alias("coverage"),
    )


def zipf_slope(
    docs: DataFrame,
    text_col: str,
    top_n: int = 1000,
) -> DataFrame:
    """OLS fit of ln(count) against ln(rank) over the top-``top_n``
    token types — the Zipf exponent. Natural language sits near slope
    −1; machine-generated/boilerplate corpora flatten (hot types too
    even) or steepen (template spam), so the slope is a cheap corpus-
    health dial next to ``vocab_coverage``'s curve.

    Determinism: ranks use the (count DESC, token ASC) total order;
    per-term regression coordinates are integerized IN-ROW as
    floor(1e6·ln(rank)) / floor(1e6·ln(count)) BIGINTs, so all five
    moment sums are exact integers (products ≤ ~2e14 per row — far
    inside 2^63 for any top_n the histogram can hold). ln runs on
    integer-valued doubles only (libm/JVM parity). The slope and
    intercept are ONE fixed float dataflow from those exact moments,
    rounded to 6 dp.

    Scale shape: one combinable token count collapses the corpus to
    its vocabulary; the rank window runs over that bounded histogram
    (the vocab_coverage pattern); the regression is a keyless
    aggregation of the ≤ top_n ranked rows. Output: one row
    (n_terms, sx, sy, sxy, sxx, slope, intercept).
    """
    if top_n < 2:
        raise ValueError(f"top_n must be ≥ 2, got {top_n}")
    from pyspark.sql import Window as W

    counts = (
        docs.select(F.explode(tokens_col(F.col(text_col))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ranked = counts.select(
        F.row_number()
        .over(W.orderBy(F.col("c").desc(), F.col("t").asc()))
        .alias("rk"),
        F.col("c"),
    ).filter(F.col("rk") <= top_n)
    x = F.floor(F.log(F.col("rk").cast("double")) * F.lit(1_000_000)).cast(
        "long"
    )
    y = F.floor(F.log(F.col("c").cast("double")) * F.lit(1_000_000)).cast(
        "long"
    )
    pts = ranked.select(x.alias("_x"), y.alias("_y"))
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("_x").cast("long").alias("sx"),
        F.sum("_y").cast("long").alias("sy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("sxx"),
    )
    n = F.col("n_terms").cast("double")
    dsx, dsy = F.col("sx").cast("double"), F.col("sy").cast("double")
    dsxy, dsxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    denom = n * dsxx - dsx * dsx
    slope = (n * dsxy - dsx * dsy) / denom
    return m.select(
        "n_terms",
        "sx",
        "sy",
        "sxy",
        "sxx",
        F.when(denom != 0, F.round(slope, 6)).alias("slope"),
        F.when(denom != 0, F.round((dsy - slope * dsx) / n, 6)).alias(
            "intercept"
        ),
    )


def count_min_estimate(
    df: DataFrame,
    value_col: str,
    probes: DataFrame,
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Count-Min sketch build + point estimates (Cormode & Muthukrishnan
    2005) — the bounded-memory OTHER half of the heavy-hitter toolkit:
    frequent_tokens prunes then recounts exactly; a CM sketch gives an
    O(d·w)-space always-overestimate for ANY key, mergeable across
    partitions/days by cell-wise addition, at the cost of +εn one-sided
    error (ε = e/w, δ = e^-d).

    Spark-first: the d hash rows live IN-ROW as a posexploded
    d-literal array of portable md5-60-bit hashes (dedup.py) — no
    d-fold scan; the counter matrix is ONE combinable
    groupBy(row, bucket).count bounded by d·w cells regardless of
    stream size; estimates come from an equi-join of the probe keys'
    (row, bucket) pairs against the matrix and a groupBy(key).min —
    probe keys missing entirely still report their collision floor,
    exactly as a real CM readout does. Everything is exact integer
    arithmetic → a SQL oracle replays the sketch bit-for-bit.

    Returns (key, est_count) — est ≥ true count, always.
    """
    if width < 2 or depth < 1:
        raise ValueError(f"need width ≥ 2 and depth ≥ 1, got {width}×{depth}")
    from kg_microbe_spark.operators.dedup import portable_hash60_col

    def cells(col):
        return F.posexplode(
            F.array(
                *[
                    portable_hash60_col(
                        F.concat(F.lit(f"cm{j}|"), F.col(col).cast("string"))
                    )
                    % F.lit(width)
                    for j in range(depth)
                ]
            )
        )

    matrix = (
        df.select(cells(value_col).alias("_row", "_bucket"))
        .groupBy("_row", "_bucket")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    probe_cells = probes.select(
        F.col(probes.columns[0]).alias("key"),
        cells(probes.columns[0]).alias("_row", "_bucket"),
    )
    return (
        probe_cells.join(matrix, ["_row", "_bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce("_c", F.lit(0))).alias("est_count"))
    )

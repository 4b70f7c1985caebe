"""Dedup operators — the reference's A1/A2 plus the training-data-pipeline
document dedup family (exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine).

A2 (completeness-ranked keyed dedup, pandas_utils.py:38-56) is THE merge
primitive: rank rows by (has name, has description, non-empty field count),
keep the best, with an explicit **total-order tiebreak** — pandas' stable
mergesort has no distributed analog, so determinism must come from the
ORDER BY itself (SURVEY.md §7.3 hard part 2).

Scale notes:
- all-pairs similarity is never materialized; candidate pairs come from
  LSH band buckets (MinHash) / fingerprint buckets (SimHash), so the join
  is an equi-join on bucket keys — shuffle size ∝ duplicates, not n².
- hashes are computed with built-in JVM functions (md5/xxhash64), no
  Python in the hot path.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# A1 / A2
# ---------------------------------------------------------------------------

def drop_exact_duplicates(df: DataFrame) -> DataFrame:
    """A1 full-row dedup."""
    return df.dropDuplicates()


def _completeness_rank_cols(
    df: DataFrame,
    key: str,
    name_col: Optional[str],
    description_col: Optional[str],
    tiebreak_cols: Optional[Sequence[str]],
) -> List[Column]:
    """The A2 ranking as MIN-wins columns (smaller tuple = better row).

    Ranking: non-empty name desc, non-empty description desc, count of
    non-empty fields desc, then the tiebreak columns ascending-nulls-last
    as a total order (deterministic winner under any partitioning). Desc
    int ranks are negated; asc-nulls-last is encoded as an is-null flag
    field (0 = non-null) followed by the value itself, so the value fields
    are only ever compared between two non-null (or two null, i.e. equal)
    operands and the lexicographic struct comparison reproduces
    asc_nulls_last exactly.
    """
    cols = df.columns

    def _has(c: str) -> Column:
        return (F.trim(F.coalesce(F.col(c).cast("string"), F.lit(""))) != "").cast("int")

    order: List[Column] = []
    if name_col and name_col in cols:
        order.append(F.lit(1) - _has(name_col))
    if description_col and description_col in cols:
        order.append(F.lit(1) - _has(description_col))
    non_empty = None
    for c in cols:
        h = _has(c)
        non_empty = h if non_empty is None else (non_empty + h)
    order.append(-non_empty)
    for c in tiebreak_cols if tiebreak_cols is not None else [c for c in cols if c != key]:
        order.append(F.col(c).isNull().cast("int"))
        order.append(F.col(c))
    return order


def dedup_most_complete(
    df: DataFrame,
    key: str,
    name_col: Optional[str] = "name",
    description_col: Optional[str] = "description",
    tiebreak_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """A2: deterministic most-populated-row-wins dedup on ``key`` —
    the skew-absorbing AGGREGATION form.

    The argmax is associative, so it is expressed as
    ``groupBy(key).agg(min_by(struct(all_cols), order_struct))``: map-side
    partial aggregation reduces every input partition to at most one
    candidate per key BEFORE the shuffle, so a hub key ("water", "E. coli"
    on a large fraction of a web corpus — merged_graph_stats.yaml:147-148
    records subclass_of at 2.76M in the reference merge) costs one partial
    row per task instead of parking the whole key under a single window
    task. Same property merge_edges already has; the window variant
    (:func:`dedup_most_complete_window`) is a one-task-per-key straggler
    at 100× and is kept only as the documented small-input path.

    Reference: pandas_utils.py:38-56 (drop-duplicates-keep-most-complete);
    determinism comes from the order tuple being a total order over rows
    (SURVEY.md §7.3 hard part 2) — ``min_by`` ties can then only occur
    between identical candidate rows, so the winner is partitioning-
    independent.
    """
    cols = df.columns
    order = _completeness_rank_cols(df, key, name_col, description_col, tiebreak_cols)
    ord_struct = F.struct(*[c.alias(f"_o{i}") for i, c in enumerate(order)])
    row_struct = F.struct(*[F.col(c).alias(c) for c in cols])
    best = df.groupBy(key).agg(F.min_by(row_struct, ord_struct).alias("_best"))
    return best.select(*[F.col(f"_best.{c}").alias(c) for c in cols])


def dedup_most_complete_window(
    df: DataFrame,
    key: str,
    name_col: Optional[str] = "name",
    description_col: Optional[str] = "description",
    tiebreak_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """The window (row_number) form of A2 — identical output, kept as the
    documented SMALL-INPUT path (and as the property-test twin): a window
    puts every row of one key in one task, which is exactly the hot-key
    straggler the aggregation form exists to avoid. Do not use on corpus-
    scale keyed data."""
    cols = df.columns

    def _has(c: str) -> Column:
        return (F.trim(F.coalesce(F.col(c).cast("string"), F.lit(""))) != "").cast("int")

    order: List[Column] = []
    if name_col and name_col in cols:
        order.append(_has(name_col).desc())
    if description_col and description_col in cols:
        order.append(_has(description_col).desc())
    non_empty = None
    for c in cols:
        h = _has(c)
        non_empty = h if non_empty is None else (non_empty + h)
    order.append(non_empty.desc())
    for c in tiebreak_cols if tiebreak_cols is not None else [c for c in cols if c != key]:
        order.append(F.col(c).asc_nulls_last())
    w = Window.partitionBy(key).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# Document dedup family (over a table with (id_col, text_col)).
# ---------------------------------------------------------------------------

def normalize_doc_text_col(text: Column) -> Column:
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def exact_text_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by normalized-text hash; deterministic winner = min id.
    Returns (hash, n_dups, keep_id)."""
    h = F.md5(normalize_doc_text_col(F.col(text_col)))
    return (
        df.withColumn("text_hash", h)
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
    )


def shingles_col(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> — pure JVM (split + transform
    + slice), no UDF."""
    words = F.split(normalize_doc_text_col(text), " ")
    k = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    idx = F.sequence(F.lit(1), F.greatest(k, F.lit(1)))
    return F.when(
        F.size(words) < n, F.array(F.array_join(words, " "))
    ).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(words, i, n), " "))
    )


def minhash_signature_col(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature: for permutation p, min over shingles of
    xxhash64('p#' || shingle). Deterministic, order-independent, JVM-side.

    The seed is concatenated INTO the hashed string: measured on a J=0.4
    pair, multi-arg ``xxhash64(lit(p), s)`` gives correlated permutations
    (match rate 0.30 over 64 perms vs the theoretical 0.40), while the
    concat form measures 0.39 — hash-seed chaining is not an independent
    permutation family."""
    def _hash_for(p: int):
        prefix = f"{p}#"
        return lambda s: F.xxhash64(F.concat(F.lit(prefix), s))

    return F.array(*[F.array_min(F.transform(shingles, _hash_for(p))) for p in range(num_hashes)])


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash + banded LSH near-dup candidate pairs.

    Pipeline: shingle → signature → split into ``bands`` bands → explode →
    self-join on (band_idx, band_hash) → distinct pairs (a < b), with the
    estimated Jaccard = fraction of matching signature positions.
    """
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(f"num_hashes ({num_hashes}) must be a positive multiple of bands ({bands})")
    rows_per_band = num_hashes // bands
    sig = df.select(
        F.col(id_col).alias("doc"),
        minhash_signature_col(shingles_col(F.col(text_col), shingle_n), num_hashes).alias("sig"),
    )
    banded = sig.select(
        "doc",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col("sig")[i] for i in range(b * rows_per_band, (b + 1) * rows_per_band)])
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    a = banded.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"), "band_idx", "band_hash")
    b = banded.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"), "band_idx", "band_hash")
    pairs = (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, z: acc + z,
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return pairs.select("doc_a", "doc_b", est.alias("est_jaccard"))


def portable_hash60_col(s: Column) -> Column:
    """Engine-portable 60-bit hash: first 15 hex chars of md5, as a long.
    Bit-identical in Spark (conv+cast) and DuckDB (CAST('0x…' AS BIGINT))
    — used where a SQL oracle must reproduce the hash (xxhash64 is
    engine-specific)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def simhash_col(shingles: Column, bits: int = 32, portable: bool = False) -> Column:
    """SimHash over shingle hashes: per bit, sign of Σ(±1); JVM-side via
    one aggregate per bit (bit index is a Python literal — shiftright
    requires a literal shift, so the loop unrolls at plan-build time).

    ``portable=True`` swaps xxhash64 for the md5-derived 60-bit hash so a
    DuckDB oracle can reproduce the value exactly (bits must be ≤ 60);
    xxhash64 stays the default — it is ~3× cheaper per shingle."""
    if portable:
        if bits > 60:
            raise ValueError(f"portable hash provides 60 usable bits, got bits={bits}")
        hash_fn = portable_hash60_col
    else:
        hash_fn = F.xxhash64

    def _merge_for(bit: int):
        # NB: a plain 2-arg lambda — pyspark's higher-order-function wrapper
        # counts parameters, so `b=b` defaults would turn this into a 3-arg
        # lambda variable.
        return lambda acc, s: acc + F.when(
            F.shiftright(hash_fn(s), bit).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    sim = F.lit(0).cast("long")
    for b in range(bits):
        bit_sum = F.aggregate(shingles, F.lit(0), _merge_for(b))
        sim = sim.bitwiseOR(F.when(bit_sum > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long")))
    return sim


def simhash_table(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, shingle_n: int = 2, portable: bool = False
) -> DataFrame:
    """Optimization r06: staged — shingle hashes are computed ONCE into an
    intermediate projection, then the per-bit sign sums run over the
    precomputed hash array. The single-Column form (simhash_col over
    shingles) inlined the full split→shingle→hash pipeline into every one
    of the ``bits`` aggregates (32× the hashing work, and an expression
    tree so large that plan analysis alone cost ~0.5 s per run).
    CollapseProject keeps the stages separate because ``_hs`` is
    referenced ``bits`` times. Values identical (same per-bit aggregate
    over the same hashes — see test_operators.py)."""
    hash_fn = portable_hash60_col if portable else F.xxhash64
    if portable and bits > 60:
        raise ValueError(f"portable hash provides 60 usable bits, got bits={bits}")
    staged = df.select(
        F.col(id_col).alias("doc"),
        F.transform(shingles_col(F.col(text_col), shingle_n), lambda s: hash_fn(s)).alias("_hs"),
    )

    def _merge_for(bit: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    sim = F.lit(0).cast("long")
    for b in range(bits):
        bit_sum = F.aggregate(F.col("_hs"), F.lit(0), _merge_for(b))
        sim = sim.bitwiseOR(
            F.when(bit_sum > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return staged.select("doc", sim.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    bucket_col: Optional[str] = None,
    salt: Optional[int] = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs. Without ``bucket_col`` it
    is all-pairs (test scale only); production path feeds LSH candidates.

    ``salt`` (optimization r06, guide §2.5 'split hot keys'): a bucket
    holding B docs emits B² pair rows through ONE join key — AQE skew
    handling cannot split a single key, so a hub bucket (every large
    near-duplicate cluster is one) serializes the fan-out onto one core
    (measured: ~780M surviving pairs through one task at sf1.0 = 33 s).
    With ``salt=k`` both sides carry the deterministic sub-bucket
    ``g(doc) = pmod(xxhash64(doc), k)`` and the join key becomes
    (bucket, sub), spreading every bucket's fan-out over k partitions.

    The decomposition is TRIANGULAR so each unordered pair is generated
    once instead of twice-then-halved: the right side is cloned only to
    subs ``g(doc_b)..k-1`` and joined against left rows with
    ``g(doc_a) == sub``, which matches {x, y} exactly once when their
    sub-buckets differ (in the orientation with the larger left sub);
    the equal-sub diagonal produces both orientations and keeps the
    lexicographic one. Output ids are re-normalized with
    least/greatest — the original emits every pair as (min, max) too
    (its doc_a < doc_b filter), and jaccard is symmetric in the two
    shingle sets, so the result multiset is IDENTICAL (property-tested
    against the unsalted join in tests/test_operators.py). Costs:
    right-side rows are replicated (k+1)/2× on average; join emissions
    equal the surviving pair count instead of 2×. Callers pick
    k ≈ a few × cluster parallelism."""
    base = df.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(shingles_col(F.col(text_col), shingle_n)).alias("sh"),
        *([F.col(bucket_col).alias("bucket")] if bucket_col else [F.lit(0).alias("bucket")]),
    )
    a = base.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"), "bucket")
    b = base.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"), "bucket")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = (inter.cast("double") / F.when(union == 0, F.lit(1)).otherwise(union)).alias("jaccard")
    if salt is not None and salt > 1:
        ga = F.pmod(F.xxhash64(F.col("doc_a")), F.lit(salt)).cast("int")
        gb = F.pmod(F.xxhash64(F.col("doc_b")), F.lit(salt)).cast("int")
        a = a.withColumn("_sub", ga)
        b = b.withColumn("_gb", gb).withColumn(
            "_sub", F.explode(F.sequence(F.col("_gb"), F.lit(salt - 1)))
        )
        # Force a shuffled-hash join building the UN-replicated side: the
        # planner's size estimate does not scale through the explode, so
        # it otherwise broadcasts the replicated side (measured: a
        # single-threaded multi-M-row broadcast build that made the
        # salted form SLOWER than the skewed join it replaces).
        pairs = a.hint("shuffle_hash").join(b, ["bucket", "_sub"])
        # off-diagonal cells (_sub > _gb) already hold each pair once;
        # the diagonal (_sub == _gb) holds both orientations — keep one.
        pairs = pairs.filter(
            (F.col("_sub") > F.col("_gb"))
            | ((F.col("_sub") == F.col("_gb")) & (F.col("doc_a") < F.col("doc_b")))
        ).filter(F.col("doc_a") != F.col("doc_b"))
        return pairs.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            jac,
        )
    return (
        a.join(b, ["bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac)
    )


def fingerprint_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_shared: int = 2,
    max_fingerprint_frequency: Optional[int] = None,
) -> DataFrame:
    """Exact substring-span near-dup pairs via winnowing-style rolling
    fingerprints (functions/text.py rolling_fingerprints_col): pairs of
    documents sharing >= ``min_shared`` distinct ``window``-token span
    md5s — the deterministic complement of MinHash (Lee et al.'s
    "Deduplicating Training Data Makes Language Models Better" substring
    criterion at span granularity).

    Scale shape: the pair join is an EQUI-join on the fingerprint —
    shuffle is proportional to spans that actually repeat, never n².
    ``max_fingerprint_frequency`` drops stop-spans (boilerplate that
    appears in more than f docs) BEFORE the self-join, the same f² hub
    guard as pairwise_jaccard; production sets it low (a span shared by
    thousands of docs is boilerplate, not duplication — the boilerplate
    scrubber is the right tool for those).
    """
    from kg_microbe_spark.functions.text import rolling_fingerprints_col

    fps = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array_distinct(
                rolling_fingerprints_col(F.col(text_col), window)
            )
        ).alias("fp"),
    )
    if max_fingerprint_frequency is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") <= max_fingerprint_frequency)
            .select("fp")
        )
        fps = fps.join(keep, "fp", "left_semi")
    a = fps.select(F.col("doc").alias("doc_a"), "fp")
    b = fps.select(F.col("doc").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_containment_pct: int = 80,
    max_fingerprint_frequency: Optional[int] = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: document B is (mostly) contained inside
    document A — quotation pages, scraped mirrors with added chrome,
    chunk-of-a-larger-page rows. Symmetric Jaccard misses these (a
    short doc inside a long one has tiny union-overlap); containment

        cont(B ⊆ A) = |FP(A) ∩ FP(B)| / |FP(B)|

    over the same winnowing span fingerprints as
    ``fingerprint_overlap_pairs`` catches them (Broder's containment
    coefficient). Emits ORDERED pairs (container, contained) with
    integer shared/total counts; the threshold applies by integer
    cross-multiplication (100·shared ≥ pct·|FP(contained)|) so the cut
    is exact, and the pct itself is FLOOR'd (cross-engine: Spark's
    double→long cast truncates, DuckDB's rounds).

    Scale shape: identical to fingerprint_overlap_pairs — fingerprint
    equi-join (shuffle ∝ repeated spans, never n²), the same
    ``max_fingerprint_frequency`` stop-span hub guard, plus one
    marginal join against the per-doc fingerprint counts (a doc-count
    sized aggregate). Self-pairs and both orders are emitted by
    construction of the filter (container ≠ contained only)."""
    from kg_microbe_spark.functions.text import rolling_fingerprints_col

    fps = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array_distinct(
                rolling_fingerprints_col(F.col(text_col), window)
            )
        ).alias("fp"),
    )
    if max_fingerprint_frequency is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") <= max_fingerprint_frequency)
            .select("fp")
        )
        fps = fps.join(keep, "fp", "left_semi")
    totals = fps.groupBy("doc").agg(F.count(F.lit(1)).alias("n_total"))
    a = fps.select(F.col("doc").alias("container"), "fp")
    b = fps.select(F.col("doc").alias("contained"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("container") != F.col("contained"))
        .groupBy("container", "contained")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            totals.withColumnRenamed("doc", "contained"), on="contained"
        )
        .filter(
            F.lit(100) * F.col("n_shared")
            >= F.lit(min_containment_pct) * F.col("n_total")
        )
        .select(
            "container",
            "contained",
            "n_shared",
            "n_total",
            F.floor(
                (F.lit(100) * F.col("n_shared")) / F.col("n_total")
            ).alias("containment_pct"),
        )
    )


def repeated_span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find the token spans
    that repeat ACROSS documents — boilerplate paragraphs, license
    blocks, syndicated ledes — and report them as merged per-document
    cut lists. Whole-doc dedup (A1/minhash) misses these: two documents
    sharing one 200-token boilerplate footer are nowhere near any
    doc-level threshold, yet the footer still memorizes.

    The paper builds a corpus suffix array; the Spark-native rendering
    keys on fixed-length token shingles instead (a span repeats iff all
    its length-n shingles repeat, so n-shingle hits are a COMPLETE cover
    of repeats of length ≥ n):

    1. posexplode n-token shingles with their token offset — narrow;
    2. groupBy(shingle md5) → count DISTINCT docs — map-combinable, the
       only corpus-wide shuffle, key space bounded by total tokens;
    3. semi-join occurrences against shingles seen in ≥ ``min_docs``
       docs — shuffle ∝ repeated text, not corpus;
    4. per-doc gaps-and-islands window merges overlapping/adjacent hits
       into maximal spans — partitioned by doc, no global sort.

    Returns (``id_col``, span_start, span_end, span_tokens) with
    token-index spans, end inclusive, covering the last token of the
    final shingle of each island.
    """
    from kg_microbe_spark.functions.text import tokens_col

    n = shingle_tokens
    toks = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    ).filter(F.size("_toks") >= n)
    sh = toks.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(1), F.size("_toks") - F.lit(n) + F.lit(1)
                ),
                lambda i: F.md5(
                    F.array_join(F.slice(F.col("_toks"), i, n), " ")
                ),
            )
        ).alias("start", "shingle"),
    )
    repeated = (
        sh.groupBy("shingle")
        .agg(F.count_distinct(F.col(id_col)).alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("shingle")
    )
    hits = sh.join(repeated, "shingle", "left_semi").select(
        id_col,
        F.col("start"),
        (F.col("start") + F.lit(n - 1)).alias("end"),
    )
    w_ord = Window.partitionBy(id_col).orderBy("start")
    prev_max = F.max("end").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "_island",
        F.sum(
            F.when(
                prev_max.isNull() | (F.col("start") > prev_max + 1), 1
            ).otherwise(0)
        ).over(w_ord),
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-document cross-corpus n-gram novelty — the memorization-risk
    / boilerplate-contamination signal used to triage crawl snapshots
    before exact-substring dedup (Lee et al. 2022 measure duplication
    by exactly this fraction): what share of a document's DISTINCT
    word n-grams also appear in at least one OTHER document.

    Scale shape: per-doc distinct n-grams are one explode +
    (doc, gram) distinct — duplicates collapse map-side; the gram
    document-frequency is a combinable groupBy on the gram; the
    join-back is a fact-sized equi-join on the gram key (skew-safe:
    a gram's fan-out is its doc frequency, and AQE skew-split handles
    the boilerplate grams that appear everywhere). Counts stay BIGINT;
    the one float division IEEE-rounds identically on every engine.
    Returns (``id_col``, n_grams, n_dup, novelty) with novelty =
    1 − n_dup/n_grams, 6 dp; docs with < n tokens have no grams and
    drop (honest absence).
    """
    from kg_microbe_spark.functions.text import tokens_col
    from kg_microbe_spark.operators.repetition import ngrams_col

    grams = (
        docs.select(
            F.col(id_col).alias("_doc"),
            F.explode(ngrams_col(tokens_col(F.col(text_col)), n)).alias("g"),
        )
        .distinct()
    )
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("_df"))
    per_doc = (
        grams.join(dfreq, "g")
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("_df") >= 2).cast("long")).cast("long").alias("n_dup"),
        )
    )
    return per_doc.select(
        F.col("_doc").alias(id_col),
        "n_grams",
        "n_dup",
        F.round(1.0 - F.col("n_dup") / F.col("n_grams"), 6).alias("novelty"),
    )

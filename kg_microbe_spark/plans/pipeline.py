"""End-to-end KG-construction plan (SURVEY.md §7.1): pages → triples.

One lazily-planned DataFrame DAG per stage; optional per-stage checkpoints
via CheckpointManager make any failed stage resume idempotently.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg_microbe_spark.caching import SessionVersionCache

from kg_microbe_spark.operators.calibration import apply_threshold, build_cutoffs
from kg_microbe_spark.operators.extract import dedup_pages_by_url, extract_pages, split_by_lang
from kg_microbe_spark.operators.lexicon import build_name_index, build_xref_routing, enrich_synonyms
from kg_microbe_spark.operators.linking import canonicalize_entities, link_mentions
from kg_microbe_spark.operators.mentions import aggregate_mentions, scan_mentions
from kg_microbe_spark.operators.merge import merge_edges, merge_nodes, to_kgx_edges, to_kgx_nodes
from kg_microbe_spark.operators.triples import (
    assign_predicates,
    generate_pairs,
    score_and_provenance,
    split_pairs,
)
from kg_microbe_spark.plans.checkpoint import CheckpointManager
from kg_microbe_spark.session import local_frame
from kg_microbe_spark.sources import synthetic

# Bump when a stage's semantics change — stale checkpoints from an older
# pipeline version must not satisfy a resume (part of the stage fingerprint).
PIPELINE_VERSION = "2"


@dataclass
class PipelineResult:
    entities: DataFrame
    nodes: DataFrame
    edges: DataFrame
    triples: DataFrame
    drop_report: DataFrame
    skipped_pages: DataFrame
    calibration: Optional[DataFrame] = None


# Session-scoped dimension cache: (applicationId, caller-supplied version
# key) → localized frame. Rebuilding the lexicon dimensions is pure
# DRIVER-SIDE serial time (Arrow collect + local_frame + matcher build)
# repeated identically on every pipeline invocation — on a cluster the
# broadcast dimension is built once per dictionary VERSION and reused
# across jobs/micro-batches (exactly what Structured Streaming does with a
# static dimension), so the engine does the same here. The key is explicit
# (e.g. the lexicon's Iceberg snapshot id): plan hashes cannot serve —
# a file-backed lexicon's semanticHash covers its path, not its contents,
# so a rewritten table would hash the same — and an implicit key risks
# silent staleness; with an explicit version the contract is the
# caller's, as in any dimension cache.
# LRU-bounded per application (dictionary-version churn in a long-lived
# session must not accumulate LocalRelations) and lock-guarded against
# concurrent pipeline invocations; the input schema is fingerprinted into
# each entry so a key reused across a schema change is discarded with a
# warning instead of silently served (caching.SessionVersionCache).
_DIM_CACHE = SessionVersionCache(max_per_app=16)


def _localize(spark: SparkSession, build, fingerprint: str, cache_key: Optional[str]) -> DataFrame:
    """Collect the small dimension frame ``build()`` returns as Arrow and
    rebuild it as a LocalRelation (``local_frame``: a ``LocalTableScan``,
    constant-folded into every consuming plan; no recompute, free
    broadcast, and no Python worker on any job that reads it — the rows
    never pass through Python ``Row`` objects or a pickled RDD). Only valid
    for genuinely small frames. Cached per (session, cache_key) when a key
    is given — see _DIM_CACHE.

    ``build`` is a thunk: on a cache hit the dimension plan is never even
    constructed (building the name-index / synonym-enrichment *plans* costs
    0.2-0.4 s of driver py4j round trips per pipeline invocation). The
    staleness fingerprint is the lexicon's schema (the dimension's schema is
    a pure function of builder + lexicon schema), so a key reused across a
    lexicon schema change is discarded and rebuilt. Everything else a
    dimension is built from (the stopwords) belongs in ``cache_key``."""

    def collect_local() -> DataFrame:
        df = build()
        return local_frame(spark, df.toArrow(), df.schema)

    return _DIM_CACHE.get_or_build(spark.sparkContext.applicationId, cache_key, fingerprint, collect_local)


def _predicate_dims(spark: SparkSession) -> Tuple[DataFrame, DataFrame]:
    curated = local_frame(
        spark,
        [(s, o, p, r) for (s, o), (p, r) in sorted(synthetic.curated_pair_predicates().items())],
        "subject string, object string, predicate string, relation string",
    )
    defaults = local_frame(
        spark,
        [(sc, oc, p, r) for (sc, oc), (p, r) in sorted(synthetic.CATEGORY_DEFAULT_PREDICATES.items())],
        "subject_category string, object_category string, predicate string, relation string",
    )
    return curated, defaults


def _collective_link(
    mentions: DataFrame,
    lexicon: DataFrame,
    name_index: DataFrame,
    stopwords: Sequence[str],
    _k,
) -> DataFrame:
    """Stage 4 alternative (collective_linking=True): keep ALL lexicon
    candidates per surface form and let document coherence pick the
    reading — the collective-disambiguation operator over a
    corpus-derived co-occurrence prior.

    Prior construction bootstraps from the W4 local winners (the default
    path's own links): their per-page co-occurrence pair counts —
    in-row capped generation, never a page self-join — weight how well
    each CANDIDATE coheres with the page's other anchored readings.
    base_score = (10 - rank) keeps the static rank as the coherence
    tie-breaker; integer weights keep the stage exactly reproducible.
    Output schema matches ``link_mentions``'s aggregate: one row per
    (url, curie) surface-winner with label/category/rank/n_mentions,
    so canonicalization downstream is identical."""
    from kg_microbe_spark.operators.collocations import cooccurrence_pairs
    from kg_microbe_spark.operators.disambiguation import disambiguate
    from kg_microbe_spark.operators.lexicon import build_candidate_index

    cand_index = _localize(
        lexicon.sparkSession,
        lambda: build_candidate_index(lexicon, stopwords),
        lexicon.schema.simpleString(),
        _k("cand_index"),
    )
    agg_m = mentions.groupBy("url", "term_norm").agg(
        F.count(F.lit(1)).alias("n_mentions")
    )
    # anchors for the prior = the default W4 winners (local evidence)
    anchors = agg_m.join(
        F.broadcast(name_index.select("term_norm", "curie")), "term_norm"
    ).select("url", "curie")
    prior = cooccurrence_pairs(
        anchors, "url", "curie", min_pair_count=1
    ).select(
        F.col("ea").alias("ent_a"),
        F.col("eb").alias("ent_b"),
        F.col("n_pair").alias("weight"),
    )
    cands = agg_m.join(F.broadcast(cand_index), "term_norm")
    winners = disambiguate(
        cands.select(
            F.col("url").alias("doc"),
            F.col("term_norm").alias("mention"),
            F.col("curie").alias("entity"),
            (F.lit(10) - F.col("rank")).alias("base_score"),
        ),
        prior,
    )
    return (
        winners.select(
            F.col("doc").alias("url"),
            F.col("mention").alias("term_norm"),
            F.col("entity").alias("curie"),
        )
        .join(F.broadcast(cand_index), ["term_norm", "curie"])
        .join(agg_m, ["url", "term_norm"])
        .select("url", "curie", "label", "category", "rank", "n_mentions")
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    lexicon: DataFrame,
    stopwords: Sequence[str] = tuple(synthetic.STOPWORDS),
    tau: float = 0.0,
    checkpoint: Optional[CheckpointManager] = None,
    validate_extraction: bool = False,
    input_fingerprint: str = "",
    dim_cache_key: Optional[str] = None,
    collective_linking: bool = False,
) -> PipelineResult:
    """Stages 1-8. With a CheckpointManager each stage publishes to parquet
    and resumes idempotently; without one it is a single lazy DAG.

    ``input_fingerprint`` (e.g. the pages path + snapshot id) is combined
    with the run config (tau, stopwords, pipeline version) and recorded per
    stage — a resume after the inputs or config changed recomputes instead
    of reading stale checkpoints."""
    stop_cfg = f"stop={','.join(sorted(stopwords))}"
    config_fp = (
        f"v{PIPELINE_VERSION}|tau={tau}|{stop_cfg}"
        f"|coll={int(collective_linking)}|in={input_fingerprint}"
    )

    def stage(name: str, fn):
        if checkpoint is not None:
            return checkpoint.run_stage(name, fn, input_fingerprint=config_fp)
        return fn()

    # Stage 1 — EXTRACT (+ url dedup + language routing)
    extracted = stage(
        "s1_extract",
        lambda: extract_pages(dedup_pages_by_url(pages), validate=validate_extraction),
    )
    en_pages, skipped = split_by_lang(extracted)

    # Stage 2 — LEXICON (broadcast dimension; no checkpoint needed, tiny).
    # Localized to a driver-side LocalRelation: the index is consumed by
    # several downstream plans (pattern collect, link join, routing join) —
    # materializing it once stops every action from re-running the
    # normalize/window plan, exactly like the reference loading its
    # dimension data up front (bacdive.py:224-321). _localize ships the
    # collected rows back as Arrow (session.local_frame), so each dimension
    # is a LocalTableScan and no job that reads it starts a Python worker.
    # The stopword-filtered artifacts (name index, candidate index, matcher)
    # are keyed by the stopwords too (_ks), so runs with different stopwords
    # under one dim_cache_key each keep their own entries.
    _k = (lambda part: f"{dim_cache_key}/{part}") if dim_cache_key else (lambda part: None)
    _ks = (lambda part: f"{dim_cache_key}|{stop_cfg}/{part}") if dim_cache_key else (lambda part: None)
    lex_fp = lexicon.schema.simpleString()
    name_index = _localize(
        spark, lambda: build_name_index(lexicon, stopwords), lex_fp, _ks("name_index")
    )
    xref_routing = _localize(
        spark, lambda: build_xref_routing(lexicon), lex_fp, _k("xref_routing")
    )
    # N8 synonym enrichment — the collect-state aggregation runs through
    # salted_collect_set (lexicon.py) so a hub canonical's surface fan-in
    # never funnels through one reducer; the result is dimension-sized and
    # localized like the other lexicon dims.
    syn_sets = _localize(
        spark,
        lambda: enrich_synonyms(lexicon).select(
            F.col("curie").alias("id"), F.array_join("synonyms", "|").alias("_syn")
        ),
        lex_fp,
        _k("syn_sets"),
    )

    # Stage 3 — MENTIONS (trie scan). The size guard is skipped here: the
    # index was just localized (driver already materialized it), so the
    # guard's count() job would only re-measure a known-small relation.
    mentions = stage(
        "s3_mentions",
        lambda: scan_mentions(
            en_pages, name_index, max_broadcast_patterns=None, matcher_cache_key=_ks("matcher")
        ),
    )

    # Stage 4-5 — LINK + CANON. The lexicon join is a broadcast (map-side),
    # so raw mentions are joined directly and ONE groupBy (url, curie) does
    # both the A8 mention aggregation and the post-routing re-aggregation —
    # two shuffles folded into one.
    if collective_linking:
        raw_linked = _collective_link(
            mentions, lexicon, name_index, stopwords, _ks
        )
    else:
        raw_linked = link_mentions(
            mentions.select("url", "term_norm", F.lit(1).alias("n_mentions")), name_index
        )
    entities = stage(
        "s5_entities",
        lambda: canonicalize_entities(raw_linked, xref_routing),
    )
    if checkpoint is None:
        # Both the edges branch and the nodes branch consume `entities`;
        # without a checkpoint table the plan would recompute
        # extract+scan+link once per downstream action. At cluster scale the
        # CheckpointManager (Iceberg stage tables) plays this role; locally,
        # spill-safe persist cuts the DAG the same way.
        from pyspark.storagelevel import StorageLevel

        entities = entities.persist(StorageLevel.MEMORY_AND_DISK)

    # Stage 6 — TRIPLES
    curated, defaults = _predicate_dims(spark)
    pairs = generate_pairs(entities)
    kept, drop_report = split_pairs(pairs)
    scored = score_and_provenance(assign_predicates(kept, curated, defaults))

    # P7/A6 — calibration threshold
    calibration = None
    if tau > 0.0:
        calibration = build_cutoffs(scored, tau)
        scored = apply_threshold(scored, calibration, tau)
    else:
        scored = apply_threshold(scored, None, 0.0)

    kgx_edges = stage(
        "s6_edges",
        lambda: to_kgx_edges(scored).withColumn("n_cooccur", F.lit(1)),
    )

    entity_nodes = to_kgx_nodes(
        entities.withColumn(
            "primary_knowledge_source",
            F.concat(F.lit("infores:"), F.regexp_extract("url", r"https://(site\d+)\.", 1)),
        )
    )
    node_cols = entity_nodes.columns
    entity_nodes = (
        entity_nodes.drop("synonym")
        .join(F.broadcast(syn_sets), "id", "left")
        .withColumn("synonym", F.coalesce("_syn", F.lit("")))
        .select(*node_cols)
    )

    # Stage 7 — MERGE
    edges = stage("s7_edges_merged", lambda: merge_edges([kgx_edges]))
    nodes = stage("s7_nodes_merged", lambda: merge_nodes([entity_nodes]))
    triples = edges.select("subject", "predicate", "object")

    return PipelineResult(
        entities=entities,
        nodes=nodes,
        edges=edges,
        triples=triples,
        drop_report=drop_report,
        skipped_pages=skipped,
        calibration=calibration,
    )

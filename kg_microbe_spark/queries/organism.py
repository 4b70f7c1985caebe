"""Query layer — the reference's organism-query SQL shapes
(query_utils/organism_queries.py) over the merged nodes/edges views.

DuckDB → Spark SQL translation notes: ``STRING_AGG`` becomes
``array_join(sort_array(collect_set(...)), ...)`` for deterministic
ordering; everything else runs verbatim. Register with
``register_views(spark, nodes, edges)`` then call each query.

User-supplied values (organism ids, search strings) are bound with
Spark 4 named parameter markers (``:name`` + ``args=``) — never
interpolated into the SQL text.

At scale: ``nodes`` is the small side of every join here → broadcast;
the engine relies on AQE + the session-level broadcast threshold rather
than per-query hints, matching the reference's index-free DuckDB setup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg_microbe_spark.session import local_frame


def register_views(spark: SparkSession, nodes: DataFrame, edges: DataFrame) -> None:
    nodes.createOrReplaceTempView("nodes")
    edges.createOrReplaceTempView("edges")


def resolve_organism(spark: SparkSession, q: str, limit: int = 10) -> DataFrame:
    """J7/W3: fuzzy name resolution ranked exact > prefix > substring."""
    return spark.sql(
        """
        SELECT id, name,
               CASE WHEN lower(name) = :q THEN 0
                    WHEN lower(name) LIKE :q_prefix THEN 1
                    ELSE 2 END AS match_rank
        FROM nodes
        WHERE id LIKE 'NCBITaxon:%'
          AND (lower(name) LIKE :q_sub)
        ORDER BY match_rank, id
        LIMIT """ + str(int(limit)),
        args={"q": q.lower(), "q_prefix": q.lower() + "%", "q_sub": "%" + q.lower() + "%"},
    )


def organism_traits(spark: SparkSession, organism_id: str) -> DataFrame:
    """J4: 1-hop traits = edges LEFT JOIN nodes ON e.object = n.id."""
    return spark.sql(
        """
        SELECT e.predicate, e.object, n.name AS object_name, n.category AS object_category,
               e.primary_knowledge_source
        FROM edges e LEFT JOIN nodes n ON e.object = n.id
        WHERE e.subject = :oid
        ORDER BY e.predicate, e.object
        """,
        args={"oid": organism_id},
    )


def organism_environments(spark: SparkSession, organism_id: str) -> DataFrame:
    """incoming ENVO edges by relation (environment → organism)."""
    return spark.sql(
        """
        SELECT e.subject AS environment, n.name AS environment_name, e.predicate, e.relation
        FROM edges e JOIN nodes n ON e.subject = n.id
        WHERE e.object = :oid AND e.subject LIKE 'ENVO:%'
        ORDER BY e.subject
        """,
        args={"oid": organism_id},
    )


# METPO relation codes for growth-media preference (the reference encodes
# grows-in / does-not-grow-in in the `relation` column while the predicate
# stays a Biolink term — organism_queries.py:95-140).
RELATION_GROWS_IN = "METPO:2000517"
RELATION_NO_GROWTH = "METPO:2000518"


def media_preference(spark: SparkSession, taxon_id: str) -> DataFrame:
    """Growth-media preference by METPO relation — the reference's
    get_media_preferences (organism_queries.py:106-117): filter on
    ``relation IN (grows_in, no_growth)``, join medium names, and label
    each row with its preference split."""
    return spark.sql(
        """
        SELECT e.relation,
               e.object AS medium_id,
               n.name AS medium_name,
               e.primary_knowledge_source,
               CASE WHEN e.relation = :grows THEN 'grows_in' ELSE 'no_growth' END AS preference
        FROM edges e
        JOIN nodes n ON e.object = n.id
        WHERE e.subject = :tid
          AND e.relation IN (:grows, :nogrow)
        ORDER BY e.relation, n.name
        """,
        args={"tid": taxon_id, "grows": RELATION_GROWS_IN, "nogrow": RELATION_NO_GROWTH},
    )


def strain_subclasses(spark: SparkSession, taxon_id: str) -> DataFrame:
    """Strain-subclass lookup — the reference's get_strain_info
    (organism_queries.py:193-205): strains linked to the species node via
    ``biolink:subclass_of``, restricted to strain-shaped id prefixes."""
    return spark.sql(
        """
        SELECT DISTINCT n.id AS strain_id, n.name AS strain_name
        FROM edges e
        JOIN nodes n ON e.subject = n.id
        WHERE e.object = :tid
          AND e.predicate = 'biolink:subclass_of'
          AND (e.subject LIKE 'kgmicrobe.strain:%' OR e.subject LIKE 'NCBITaxon:%')
        ORDER BY strain_name
        """,
        args={"tid": taxon_id},
    )


def environment_chemical_profile(spark: SparkSession, environment_id: str) -> DataFrame:
    """J5: 2-hop CTE — environment → taxa → chemicals, with counts and a
    deterministic STRING_AGG analogue."""
    return spark.sql(
        """
        WITH taxa AS (
            SELECT e.object AS taxon
            FROM edges e
            WHERE e.subject = :eid AND e.object LIKE 'NCBITaxon:%'
        ),
        chems AS (
            SELECT e2.object AS chem, t.taxon
            FROM taxa t JOIN edges e2 ON e2.subject = t.taxon
            WHERE e2.object LIKE 'CHEBI:%'
        )
        SELECT c.chem AS chemical,
               n.name AS chemical_name,
               COUNT(DISTINCT c.taxon) AS n_taxa,
               array_join(sort_array(collect_set(c.taxon)), '|') AS taxa
        FROM chems c LEFT JOIN nodes n ON c.chem = n.id
        GROUP BY c.chem, n.name
        ORDER BY n_taxa DESC, chemical
        """,
        args={"eid": environment_id},
    )


def media_composition(spark: SparkSession, medium_ids) -> DataFrame:
    """Ingredients of the given media (the reference's get_media_composition
    2-hop step, organism_queries.py): medium --has_part--> ingredient.

    The id list is joined as a broadcast DataFrame directly against the
    ``edges`` view — never interpolated into SQL, and never registered as a
    session-global temp view (a shared view name would let concurrent or
    nested calls on one SparkSession clobber each other's id lists before
    the lazy query executes, and would leak after the call)."""
    ids = local_frame(spark, [(m,) for m in medium_ids], "medium_id string")
    edges = spark.table("edges")
    nodes = spark.table("nodes")
    return (
        edges.filter(F.col("predicate") == "biolink:has_part")
        .join(F.broadcast(ids), edges["subject"] == ids["medium_id"])
        .join(nodes, edges["object"] == nodes["id"], "left")
        .select(
            edges["subject"].alias("medium_id"),
            edges["object"].alias("ingredient_id"),
            nodes["name"].alias("ingredient_name"),
        )
        .orderBy("medium_id", "ingredient_id")
    )


def query_organism_full(spark: SparkSession, organism_name: str) -> dict:
    """The reference's user-facing entry point (run.py:124-190 →
    organism_queries.py:208-253): resolve the name, then run the five SQL
    shapes in sequence over the merged views and return one result dict.

    Per-organism results are dimension-scale (one taxon's traits/media/
    strains), so collecting them on the driver for the report is the
    intended use — the heavy lifting stayed distributed upstream.
    """
    hits = resolve_organism(spark, organism_name, limit=1).collect()
    if not hits:
        raise ValueError(f"No organism found matching '{organism_name}'")
    taxon_id, name = hits[0].id, hits[0].name

    traits = organism_traits(spark, taxon_id).collect()
    media_rows = media_preference(spark, taxon_id).collect()
    media = {
        "grows_in": [r for r in media_rows if r.preference == "grows_in"],
        "no_growth": [r for r in media_rows if r.preference == "no_growth"],
    }
    composition = media_composition(spark, [r.medium_id for r in media["grows_in"]]).collect()
    strains = strain_subclasses(spark, taxon_id).collect()

    sources = set()
    for r in traits:
        src = r.primary_knowledge_source
        if src and ":" in src:
            sources.add(src.split(":")[0])
    for r in media_rows:
        src = r.primary_knowledge_source
        if src and ":" in src:
            sources.add(src.split(":")[0])

    return {
        "taxon_id": taxon_id,
        "name": name,
        "traits": traits,
        "media": media,
        "composition": composition,
        "strains": strains,
        "sources": sorted(sources),
    }


def format_organism_report(result: dict) -> str:
    """Markdown report over ``query_organism_full`` output (the reference's
    format_organism_report, query_utils/utils.py:6-120 — same sections,
    re-expressed)."""
    lines = [f"# Organism Report: {result['name']} ({result['taxon_id']})", ""]

    traits = result["traits"]
    if traits:
        lines += [f"## Traits ({len(traits)})", "", "| Predicate | Value | Source |", "|---|---|---|"]
        for r in traits:
            val = r.object_name or r.object
            if val and len(val) > 50:
                val = val[:47] + "..."
            lines.append(f"| {r.predicate} | {val} | {r.primary_knowledge_source or ''} |")
        lines.append("")

    media = result["media"]
    for key, title in (("grows_in", "Grows In"), ("no_growth", "No Growth")):
        rows = media[key]
        if rows:
            lines += [f"## Media: {title} ({len(rows)})", ""]
            lines += [f"- {r.medium_name or r.medium_id} ({r.medium_id})" for r in rows]
            lines.append("")

    if result["composition"]:
        lines += [f"## Media Composition ({len(result['composition'])} ingredients)", ""]
        lines += [
            f"- {r.medium_id}: {r.ingredient_name or r.ingredient_id}"
            for r in result["composition"]
        ]
        lines.append("")

    if result["strains"]:
        lines += [f"## Strains ({len(result['strains'])})", ""]
        lines += [f"- {r.strain_name or r.strain_id} ({r.strain_id})" for r in result["strains"]]
        lines.append("")

    lines.append(f"**Data sources**: {', '.join(result['sources']) or 'None'}")
    return "\n".join(lines)


def provenance_summary(spark: SparkSession) -> DataFrame:
    """A7 graph-stats shape: counts by predicate × provenance prefix."""
    return spark.sql(
        """
        SELECT predicate, primary_knowledge_source, COUNT(*) AS n_edges
        FROM edges
        GROUP BY predicate, primary_knowledge_source
        ORDER BY n_edges DESC, predicate, primary_knowledge_source
        """
    )

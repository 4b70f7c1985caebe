"""Connected components — dedup-cluster assignment over candidate-pair
graphs (the step after LSH: banded candidates connect near-duplicate docs
transitively, and the KEEP-one-per-cluster decision needs the component id).

Reference analogue: kg-microbe's merge resolves duplicate entities through
xref equivalence chains (merge step, SURVEY.md §2.3 J3/J6) — component
labeling is the same fixpoint generalized to arbitrary undirected candidate
graphs, sized for the training-data dedup use the task mandates.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) rather than
min-label propagation. Why it is the 100 TB shape:

- Each round is ONE groupBy(min) + ONE equi-join + distinct over the edge
  list — shuffle volume stays O(|E|) per round and falls as stars collapse.
- Convergence is O(log² n) rounds REGARDLESS of graph diameter; plain
  label propagation needs O(diameter) rounds, and a 100 TB web-dedup graph
  contains million-hop chain pathologies (boilerplate ladders).
- Hub safety: a hub node's neighborhood min is computed by the map-side
  partial min of groupBy — no collected neighbor lists, no per-key state
  beyond one value.
- Every round ends in localCheckpoint(eager) to cut lineage (the loop is
  otherwise an exponentially deepening plan); at cluster scale swap for
  checkpoint() on the job's checkpoint dir.

Determinism: labels are the component's minimum node id — stable across
runs/partitionings, so resumes and oracles agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg_microbe_spark.session import local_frame


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge list → canonical (u < v), self-loops dropped."""
    return (
        edges.select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _bidir(edges: DataFrame) -> DataFrame:
    return edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every LARGER neighbor to min(N(u) ∪ {u})."""
    b = _bidir(edges)
    mins = (
        b.groupBy("u")
        .agg(F.min("v").alias("_mnv"))
        .select("u", F.least("u", "_mnv").alias("_m"))
    )
    return _canonical(
        b.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every SMALLER-or-equal neighbor (and u
    itself) to min(N_small(u) ∪ {u})."""
    b = _bidir(edges).filter(F.col("v") < F.col("u"))
    mins = b.groupBy("u").agg(F.min("v").alias("_m"))  # all v < u, so min < u
    neigh = b.join(mins, "u").select(F.col("v").alias("u"), F.col("_m").alias("v"))
    self_edges = mins.select("u", F.col("_m").alias("v"))
    return _canonical(neigh.unionByName(self_edges))


def _edge_checksum(edges: DataFrame) -> tuple:
    """(count, order-independent hash) — convergence test without an
    exceptAll anti-join. Collision odds over a 64-bit sum are negligible
    and a false 'converged' is caught by max_iterations semantics anyway
    (the star transforms are monotone toward the fixpoint)."""
    # decimal(38,0) sum: ANSI mode makes a long sum of 64-bit hashes an
    # ARITHMETIC_OVERFLOW error; decimal widening is exact and cheap here.
    row = edges.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row.n, row.h)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """edges(src, dst) undirected → (node, component) where component is
    the MINIMUM node id in the connected component. Isolated endpoints
    never appear in `edges`; callers wanting labels for isolated nodes
    left-join this result and coalesce to the node id (the driver entry
    does exactly that for docs with no candidate pair)."""
    cur = _canonical(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ).localCheckpoint(eager=True)
    nodes = cur.select(F.col("u").alias("node")).unionByName(
        cur.select(F.col("v").alias("node"))
    ).distinct()

    sig = _edge_checksum(cur)
    for _ in range(max_iterations):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        nsig = _edge_checksum(cur)
        if nsig == sig:
            break
        sig = nsig
    # Fixpoint is a star per component: every edge is (component-min, v).
    # The groupBy-min is defensive: if max_iterations fired before the
    # fixpoint a node can still carry >1 edge — min keeps the output one
    # row per node (labels are then an upper approximation, same contract
    # as any capped iterative operator; 25 rounds ≫ log²(any real graph)).
    labels = (
        nodes.join(
            cur.select(F.col("v").alias("node"), F.col("u").alias("component")),
            "node",
            "left",
        )
        .groupBy("node")
        .agg(F.min(F.coalesce("component", "node")).alias("component"))
    )
    return labels


def scc_labels(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Strongly connected component labels on a DIRECTED graph — each
    node labelled min(mutually-reachable set ∪ {self}) — the directed
    complement of the alternating-star undirected components above
    (web-graph link farms and redirect rings surface as non-trivial
    SCCs; condensing them is the precondition for any DAG analytics
    over the link graph).

    Composition over the shipped depth-doubling
    ``closure.transitive_closure`` (log₂-diameter shuffles — the
    closure IS the cost; honest caveat: its pair frame grows with
    reachability, the right tool up to the multi-million-node
    condensation scale, not the full 100-TB edge list — condense
    AFTER cutting to suspect subgraphs, e.g. hierarchy_cycle_nodes
    output). Mutual pairs via one swapped self-semi-join, then the
    label is ONE combinable min per node; singleton nodes keep their
    own id via the union. Returns (id, scc) — scc equal iff same SCC.
    """
    from kg_microbe_spark.operators.closure import transitive_closure

    as_spo = edges.select(
        F.col(src_col).alias("subject"),
        F.lit("e").alias("predicate"),
        F.col(dst_col).alias("object"),
    )
    c = transitive_closure(as_spo, "e").select("subject", "object")
    swapped = c.select(
        F.col("object").alias("subject"), F.col("subject").alias("object")
    )
    mutual = c.join(swapped, ["subject", "object"], "left_semi")
    nodes = (
        edges.select(F.col(src_col).alias("id"))
        .unionByName(edges.select(F.col(dst_col).alias("id")))
        .distinct()
    )
    # every node is mutually reachable with itself; cycle partners lower
    # the min when they precede the node in id order
    cand = mutual.select(
        F.col("subject").alias("id"), F.col("object").alias("scc")
    ).unionByName(nodes.select("id", F.col("id").alias("scc")))
    return cand.groupBy("id").agg(F.min("scc").alias("scc"))


def condense_graph(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Condensation: collapse a node partition (SCC labels from
    :func:`scc_labels`, communities, dedup clusters — any (id, label)
    frame) into a weighted super-graph — (src_label, dst_label,
    n_edges) with intra-label edges dropped. The DAG this yields from
    SCC labels is what link-graph analytics (topological layers,
    reachability) actually run on.

    Two fact-side equi-joins on the merge key + ONE combinable count —
    a hub label pair's million parallel edges collapse map-side.
    Edges with an unlabelled endpoint drop (inner joins): the same
    evaluable-universe rule as modularity/louvain. Directed in,
    directed out; distinct multi-edges are NOT pre-deduped (the count
    is edge multiplicity — dedupe upstream if unwanted).
    """
    lab = labels.select("id", "label") if "label" in labels.columns else (
        labels.select(F.col(labels.columns[0]).alias("id"),
                      F.col(labels.columns[1]).alias("label"))
    )
    out = (
        edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
        .join(lab.select(F.col("id").alias("_s"), F.col("label").alias("src_label")), "_s")
        .join(lab.select(F.col("id").alias("_d"), F.col("label").alias("dst_label")), "_d")
        .filter(F.col("src_label") != F.col("dst_label"))
        .groupBy("src_label", "dst_label")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    return out


def luby_mis_round(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    round_salt: str = "",
) -> DataFrame:
    """ONE round of Luby's maximal-independent-set algorithm (Luby 1986)
    with a deterministic priority: a vertex joins the round's winner set
    iff its (hash, id) pair is a strict local minimum over its surviving
    neighborhood — the portable md5-60-bit hash stands in for Luby's
    random draw, salted per round so a vertex unlucky in round r gets a
    fresh draw in round r+1, and the id tie-break makes the winner set a
    total function of the edge list (a SQL oracle reproduces it with one
    anti-join; no RNG state to ship).

    Scale shape: min-over-neighbors is ONE combinable
    groupBy(vertex).min over the bidirectional edge list — map-side
    partials absorb hub vertices (a 10^8-degree hub costs its owner
    partition a single running min, not a window sort); winners fall out
    of a single equi-join of that min back to the vertex's own priority.
    Returns (node, selected) over all edge endpoints.
    """
    und = _canonical(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    from kg_microbe_spark.operators.dedup import portable_hash60_col

    def pri(col: str) -> F.Column:
        return F.struct(
            portable_hash60_col(F.concat(F.lit(round_salt), F.col(col))).alias("h"),
            F.col(col).alias("id"),
        )

    b = _bidir(und)
    # min neighbor priority per vertex, then compare with own priority
    nmin = b.groupBy("u").agg(F.min(pri("v")).alias("_np"))
    return nmin.select(
        F.col("u").alias("node"),
        (pri("u") < F.col("_np")).alias("selected"),
    )


def luby_mis(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """Full deterministic Luby MIS: iterate luby_mis_round, removing each
    round's winners AND their neighbors from the surviving graph, until
    no edges remain; surviving isolated vertices join the set. Expected
    O(log n) rounds (each round removes ≥ half the edges in expectation
    under Luby's analysis; the salted re-draw preserves that here in
    practice), each round two shuffles — the same per-round cost profile
    as connected_components' star steps, with the same localCheckpoint
    lineage cut. Maximality/independence are property-tested; the
    SQL-checkable round-1 slice is the driver entry
    (``maximal_independent_set``).

    Returns (node, in_mis) for every endpoint of the input edge list.
    """
    und = _canonical(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ).localCheckpoint(eager=True)
    all_nodes = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    winners = local_frame(spark, [], all_nodes.schema)
    cur = und
    for r in range(max_rounds):
        if cur.isEmpty():
            break
        sel = (
            luby_mis_round(cur, "u", "v", round_salt=f"r{r}|")
            .filter("selected")
            .select("node")
            .localCheckpoint(eager=True)
        )
        winners = winners.unionByName(sel).localCheckpoint(eager=True)
        # drop winners and their neighbors: any edge touching a winner
        # retires both the winner (in the set) and the neighbor (blocked)
        b = _bidir(cur)
        blocked = (
            b.join(sel.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"))
            .distinct()
        )
        gone = sel.unionByName(blocked).distinct()
        cur = (
            cur.join(gone.withColumnRenamed("node", "u"), "u", "left_anti")
            .join(gone.withColumnRenamed("node", "v"), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    # vertices never selected, never blocked, and not on a surviving edge
    # are isolated by now → they join the MIS (maximality). If max_rounds
    # fired before cur emptied, its endpoints stay OUT: independence is
    # the hard invariant; maximality under the cap degrades exactly like
    # connected_components' label upper-approximation, and 20 rounds ≫
    # the O(log n) expectation for any real graph.
    survivors = (
        all_nodes.join(winners, "node", "left_anti")
        .join(
            _bidir(und)
            .join(winners.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"))
            .distinct(),
            "node",
            "left_anti",
        )
        .join(
            cur.select(F.col("u").alias("node"))
            .unionByName(cur.select(F.col("v").alias("node")))
            .distinct(),
            "node",
            "left_anti",
        )
    )
    mis = winners.unionByName(survivors)
    return all_nodes.join(
        mis.withColumn("in_mis", F.lit(True)), "node", "left"
    ).select("node", F.coalesce("in_mis", F.lit(False)).alias("in_mis"))

"""Solr GraphQuery parser — ``q={!graph from=f to=t maxDepth=N
traversalFilter=... returnRoot=true|false}root_query``.

Reference surface: Solr's graph query walks the docset from the roots
(the docs matching the wrapped query) along edges defined by field
values — a doc D reaches every doc E whose ``to`` field value equals
one of D's ``from`` field values — repeating to a fixed point or
``maxDepth``, optionally filtering each HOP's frontier with
``traversalFilter`` and optionally dropping the roots from the result
(``returnRoot=false``). It is Solr's "give me the whole dependency
closure / org subtree / thread" query.

Spark-first shape — frontier-style BFS, the same discipline as the
dedup module's connected components (ops/dedup.py):

- the EDGE relation (``__from_value`` per doc on the from side,
  ``__to_value`` per doc on the to side) projects to two columns each
  before any join — the corpus never widens a shuffle;
- each hop is ONE hash join: frontier values -> to-side docs; the
  frontier is values-DISTINCT, and with the default
  ``broadcast_frontier=True`` it is HINTED to broadcast (the common
  case: a query page's out-edges). The hint is a hard commitment —
  AQE never demotes an explicit broadcast hint — so for a viral/
  hub-heavy graph whose frontier can reach 10⁸ values, pass
  ``broadcast_frontier=False``: Catalyst/AQE then pick the strategy,
  still PROMOTING a measured-small frontier to broadcast while a huge
  one runs as a shuffle hash join instead of hitting the 8 GB
  broadcast limit;
- visited-set semantics run per hop (`left_anti` against the
  accumulated result) so a cyclic graph terminates: the frontier
  strictly shrinks to empty, exactly Solr's bitset fixpoint;
- hops are driver-side iterations over LAZY plans: each hop's fresh
  frame is localCheckpointed, and the visited set is their lazy union,
  flattened by a localCheckpoint every CHECKPOINT_HOPS hops — the
  lineage stays O(1) per hop and the plan depth bounded, the same
  pattern the CC operator uses for pointer jumping.

``maxDepth=-1`` (Solr's default) walks to the fixpoint; each hop adds
its depth so callers can cap or page by distance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: hops between localCheckpoints of the visited union
CHECKPOINT_HOPS = 32


def hop_reached(
    to_edges: DataFrame,
    vals: DataFrame,
    *,
    id_col: str,
    broadcast_frontier: bool,
) -> DataFrame:
    """ONE BFS hop: frontier out-values -> to-side docs. Split out so
    the broadcast decision is plan-pinnable (test_graph_query.py pins
    that broadcast_frontier=False yields NO BroadcastExchange when the
    session threshold is disabled — the hint is a hard commitment, the
    opt-out genuinely releases it)."""
    build = F.broadcast(vals) if broadcast_frontier else vals
    return to_edges.join(build, "__v").select(F.col(id_col)).distinct()


def graph_traverse(
    roots: DataFrame,
    nodes: DataFrame,
    *,
    from_col: str,
    to_col: str,
    id_col: str = "doc_id",
    max_depth: int = -1,
    traversal_filter: str | None = None,
    return_root: bool = True,
    return_only_leaf: bool = False,
    broadcast_frontier: bool = True,
) -> DataFrame:
    """``{!graph}``: every doc reachable from ``roots`` (a relation
    carrying ``id_col``) by repeatedly following from-value -> to-value
    edges inside ``nodes``. Returns (``id_col``, depth) — depth 0 for
    roots, the MINIMUM hop count otherwise (BFS order guarantees it).
    ``traversal_filter`` is a Catalyst predicate applied to newly
    reached docs at every hop (Solr applies it to each traversal step,
    NOT to the roots); ``return_root=False`` drops depth-0 rows from
    the result, like Solr's returnRoot=false;
    ``return_only_leaf=True`` is Solr's returnOnlyLeafNodes — keep
    only reached docs with NO outgoing edge (a non-null from field
    value), the "end of the chain" query (one anti-join after the
    fixpoint, never per hop)."""
    if max_depth == 0:
        out = roots.select(F.col(id_col)).distinct().withColumn(
            "depth", F.lit(0)
        )
        if not return_root:
            out = out.where(F.lit(False))
        if return_only_leaf:
            out = out.join(
                nodes.select(F.col(id_col)).where(
                    F.col(from_col).isNotNull()
                ),
                id_col,
                "left_anti",
            )
        return out

    # Materialize the narrow edge projection ONCE before the loop: the
    # ~log(n)-hop fixpoint otherwise re-derives the full nodes scan (and
    # whatever plan produced it) on EVERY hop — ~depth corpus scans at
    # scale. Same discipline as connected_components' symmetrized edge
    # checkpoint (ops/dedup.py). One 3-column scan feeds both sides.
    edges = nodes.select(
        F.col(id_col),
        F.col(from_col).alias("__fv"),
        F.col(to_col).alias("__tv"),
    ).localCheckpoint(eager=True)
    from_edges = edges.select(
        F.col(id_col), F.col("__fv").alias("__v")
    ).where(F.col("__v").isNotNull())
    to_edges = edges.select(
        F.col(id_col), F.col("__tv").alias("__v")
    ).where(F.col("__v").isNotNull())
    # the traversal predicate is hop-invariant: resolve its id set once
    # instead of re-filtering the nodes relation every hop
    filter_ids = None
    if traversal_filter is not None:
        filter_ids = (
            nodes.where(F.expr(traversal_filter))
            .select(F.col(id_col))
            .localCheckpoint(eager=True)
        )

    # distinct: a duplicated root row (a page with repeats) must not
    # duplicate every reachable doc downstream
    visited = roots.select(F.col(id_col)).distinct().withColumn(
        "depth", F.lit(0)
    )
    visited = visited.localCheckpoint(eager=True)
    # visited accumulates as a LAZY union of per-hop checkpointed
    # frames: every part is already materialized, so the anti-join scans
    # them without recompute and the loop saves one full copy-the-whole-
    # visited-set checkpoint job per hop (the old shape re-materialized
    # O(V) rows every hop).
    frontier = visited
    depth = 0
    while max_depth < 0 or depth < max_depth:
        depth += 1
        # the frontier's OUT values, distinct — |values|, not |docs|.
        # broadcast_frontier hints them onto the to-side edge scan; the
        # hint is binding (AQE never demotes it), so the opt-out exists
        # for frontiers that can outgrow the broadcast limit.
        vals = (
            frontier.select(F.col(id_col))
            .join(from_edges, id_col)
            .select("__v")
            .distinct()
        )
        reached = hop_reached(
            to_edges, vals, id_col=id_col,
            broadcast_frontier=broadcast_frontier,
        )
        if filter_ids is not None:
            reached = reached.join(filter_ids, id_col, "left_semi")
        fresh = reached.join(visited, id_col, "left_anti").select(
            F.col(id_col), F.lit(depth).alias("depth")
        )
        fresh = fresh.localCheckpoint(eager=True)
        if not fresh.take(1):
            break
        visited = visited.unionByName(fresh)
        if depth % CHECKPOINT_HOPS == 0:
            # the lazy union gains one leaf per hop: flatten it so a
            # deep traversal's plan (and its per-hop analysis) stays
            # bounded
            visited = visited.localCheckpoint(eager=True)
        frontier = fresh
    out = visited if return_root else visited.where(F.col("depth") > 0)
    if return_only_leaf:
        out = out.join(from_edges.select(id_col), id_col, "left_anti")
    return out

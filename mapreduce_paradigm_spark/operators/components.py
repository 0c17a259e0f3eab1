"""Connected components over a pair graph — dedup CLUSTERING.

Near-dup detection yields pairs; the pipeline action (keep one doc per
duplicate group) needs the transitive closure: connected components.
Every operator here is a driver loop of pure-DataFrame rounds run by
``rounds.fixpoint``: one eager checkpoint per round keeps lineage (and
task binaries) flat and carries the round's convergence metric, so the
driver only ever sees scalars. ``rounds`` states the fault bound.

Two interchangeable implementations (identical output contract):

- ``connected_components`` — min-label propagation: simple, one
  join+aggregate per round, but advances ONE hop per round, so rounds =
  graph diameter. Raises if the fixpoint isn't reached (a silently
  unconverged labeling would split true dup groups and keep extra
  survivors downstream).
- ``connected_components_star`` — alternating large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14): converges in O(log² n) rounds regardless of diameter — the
  100 TB path for chain-shaped dup graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_paradigm_spark.operators.rounds import (
    ConvergenceError,
    fixpoint,
    observed_checkpoint,
)


def _count() -> list:
    return [F.count(F.lit(1)).alias("n")]


def _propagate_min(edges: DataFrame, src: str, dst: str):
    """One min-label round over ``(v, label)`` states: every vertex takes
    the least of its own label and the labels arriving along ``src ->
    dst`` edges. The new state keeps the old label as ``_prev``, so
    ``_changed()`` counts the labels the round lowered — exact for any
    id type, and 0 exactly at the fixpoint since labels only decrease."""

    def propagate(labels: DataFrame) -> DataFrame:
        msgs = edges.join(labels, edges[src] == labels["v"]).select(
            F.col(dst).alias("v"), "label"
        )
        # min over {self label} ∪ {neighbor labels} in ONE aggregation: the
        # self row rides the union, so no separate left join back onto
        # labels — one fewer shuffle per round than the join+groupBy+join
        # form (measured 6.0 s → 4.4 s on the sf0.1 bench fixture)
        return (
            labels.select("v", "label", F.col("label").alias("_prev"))
            .unionByName(msgs, allowMissingColumns=True)
            .groupBy("v")
            .agg(F.min("label").alias("label"), F.max("_prev").alias("_prev"))
        )

    return propagate


def _changed() -> list:
    return [F.count_if(F.col("label") != F.col("_prev")).alias("changed")]


def _none_changed(m: dict, *_) -> bool:
    return m["changed"] == 0


def connected_components(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 20,
    edges_unique: bool = False,
) -> DataFrame:
    """``(doc_id, component)`` for every vertex in ``edges``; component =
    the minimum doc_id reachable. Deterministic.

    Min-label propagation: every vertex repeatedly adopts the smallest
    label among itself and its neighbors; fixpoint = components, detected
    when a round changes no label.

    Raises ``ConvergenceError`` if ``max_iter`` rounds pass without the
    fixpoint: label propagation moves one hop per round, so a component
    whose diameter exceeds ``max_iter`` would otherwise be silently split
    into several clusters. Use ``connected_components_star`` for
    high-diameter graphs (O(log² n) rounds).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # undirected: both directions once. ``edges_unique`` asserts the input
    # is already a set of asymmetric pairs (src < dst, no duplicates) — the
    # contract of every pair generator in operators/dedup.py (their final
    # groupBy(d1, d2) guarantees it) — in which case the two-direction
    # union is duplicate-free BY CONSTRUCTION and the distinct would be a
    # wasted full shuffle of the edge list.
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    if not edges_unique:
        sym = sym.distinct()
    # localCheckpoint (not persist): sym joins into EVERY round, and a
    # persist only short-circuits execution — Catalyst still re-optimizes
    # sym's full upstream lineage (e.g. the jaccard pair generation) inside
    # each round's plan, which at a few hundred ms per round dwarfs the
    # actual work on the small label frontier. The checkpoint flattens the
    # plan to the materialized blocks once.
    sym = sym.localCheckpoint(eager=True)
    # initialize at min(self, neighbors) — the state an identity init
    # reaches after its first round, for the one shuffle the identity
    # init would pay on its distinct()
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("_mb"))
        .select(
            F.col("a").alias("v"),
            F.least(F.col("a"), F.col("_mb")).alias("label"),
        )
    )
    labels = fixpoint(
        labels,
        _propagate_min(sym, "a", "b"),
        max_iter,
        metrics=_changed(),
        done=_none_changed,
    )
    return labels.select(
        F.col("v").alias("doc_id"), F.col("label").alias("component")
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 40,
    edges_unique: bool = False,
) -> DataFrame:
    """Large-star/small-star connected components — same contract as
    ``connected_components`` (vertex → min reachable id), O(log² n) rounds
    on ANY graph shape (Kiveris et al., SoCC'14, Theorem 4).

    Each round is two edge rewrites, each one groupBy over the edge list:

    - large-star: for every vertex u, connect each strictly-larger
      neighbor to m = min(N(u) ∪ {u});
    - small-star: connect each not-larger neighbor (and u) to m.

    Both preserve connectivity and monotonically hang vertices below
    smaller ids; the fixpoint is a star forest whose centers are the
    component minima — read labels straight off the final edges.
    """
    # localCheckpoint (not persist) the input projection: it feeds BOTH the
    # canonical edge set and the final vertex list, so without it an
    # expensive upstream (e.g. the jaccard pair generation) executes twice —
    # and unlike persist, the checkpoint also FLATTENS the logical plan, so
    # round 0 and the verts read don't pay Catalyst re-optimization of the
    # full upstream lineage on every consumer (measured ~0.9 s of pure
    # planning overhead on the sf0.1 bench fixture's pair graph).
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=True
    )
    # canonical undirected form (small, large) — the star rewrites keep
    # edges in this orientation, so equality-by-subtract is well-defined
    cur = e.filter(F.col("a") != F.col("b")).select(
        F.least("a", "b").alias("s"), F.greatest("a", "b").alias("g")
    )
    # see connected_components: asymmetric-unique input pairs ARE the
    # canonical form already — the distinct would re-shuffle for nothing
    if not edges_unique:
        cur = cur.distinct()

    def _star(edges_sl: DataFrame, large: bool) -> DataFrame:
        # neighborhoods as (u, v) both directions; m = min over N(u) ∪ {u}
        nbrs = edges_sl.select(F.col("g").alias("u"), F.col("s").alias("v")).unionByName(
            edges_sl.select(F.col("s").alias("u"), F.col("g").alias("v"))
        )
        grouped = nbrs.groupBy("u").agg(
            F.collect_set("v").alias("vs"),
        )
        m = F.least(F.array_min("vs"), F.col("u"))
        if large:
            # (v, m) for v in N(u) with v > u
            out = grouped.select(
                m.alias("m"), F.explode(F.filter("vs", lambda v: v > F.col("u"))).alias("v")
            )
        else:
            # (v, m) for v in N(u) ∪ {u} with v <= u
            out = grouped.select(
                m.alias("m"),
                F.explode(
                    F.array_union(
                        F.filter("vs", lambda v: v <= F.col("u")), F.array(F.col("u"))
                    )
                ).alias("v"),
            )
        # no trailing distinct: the consumer is either the next star's
        # collect_set (dedups for free) or the per-round distinct below —
        # a distinct here would only add a shuffle per half-round
        return out.filter(F.col("v") != F.col("m")).select(
            F.col("m").alias("s"), F.col("v").alias("g")
        )

    def star_round(edges_sl: DataFrame) -> DataFrame:
        return _star(_star(edges_sl, large=True), large=False).distinct()

    def unchanged(m: dict, prev: dict, new: DataFrame, old: DataFrame) -> bool:
        # exact set-equality at scalar cost: both sides are distinct sets,
        # so equal sizes plus new ⊆ old (anti-join, take-1 early exit)
        # implies equality; the anti-join runs only when the sizes match.
        # (A structural star-forest test on new alone would detect the
        # fixpoint one round earlier, but its union+groupBy costs more per
        # round than the saved confirming round — measured 4.1 s vs 3.0 s
        # on the sf0.1 bench fixture.)
        return (
            m["n"] == prev.get("n")
            and new.join(old, ["s", "g"], "left_anti").isEmpty()
        )

    cur = fixpoint(cur, star_round, max_iter, metrics=_count(), done=unchanged)
    # star forest: every non-center vertex g hangs off its component min s;
    # centers label themselves
    labels = cur.select(F.col("g").alias("doc_id"), F.col("s").alias("component")).unionByName(
        cur.select(F.col("s").alias("doc_id"), F.col("s").alias("component"))
    ).distinct()
    # isolated-in-canonical-form vertices (self-pairs in input) label themselves
    verts = (
        e.select(F.col("a").alias("doc_id"))
        .unionByName(e.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    return verts.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )


def kcore_vertices(
    edges: DataFrame,
    k: int,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """Vertices of the k-core: the maximal subgraph where every vertex has
    degree >= k. Classic iterative peeling — repeatedly delete vertices
    with degree < k (deleting one vertex lowers neighbors' degrees, so the
    fixpoint needs iteration). Returns ``(v, deg)`` with each survivor's
    degree INSIDE the core.

    Distributed shape: the edge list is the only corpus-scale state; each
    round is one degree aggregate + one semi-join filter of the edge list
    against surviving vertices (both keyed by vertex — AQE reuses the
    partitioning), and the driver sees a single scalar (surviving edge
    count) per round. Rounds are bounded by the peeling depth (the
    degeneracy ordering's longest chain), typically tens even on web-scale
    graphs; ``max_iter`` guards pathological chains with a loud
    ``ConvergenceError`` rather than returning a non-core silently.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )

    def peel(e: DataFrame) -> DataFrame:
        deg = (
            e.select(F.col("a").alias("v"))
            .unionByName(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("v")
        return (
            e.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .select("a", "b")
        )

    def stable(m: dict, prev: dict, *_) -> bool:
        # peeling only removes edges, so an unchanged count is an
        # unchanged edge set; an empty set is its own next round
        return m["n"] in (0, prev.get("n"))

    core = fixpoint(e, peel, max_iter, metrics=_count(), done=stable)
    return (
        core.select(F.col("a").alias("v"))
        .unionByName(core.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )


def strongly_connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_peel: int = 8,
    max_prop: int = 30,
) -> DataFrame:
    """``(doc_id, scc_id)`` for every vertex of a DIRECTED graph, where
    ``scc_id`` is the minimum vertex id of the strongly connected
    component — the directed counterpart of ``connected_components``
    (mutual reachability, not mere connectivity).

    Forward-backward coloring (Orzan '04; the same scheme GraphX's SCC
    uses), peeling one layer of SCCs per outer round:

    1. *Color*: propagate f(v) = min id that reaches v (min-label
       propagation ALONG edge direction) to fixpoint. f is constant on
       each SCC, and the pivot p (f(p) = p) is its component's minimum
       member: any smaller ancestor of a member would also be an
       ancestor of p.
    2. *Collect*: within each color class, nodes that reach their pivot
       form exactly SCC(pivot) — every intermediate node on a
       member-to-pivot path provably shares the color, so backward
       reachability (min-label along REVERSED within-color edges) never
       has to leave the class.
    3. *Peel*: emit those SCCs, drop them, restrict edges to surviving
       endpoints, repeat. Each round settles every pivot-anchored
       component; rounds needed = depth of the condensation DAG along
       min-id ancestry (small for real graphs, bounded loudly).

    Scale shape: every step is a key-partitioned join + min-aggregate on
    the (shrinking) remaining graph — no transitive closure, no pair
    materialization; the driver only ever sees convergence scalars.
    Raises ``ConvergenceError`` on any unconverged inner fixpoint or
    leftover vertices, never returning a silently wrong labeling.
    """
    v0 = vertices.columns[0]
    remaining, left = observed_checkpoint(
        vertices.select(F.col(v0).alias("node")).distinct(), _count()
    )
    e = (
        edges.select(F.col(src).alias("ea"), F.col(dst).alias("eb"))
        .filter(F.col("ea") != F.col("eb"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def collect(reached: DataFrame) -> DataFrame:
        # e_color: this peel's within-color edges, bound below
        msgs = e_color.join(
            reached.select(F.col("node").alias("eb"), "f"), ["eb", "f"]
        ).select(F.col("ea").alias("node"), "f")
        return reached.unionByName(msgs).distinct()

    def grown_none(m: dict, prev: dict, *_) -> bool:
        return m["n"] == prev.get("n")

    parts: list[DataFrame] = []
    for _ in range(max_peel):
        if left["n"] == 0:
            break
        # -- 1. forward min-label propagation to fixpoint ---------------------
        f = fixpoint(
            remaining.select(F.col("node").alias("v"), F.col("node").alias("label")),
            _propagate_min(e, "ea", "eb"),
            max_prop,
            metrics=_changed(),
            done=_none_changed,
        ).select(F.col("v").alias("node"), F.col("label").alias("f"))
        # labels of both endpoints; within-color edges only (see step 2)
        fa = f.select(F.col("node").alias("ea"), F.col("f").alias("fa"))
        fb = f.select(F.col("node").alias("eb"), F.col("f").alias("fb"))
        e_color = (
            e.join(fa, "ea")
            .join(fb, "eb")
            .filter(F.col("fa") == F.col("fb"))
            .select("ea", "eb", F.col("fa").alias("f"))
            .localCheckpoint(eager=True)
        )
        # -- 2. backward within-color reachability from the pivots ------------
        reached = fixpoint(
            f.filter(F.col("node") == F.col("f")),
            collect,
            max_prop,
            metrics=_count(),
            done=grown_none,
        )
        scc = reached.select("node", F.col("f").alias("scc_id"))
        parts.append(scc)
        # -- 3. peel ----------------------------------------------------------
        remaining, left = observed_checkpoint(
            remaining.join(scc.select("node"), "node", "left_anti"), _count()
        )
        e = (
            e.join(remaining.select(F.col("node").alias("ea")), "ea", "left_semi")
            .join(remaining.select(F.col("node").alias("eb")), "eb", "left_semi")
            .select("ea", "eb")
            .localCheckpoint(eager=True)
        )
    else:
        if left["n"] > 0:
            raise ConvergenceError(
                f"scc peeling left vertices after {max_peel} rounds"
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(F.col("node").alias("doc_id"), "scc_id")

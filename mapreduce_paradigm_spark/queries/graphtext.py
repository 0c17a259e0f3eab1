"""Round-3 batch 4: graph & co-occurrence analytics.

Second-order structure the reference's single inverted-index pipeline
(src/main.cpp) never touches but that corpus curation and product analytics
need: word-pair PMI (phrase/collocation mining), triangle counting on the
synthetic citation graph (community density), Markov event transitions,
per-user behavioral entropy, and the remaining distribution-window shapes
(cume_dist / nth_value / ratio-to-report).

All Catalyst-native; every query carries a full DuckDB hash oracle. Float
outputs follow the tfidf convention (ln of exact-integer ratios, round 6)
which is already proven hash-stable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_paradigm_spark import lifetime
from mapreduce_paradigm_spark.operators.rounds import fixpoint
from mapreduce_paradigm_spark.registry import register
from mapreduce_paradigm_spark.sources.tables import load_table


def citation_edges(docs, a: str = "a", b: str = "b"):
    """The deterministic 3-out citation graph over ``docs(node)``: node
    ``a`` cites ``(a * 31 + k) mod n_docs`` for k = 1, 2, 3. Self-loops
    and duplicate edges are kept; each caller filters, dedups and orients
    for its own algorithm (the oracles spell the same graph in SQL)."""
    ncnt = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return docs.crossJoin(F.broadcast(ncnt)).select(
        F.col("node").alias(a),
        F.explode(
            F.array(
                *[
                    F.pmod(F.col("node") * 31 + F.lit(k), F.col("n_docs"))
                    for k in (1, 2, 3)
                ]
            )
        ).alias(b),
    )


def _bfs_depths(dist, edges, hops: int = 4):
    """Synchronous BFS over ``edges(a, b)`` from the ``depth`` 0 rows of
    ``dist(..., node, depth)``, keyed by every column but ``depth``:
    each round joins ONLY the newly reached frontier against the edge
    list and re-minimizes, so settled vertices are never re-expanded."""
    keys = [c for c in dist.columns if c != "depth"]
    carried = [c for c in keys if c != "node"]
    rounds = iter(range(1, hops + 1))

    def expand(dist):
        r = next(rounds)
        frontier = dist.filter(F.col("depth") == r - 1)
        nxt = frontier.join(edges, frontier.node == edges.a).select(
            *carried, F.col("b").alias("node"), F.lit(r).alias("depth")
        )
        return dist.unionByName(nxt).groupBy(*keys).agg(F.min("depth").alias("depth"))

    return fixpoint(dist, expand, hops)


# --- word co-occurrence PMI --------------------------------------------------


@register(
    "word_cooccurrence_pmi",
    oracle="""
WITH dw AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dw),
df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY 1),
pairs AS (
  SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS n_both
  FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2
)
SELECT w1, w2, n_both,
       round(ln(CAST(n_both AS DOUBLE) * n_docs / (d1.df * d2.df)), 6) AS pmi
FROM pairs
JOIN df d1 ON w1 = d1.w
JOIN df d2 ON w2 = d2.w
CROSS JOIN n
WHERE n_both >= 5
""",
    description="Pointwise mutual information of within-document word "
    "pairs — the collocation/phrase-mining signal (PMI > 0 ⇒ words "
    "co-occur more than independence predicts). Spark side generates "
    "pairs WITHOUT a self-join: per-doc sorted distinct vocabulary "
    "array, in-array combination explode (the jaccard-postings trick "
    "from operators/dedup.py applied doc-side), one pair-count shuffle; "
    "df and N join back broadcast. Pair cost is Σ|vocab_d|² — at 100 TB "
    "cap the per-doc vocabulary (top-k by tf or a df-band semi-join) "
    "exactly like the df-capped jaccard tier; the shape is unchanged. "
    "PMI is ln of an exact-integer ratio rounded 6dp (the proven-stable "
    "tfidf convention). The oracle's self-join form is the semantic "
    "spec; the array form is the scale plan.",
    bench=True,
    tags=("text", "llm", "cooccurrence"),
)
def q_word_cooccurrence_pmi(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.dedup import _persist_if_input_ge

    docs = load_table(spark, sf_dir, "documents")
    # ONE scan of the text column: the per-doc vocabulary arrays feed all
    # three consumers (pairs, df, N) — without the persist each subtree
    # re-reads and re-tokenizes the corpus (4 parquet scans in the plan).
    # Round 13: SIZE-GATED — the driver's cold bench measured the r12
    # unconditional persists at 0.73× (1.37 s r11 → 1.88 s r12): at sf0.1
    # the cache-entry build costs more than re-tokenizing megabytes from
    # page cache. Above the input floor the one-scan design is unchanged.
    words_per_doc = _persist_if_input_ge(
        docs.select(
            "doc_id",
            F.array_distinct(
                F.split(F.lower(F.trim("text")), r"\s+")
            ).alias("ws"),
        ),
        docs,
    )
    dw = words_per_doc.select("doc_id", F.explode("ws").alias("w"))
    n = words_per_doc.agg(F.count(F.lit(1)).alias("n_docs"))
    # df feeds BOTH broadcast sides (d1, d2) under different aliases, and
    # the renamed projections defeat ReuseExchange — without its own
    # persist the vocabulary explode + groupBy (a full pass over the
    # cached word arrays) executes once per side (round-12 plan audit).
    # One row per distinct word, spill-safe; same size gate as above.
    df = _persist_if_input_ge(
        dw.groupBy("w").agg(F.count(F.lit(1)).alias("df")), docs
    )
    words_per_doc = words_per_doc.select(
        "doc_id", F.sort_array("ws").alias("ws")
    )
    pair_expr = F.expr(
        "flatten(transform(ws, (x, i) -> "
        "transform(slice(ws, i + 2, size(ws)), y -> struct(x AS w1, y AS w2))))"
    )
    pairs = (
        words_per_doc.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 5)
    )
    d1 = df.select(F.col("w").alias("w1"), F.col("df").alias("df1"))
    d2 = df.select(F.col("w").alias("w2"), F.col("df").alias("df2"))
    return (
        pairs.join(F.broadcast(d1), "w1")
        .join(F.broadcast(d2), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "n_both",
            F.round(
                F.log(
                    F.col("n_both").cast("double")
                    * F.col("n_docs")
                    / (F.col("df1") * F.col("df2"))
                ),
                6,
            ).alias("pmi"),
        )
    )


@register(
    "word_collocation_llr",
    oracle="""
WITH dw AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dw),
df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY 1),
pairs AS (
  SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS n_both
  FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2
),
cells AS (
  SELECT w1, w2, n_both,
         CAST(n_both AS DOUBLE) AS k11,
         CAST(d1.df - n_both AS DOUBLE) AS k12,
         CAST(d2.df - n_both AS DOUBLE) AS k21,
         CAST(n_docs - d1.df - d2.df + n_both AS DOUBLE) AS k22,
         CAST(d1.df AS DOUBLE) AS c1, CAST(d2.df AS DOUBLE) AS c2,
         CAST(n_docs AS DOUBLE) AS nn
  FROM pairs JOIN df d1 ON w1 = d1.w JOIN df d2 ON w2 = d2.w CROSS JOIN n
  WHERE n_both >= 5
)
SELECT w1, w2, n_both,
       round(2.0 * ((((CASE WHEN k11 > 0 THEN k11 * ln(k11 * nn / (c1 * c2)) ELSE 0.0 END)
         + (CASE WHEN k12 > 0 THEN k12 * ln(k12 * nn / (c1 * (nn - c2))) ELSE 0.0 END))
         + (CASE WHEN k21 > 0 THEN k21 * ln(k21 * nn / ((nn - c1) * c2)) ELSE 0.0 END))
         + (CASE WHEN k22 > 0 THEN k22 * ln(k22 * nn / ((nn - c1) * (nn - c2))) ELSE 0.0 END)), 6)
       AS llr
FROM cells
""",
    description="Dunning log-likelihood-ratio collocation test (Dunning "
    "1993) over within-document word pairs — the significance-aware "
    "complement to word_cooccurrence_pmi: PMI overrates rare pairs (two "
    "hapaxes co-occurring once get max PMI), while G² weighs the full "
    "2×2 contingency table so evidence scales with count. Reuses the "
    "exact PMI machinery: per-doc sorted distinct vocabulary arrays, "
    "in-array combination explode (never a corpus self-join), one "
    "pair-count shuffle, broadcast df/N joins. All four contingency "
    "cells are exact integers; the G² expression is written in the same "
    "left-to-right order in both engines, so the doubles agree "
    "bit-for-bit before round(6).",
    tags=("text", "llm", "cooccurrence", "statistics"),
)
def q_word_collocation_llr(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.dedup import _persist_if_input_ge

    docs = load_table(spark, sf_dir, "documents")
    # size-gated like q_word_cooccurrence_pmi (same frames, same r13
    # cold-bench evidence): one-scan design above the input floor, no
    # cache-entry overhead below it
    words_per_doc = _persist_if_input_ge(
        docs.select(
            "doc_id",
            F.array_distinct(
                F.split(F.lower(F.trim("text")), r"\s+")
            ).alias("ws"),
        ),
        docs,
    )
    dw = words_per_doc.select("doc_id", F.explode("ws").alias("w"))
    n = words_per_doc.agg(F.count(F.lit(1)).alias("n_docs"))
    # df feeds BOTH broadcast sides (d1, d2) under different aliases, and
    # the renamed projections defeat ReuseExchange — without its own
    # persist the vocabulary explode + groupBy (a full pass over the
    # cached word arrays) executes once per side (round-12 plan audit).
    # One row per distinct word, spill-safe; same size gate as above.
    df = _persist_if_input_ge(
        dw.groupBy("w").agg(F.count(F.lit(1)).alias("df")), docs
    )
    sorted_ws = words_per_doc.select("doc_id", F.sort_array("ws").alias("ws"))
    pair_expr = F.expr(
        "flatten(transform(ws, (x, i) -> "
        "transform(slice(ws, i + 2, size(ws)), y -> struct(x AS w1, y AS w2))))"
    )
    pairs = (
        sorted_ws.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 5)
    )
    d1 = df.select(F.col("w").alias("w1"), F.col("df").alias("df1"))
    d2 = df.select(F.col("w").alias("w2"), F.col("df").alias("df2"))
    cells = (
        pairs.join(F.broadcast(d1), "w1")
        .join(F.broadcast(d2), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "n_both",
            F.col("n_both").cast("double").alias("k11"),
            (F.col("df1") - F.col("n_both")).cast("double").alias("k12"),
            (F.col("df2") - F.col("n_both")).cast("double").alias("k21"),
            (F.col("n_docs") - F.col("df1") - F.col("df2") + F.col("n_both"))
            .cast("double")
            .alias("k22"),
            F.col("df1").cast("double").alias("c1"),
            F.col("df2").cast("double").alias("c2"),
            F.col("n_docs").cast("double").alias("nn"),
        )
    )

    def term(k, denom):
        return F.when(k > 0, k * F.log(k * F.col("nn") / denom)).otherwise(
            F.lit(0.0)
        )

    # same association order as the oracle: ((t11 + t12) + t21) + t22
    g2 = 2.0 * (
        (
            (
                term(F.col("k11"), F.col("c1") * F.col("c2"))
                + term(F.col("k12"), F.col("c1") * (F.col("nn") - F.col("c2")))
            )
            + term(F.col("k21"), (F.col("nn") - F.col("c1")) * F.col("c2"))
        )
        + term(
            F.col("k22"), (F.col("nn") - F.col("c1")) * (F.col("nn") - F.col("c2"))
        )
    )
    return (
        cells.select("w1", "w2", "n_both", F.round(g2, 6).alias("llr"))
    )


# --- triangle counting -------------------------------------------------------


@register(
    "doc_graph_triangles",
    oracle="""
WITH n AS (SELECT count(*) AS n_docs FROM documents),
e0 AS (
  SELECT doc_id AS a, (doc_id * 31 + k.k) % n_docs AS b
  FROM documents, n, (VALUES (1), (2), (3)) k(k)
),
e AS (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM e0 WHERE a <> b
)
SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
FROM e e1
JOIN e e2 ON e1.b = e2.a
JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
""",
    description="Triangle enumeration on the undirected form of the same "
    "deterministic citation graph PageRank uses: canonicalize edges to "
    "(lo, hi), then the classic two-hop join with the ordering "
    "constraint v1 < v2 < v3 built into edge direction — each triangle "
    "emitted exactly once, no post-dedup. Both joins are equi-joins on "
    "vertex keys; at 100 TB orient edges low-degree → high-degree "
    "instead of low-id → high-id (the standard O(m^{3/2}) bound) — "
    "same plan shape, different orientation rule. Triangle density is "
    "the curation signal for citation-farm / link-spam detection.",
    tags=("graph", "join", "documents"),
)
def q_doc_graph_triangles(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    e0 = citation_edges(docs)
    # e feeds all three triangle-join roles — unpersisted, the edge
    # derivation (scan + explode + distinct exchange) re-ran once per
    # role (round-12 plan audit: 6 scans in this one plan). Edge-list
    # sized.
    e = lifetime.persist(
        e0.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    e1 = e.select(F.col("a").alias("v1"), F.col("b").alias("v2"))
    e2 = e.select(F.col("a").alias("v2"), F.col("b").alias("v3"))
    e3 = e.select(F.col("a").alias("v1"), F.col("b").alias("v3"))
    return (
        e1.join(e2, "v2").join(e3, ["v1", "v3"]).select("v1", "v2", "v3")
    )


# --- Markov event transitions ------------------------------------------------


@register(
    "user_event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type, event_type AS next_type,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       round(CAST(n AS DOUBLE)
             / sum(n) OVER (PARTITION BY prev_type), 6) AS p
FROM t
""",
    description="First-order Markov transition matrix of user behavior: "
    "lag() per user over the event stream (tie-broken by event_id for a "
    "total order), transition counts, and row-normalized probabilities "
    "via a ratio-to-report window over the 5×5 aggregated matrix. The "
    "only full-data shuffle is the per-user window partition; the "
    "normalization runs on ~|types|² rows. Transition skew between "
    "cohorts is the standard behavioral-drift signal.",
    tags=("analytics", "window", "events"),
)
def q_user_event_transitions(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(wseq).alias("prev_type"),
    )
    t = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wnorm = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wnorm), 6
        ).alias("p"),
    )


# --- behavioral entropy ------------------------------------------------------


@register(
    "user_event_entropy",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
tot AS (SELECT user_id, sum(n) AS total FROM c GROUP BY 1)
SELECT c.user_id,
       CAST(max(total) AS BIGINT) AS n_events,
       round(-sum((CAST(n AS DOUBLE) / total)
                  * ln(CAST(n AS DOUBLE) / total)), 6) AS entropy
FROM c JOIN tot ON c.user_id = tot.user_id
GROUP BY c.user_id
""",
    description="Shannon entropy of each user's event-type distribution "
    "(nats) — the behavioral-diversity signal (bots spike one type → "
    "entropy ≈ 0; organic users spread). Two aggregations over "
    "(user, type) keys; p·ln p on exact integer ratios rounded 6dp. "
    "The same shape scores token-distribution entropy of documents in a "
    "quality-filter pipeline.",
    tags=("analytics", "agg", "events"),
)
def q_user_event_entropy(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    wtot = Window.partitionBy("user_id")
    p = F.col("n").cast("double") / F.sum("n").over(wtot)
    return (
        c.withColumn("total", F.sum("n").over(wtot))
        .withColumn("term", p * F.log(p))
        .groupBy("user_id")
        .agg(
            F.max("total").cast("long").alias("n_events"),
            F.round(-F.sum("term"), 6).alias("entropy"),
        )
    )


# --- distribution windows: cume_dist / nth_value / share ---------------------


@register(
    "orders_cume_nth_suite",
    oracle="""
SELECT o_orderkey, o_custkey,
       cume_dist() OVER w AS cdist,
       nth_value(o_orderkey, 2) OVER (
           w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS second_ok,
       round(o_totalprice / sum(o_totalprice) OVER (
           PARTITION BY o_custkey), 6) AS price_share
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""",
    description="The distribution-window shapes the ranking suite left "
    "out: cume_dist (fraction of peers at-or-above), nth_value over the "
    "full frame (the runner-up order per customer), and ratio-to-report "
    "price share. One window partition shuffle serves all three.",
    tags=("window", "orders"),
)
def q_orders_cume_nth_suite(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    wfull = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wpart = Window.partitionBy("o_custkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.cume_dist().over(w).alias("cdist"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_ok"),
        F.round(
            F.col("o_totalprice") / F.sum("o_totalprice").over(wpart), 6
        ).alias("price_share"),
    )


# --- BFS shortest-path depths ------------------------------------------------


@register(
    "doc_graph_bfs_depths",
    oracle="""
WITH RECURSIVE bfs(node, depth) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % 97 = 0
  UNION ALL
  SELECT e.b, bfs.depth + 1
  FROM bfs JOIN (
    SELECT DISTINCT a, b FROM (
      SELECT doc_id AS a,
             (doc_id * 31 + k.k) % (SELECT count(*) FROM documents) AS b
      FROM documents, (VALUES (1), (2), (3)) k(k)
    ) WHERE a <> b
  ) e ON e.a = bfs.node
  WHERE bfs.depth < 4
)
SELECT node AS doc_id, CAST(min(depth) AS BIGINT) AS depth
FROM bfs GROUP BY 1
""",
    description="Multi-source BFS shortest-path depths (≤ 4 hops) from the "
    "doc_id % 97 = 0 seed set over the same deterministic 3-out citation "
    "graph PageRank and triangle counting use — the reachability/"
    "radius-of-influence primitive (link-spam neighborhoods, citation "
    "influence, contamination spread). Spark side is synchronous "
    "frontier expansion: each round joins ONLY the newly-reached "
    "frontier (min-depth == previous round) against the edge list, "
    "unions, and re-minimizes — never re-expands settled vertices, so "
    "round r's join is |frontier_r|·out-degree, not |V|·out-degree. "
    "Depth is exact integer; the DuckDB oracle unrolls the same "
    "semantics as a bounded recursive CTE, making an ITERATIVE graph "
    "algorithm fully hash-checkable (the PageRank convention). At "
    "100 TB each round is one shuffle keyed by vertex; bound rounds "
    "(here 4) or stop on an empty frontier via one count scalar.",
    tags=("graph", "iterative", "documents"),
)
def q_doc_graph_bfs_depths(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    edges = citation_edges(docs).filter(F.col("a") != F.col("b")).distinct()
    seeds = docs.filter(F.col("node") % 97 == 0).select(
        "node", F.lit(0).alias("depth")
    )
    dist = _bfs_depths(seeds, edges)
    return dist.select(
        F.col("node").alias("doc_id"), F.col("depth").cast("bigint").alias("depth")
    )


# --- local clustering coefficient --------------------------------------------


@register(
    "doc_graph_clustering_coeff",
    oracle="""
WITH n AS (SELECT count(*) AS n_docs FROM documents),
e0 AS (
  SELECT doc_id AS a, (doc_id * 31 + k.k) % n_docs AS b
  FROM documents, n, (VALUES (1), (2), (3)) k(k)
),
e AS (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM e0 WHERE a <> b
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
  ) GROUP BY 1
),
tri AS (
  SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
tv AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM (
    SELECT v1 AS v FROM tri UNION ALL
    SELECT v2 AS v FROM tri UNION ALL
    SELECT v3 AS v FROM tri
  ) GROUP BY 1
)
SELECT d.v AS node, d.deg, COALESCE(tv.n_tri, 0) AS n_tri,
       round(2.0 * COALESCE(tv.n_tri, 0) / (d.deg * (d.deg - 1)), 6) AS cc
FROM deg d LEFT JOIN tv ON d.v = tv.v
WHERE d.deg >= 2
""",
    description="Per-vertex local clustering coefficient on the citation "
    "graph: cc(v) = 2*T(v) / (deg(v)*(deg(v)-1)), where T(v) counts "
    "triangles through v — the per-node community-density signal (global "
    "triangle count says a corpus HAS dense pockets; cc says WHICH nodes "
    "sit in them — link-farm members score near 1). Reuses the "
    "doc_graph_triangles join exactly (canonical lo<hi edges, two-hop "
    "join, each triangle once), then fans each triangle to its 3 "
    "vertices — triangle-scale rows, not corpus-scale — and joins "
    "against degrees. Inputs to cc are exact integers; one float "
    "division rounded at 6dp. At 100 TB the same degree-orientation "
    "switch as triangles (low-degree -> high-degree) bounds the join at "
    "O(m^1.5); degree and triangle-count aggregates share the vertex "
    "key partitioning.",
    tags=("graph", "join", "documents"),
)
def q_doc_graph_clustering_coeff(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    e0 = citation_edges(docs)
    # feeds degrees AND the two-hop triangle join; cache scoped to the
    # returned plan (freed when the caller drops the result)
    e = lifetime.persist(
        e0.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e1 = e.select(F.col("a").alias("v1"), F.col("b").alias("v2"))
    e2 = e.select(F.col("a").alias("v2"), F.col("b").alias("v3"))
    e3 = e.select(F.col("a").alias("v1"), F.col("b").alias("v3"))
    tri = e1.join(e2, "v2").join(e3, ["v1", "v3"]).select("v1", "v2", "v3")
    tv = (
        tri.select(F.col("v1").alias("v"))
        .unionByName(tri.select(F.col("v2").alias("v")))
        .unionByName(tri.select(F.col("v3").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    out = (
        deg.join(tv, "v", "left")
        .filter(F.col("deg") >= 2)
        .select(
            F.col("v").alias("node"),
            "deg",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            F.round(
                F.lit(2.0)
                * F.coalesce("n_tri", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("cc"),
        )
    )
    return out


# --- k-core decomposition ----------------------------------------------------


def _irregular_graph(spark, sf_dir):
    """Deterministic IRREGULAR doc graph (variable out-degree 1-4 plus hub
    edges every 7th doc onto 16 hub vertices): the citation graph used by
    PageRank/triangles is 3-out-regular, which makes k-core membership
    all-or-nothing; peeling is only meaningful with degree variance."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    ncnt = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    base = docs.crossJoin(F.broadcast(ncnt))
    fan = base.select(
        F.col("node").alias("a"),
        F.explode(
            F.slice(
                F.array(
                    *[
                        F.pmod(F.col("node") * 31 + F.lit(j * j), F.col("n_docs"))
                        for j in (1, 2, 3, 4)
                    ]
                ),
                F.lit(1),
                F.lit(1) + F.pmod(F.col("node"), F.lit(4)),
            )
        ).alias("b"),
    )
    hubs = base.filter(F.pmod(F.col("node"), F.lit(7)) == 0).select(
        F.col("node").alias("a"), F.pmod(F.col("node"), F.lit(16)).alias("b")
    )
    return fan.unionByName(hubs)


def _kcore_oracle_sql(k: int = 4, rounds: int = 16) -> str:
    """Exact k-core oracle by UNROLLING the peeling fixpoint: round i
    keeps edges whose both endpoints have degree >= k in round i-1's edge
    set. Every stage is AS MATERIALIZED — default CTE inlining would
    duplicate each predecessor 4x per stage (exponential plan). Peeling is monotone (each round only removes) and idempotent at
    the fixpoint, so ``rounds`` unrolled stages compute the exact k-core
    whenever convergence takes <= rounds — the Spark side raises
    ConvergenceError past 50 rounds, and the sf fixtures converge in < 10
    (verified at sf0.001/0.01/0.1); extra stages are no-ops. This upgrades
    the driver check from rows-only to a full value-hash match despite
    'iterative fixpoint' not being one recursive CTE (aggregates are not
    allowed in a recursive term)."""
    sql = """
WITH n AS (SELECT count(*) AS n_docs FROM documents),
fan AS (
  SELECT doc_id AS a, (doc_id * 31 + v.j * v.j) % n.n_docs AS b
  FROM documents, n, (VALUES (1), (2), (3), (4)) v(j)
  WHERE v.j <= 1 + (doc_id % 4)
),
hubs AS (
  SELECT doc_id AS a, doc_id % 16 AS b FROM documents WHERE doc_id % 7 = 0
),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM (SELECT a, b FROM fan UNION ALL SELECT a, b FROM hubs)
  WHERE a <> b
)"""
    prev = "e0"
    for i in range(1, rounds + 1):
        sql += f""",
k{i} AS MATERIALIZED (
  SELECT v FROM (SELECT a AS v FROM {prev} UNION ALL SELECT b AS v FROM {prev}) t
  GROUP BY v HAVING count(*) >= {k}
),
e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN k{i} x ON e.a = x.v
  JOIN k{i} y ON e.b = y.v
)"""
        prev = f"e{i}"
    sql += f"""
SELECT v, CAST(count(*) AS BIGINT) AS deg
FROM (SELECT a AS v FROM {prev} UNION ALL SELECT b AS v FROM {prev}) t
GROUP BY v
"""
    return sql


@register(
    "doc_graph_kcore",
    oracle=_kcore_oracle_sql(),
    description="k-core decomposition (k=4) of an irregular deterministic "
    "doc graph via distributed peeling (operators/components.py "
    "kcore_vertices): repeatedly drop vertices with degree < k until the "
    "fixpoint — the standard dense-subgraph extractor (spam/link-farm "
    "cores, community nuclei; for corpus curation, the boilerplate-"
    "entangled core of a near-dup graph). Each round is one degree "
    "aggregate plus one semi-join edge filter, both keyed by vertex; the "
    "driver sees only a scalar edge count per round, and rounds are "
    "bounded by peeling depth with a loud ConvergenceError guard. "
    "Returns each survivor with its in-core degree. Full hash oracle via "
    "a 16-stage UNROLLED peel in DuckDB (monotone + idempotent at the "
    "fixpoint, so a generous unroll is exact; see _kcore_oracle_sql) — "
    "plus the pure-Python peeling oracle in pytest.",
    tags=("graph", "iterative", "documents"),
)
def q_doc_graph_kcore(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.components import kcore_vertices

    return kcore_vertices(_irregular_graph(spark, sf_dir), k=4)


@register(
    "markov_next_event_hitrate",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
pred AS (
  SELECT prev_type, event_type AS predicted
  FROM (SELECT prev_type, event_type, n,
               row_number() OVER (PARTITION BY prev_type
                                  ORDER BY n DESC, event_type ASC) AS rn
        FROM trans)
  WHERE rn = 1
)
SELECT t.prev_type,
       p.predicted,
       CAST(sum(t.n) AS BIGINT) AS n_transitions,
       CAST(sum(CASE WHEN t.event_type = p.predicted THEN t.n ELSE 0 END)
            AS BIGINT) AS n_hits,
       round(CAST(sum(CASE WHEN t.event_type = p.predicted THEN t.n ELSE 0 END)
                  AS DOUBLE) / sum(t.n), 6) AS hit_rate
FROM trans t JOIN pred p ON t.prev_type = p.prev_type
GROUP BY 1, 2
""",
    description="In-sample eval of the 1st-order Markov next-event model: "
    "per current state, the argmax-transition prediction (count-desc, "
    "type-asc total order — no float argmax) and its hit rate — the "
    "baseline any sequence model must beat, and the eval-harness closer "
    "for user_event_transitions (which gives probabilities but no "
    "skill number). Transition matrix is |types|²-sized after one "
    "lag + count pass; everything downstream is grid metadata.",
    tags=("graph", "events", "mlprep", "statistics"),
)
def q_markov_next_event_hitrate(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wp = Window.partitionBy("prev_type").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    pred = (
        trans.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("prev_type", F.col("event_type").alias("predicted"))
    )
    hits = F.sum(
        F.when(F.col("event_type") == F.col("predicted"), F.col("n")).otherwise(0)
    )
    return (
        trans.join(F.broadcast(pred), "prev_type")
        .groupBy("prev_type", "predicted")
        .agg(
            F.sum("n").cast("long").alias("n_transitions"),
            hits.cast("long").alias("n_hits"),
            F.round(hits.cast("double") / F.sum("n"), 6).alias("hit_rate"),
        )
    )


# --- strongly connected components (directed) --------------------------------


@register(
    "doc_graph_scc",
    oracle="""
WITH RECURSIVE
docs AS (SELECT doc_id FROM documents),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
base AS (
  SELECT doc_id, 4 * (doc_id // 4) AS blk_start,
         LEAST(4, (SELECT n FROM nn) - 4 * (doc_id // 4)) AS blk_sz,
         doc_id // 4 AS blk
  FROM docs
),
e AS (
  SELECT doc_id AS a,
         blk_start + ((doc_id - blk_start + 1) % blk_sz) AS b
  FROM base
  WHERE blk_start + ((doc_id - blk_start + 1) % blk_sz) <> doc_id
  UNION ALL
  SELECT doc_id, blk_start + 4
  FROM base
  WHERE doc_id = blk_start AND blk % 3 <> 2
    AND blk_start + 4 < (SELECT n FROM nn)
),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON e.a = r.b
)
SELECT r1.a AS doc_id, CAST(min(r1.b) AS BIGINT) AS scc_id
FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
GROUP BY 1
""",
    description="Strongly connected components of a DIRECTED citation "
    "graph — the mutual-reachability refinement none of the undirected "
    "tiers (CC, k-core, triangles) can express: scc_id(v) = min u with "
    "v ->* u AND u ->* v. The deterministic graph is block-structured "
    "(4-node directed rings = the SCCs, chained 3 blocks deep into "
    "DAG groups), so both the SCC sizes and the condensation depth are "
    "fixture-independent. Spark side is forward-backward coloring "
    "(operators/components.py strongly_connected_components, the "
    "GraphX/Orzan scheme): forward min-label coloring to fixpoint, "
    "within-color backward collection from each pivot (provably exactly "
    "SCC(pivot)), peel, repeat — every step a key-partitioned "
    "join+min-aggregate on the shrinking remainder, no transitive "
    "closure, driver sees only convergence scalars; ConvergenceError "
    "instead of a silently wrong labeling. The DuckDB oracle IS the "
    "mutual-closure definition (bounded recursive CTE, ~12 reachable "
    "nodes per vertex by construction), making the iterative algorithm "
    "fully hash-checkable, the CC/k-core convention.",
    tags=("graph", "iterative", "documents"),
)
def q_doc_graph_scc(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.components import (
        strongly_connected_components,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ncnt = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    base = docs.crossJoin(F.broadcast(ncnt)).select(
        "doc_id",
        (F.lit(4) * F.expr("doc_id DIV 4")).alias("blk_start"),
        F.least(F.lit(4), F.col("n") - F.lit(4) * F.expr("doc_id DIV 4")).alias(
            "blk_sz"
        ),
        F.expr("doc_id DIV 4").alias("blk"),
        "n",
    )
    ring = base.select(
        F.col("doc_id").alias("a"),
        (
            F.col("blk_start")
            + F.pmod(F.col("doc_id") - F.col("blk_start") + 1, F.col("blk_sz"))
        ).alias("b"),
    ).filter(F.col("a") != F.col("b"))
    chain = base.filter(
        (F.col("doc_id") == F.col("blk_start"))
        & (F.pmod(F.col("blk"), F.lit(3)) != 2)
        & (F.col("blk_start") + 4 < F.col("n"))
    ).select(F.col("doc_id").alias("a"), (F.col("blk_start") + 4).alias("b"))
    edges = ring.unionByName(chain)
    return strongly_connected_components(docs, edges, src="a", dst="b")


# --- Weisfeiler-Lehman color refinement --------------------------------------


@register(
    "doc_graph_wl_colors",
    oracle="""
WITH n AS (SELECT count(*) AS n_docs FROM documents),
e0 AS (
  SELECT doc_id AS a, (doc_id * 31 + k.k) % n_docs AS b
  FROM documents, n, (VALUES (1), (2), (3)) k(k)
),
eu AS (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM e0 WHERE a <> b
),
sym AS (
  SELECT a, b FROM eu UNION ALL SELECT b, a FROM eu
),
c0 AS (
  SELECT d.doc_id AS v,
         CAST(coalesce(s.deg, 0) AS VARCHAR) AS c
  FROM documents d
  LEFT JOIN (SELECT a AS v, CAST(count(*) AS BIGINT) AS deg
             FROM sym GROUP BY 1) s ON s.v = d.doc_id
),
c1 AS (
  SELECT c0.v,
         substr(md5(c0.c || '|' ||
                    coalesce(string_agg(cn.c, ',' ORDER BY cn.c), '')),
                1, 12) AS c
  FROM c0
  LEFT JOIN sym ON sym.a = c0.v
  LEFT JOIN c0 cn ON cn.v = sym.b
  GROUP BY c0.v, c0.c
),
c2 AS (
  SELECT c1.v,
         substr(md5(c1.c || '|' ||
                    coalesce(string_agg(cn.c, ',' ORDER BY cn.c), '')),
                1, 12) AS c
  FROM c1
  LEFT JOIN sym ON sym.a = c1.v
  LEFT JOIN c1 cn ON cn.v = sym.b
  GROUP BY c1.v, c1.c
)
SELECT c AS wl_color, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(v) AS BIGINT) AS min_doc
FROM c2 GROUP BY 1
""",
    description="1-Weisfeiler-Lehman color refinement (2 rounds) over the "
    "symmetrized 3-out citation graph: color_0 = degree, color_{r+1} = "
    "md5(own color || sorted multiset of neighbor colors) — the "
    "graph-STRUCTURE fingerprint behind WL graph kernels and GNN "
    "expressiveness, and the structural-dedup primitive for graph-shaped "
    "records (two nodes sharing a final color have isomorphic 2-hop "
    "unfoldings). Output is the color histogram with a min-doc witness "
    "per class. Each round is one neighbor join + one per-node "
    "sorted-concat aggregate — key-partitioned, rounds unrolled (2), "
    "cost per round is |E|, never |V|²; the sorted multiset string is "
    "built identically in both engines (array_sort+array_join vs "
    "ORDER BY string_agg), so colors hash-match exactly; full oracle.",
    tags=("graph", "iterative", "documents"),
)
def q_doc_graph_wl_colors(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    e0 = citation_edges(docs.select(F.col("doc_id").alias("node"))).filter(
        F.col("a") != F.col("b")
    )
    eu = e0.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct()
    sym = eu.unionByName(
        eu.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    colors = docs.join(deg, docs["doc_id"] == deg["v"], "left").select(
        F.col("doc_id").alias("v"),
        F.coalesce(F.col("deg"), F.lit(0)).cast("string").alias("c"),
    )

    def refine(colors):
        nb = sym.join(
            colors.select(F.col("v").alias("b"), F.col("c").alias("nc")), "b"
        ).select(F.col("a").alias("v"), "nc")
        return (
            colors.join(nb, "v", "left")
            .groupBy("v", "c")
            .agg(
                F.array_join(
                    F.array_sort(F.collect_list("nc")), ","
                ).alias("nbs")
            )
            .select(
                "v",
                F.substring(
                    F.md5(F.concat(F.col("c"), F.lit("|"), F.col("nbs"))), 1, 12
                ).alias("c"),
            )
        )

    colors = fixpoint(colors, refine, 2)
    return (
        colors.groupBy(F.col("c").alias("wl_color")).agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("v").cast("long").alias("min_doc"),
        )
    )


# --- neighborhood function (exact tier) --------------------------------------


@register(
    "doc_graph_neighborhood_function",
    oracle="""
WITH RECURSIVE e AS (
  SELECT DISTINCT a, b FROM (
    SELECT doc_id AS a,
           (doc_id * 31 + k.k) % (SELECT count(*) FROM documents) AS b
    FROM documents, (VALUES (1), (2), (3)) k(k)
  ) WHERE a <> b
),
bfs(src, node, depth) AS (
  SELECT doc_id, doc_id, 0 FROM documents
  UNION ALL
  SELECT bfs.src, e.b, bfs.depth + 1
  FROM bfs JOIN e ON e.a = bfs.node
  WHERE bfs.depth < 4
),
d AS (SELECT src, node, min(depth) AS dist FROM bfs GROUP BY 1, 2),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT rr.r AS radius,
       CAST(count(*) AS BIGINT) AS pairs,
       round(CAST(count(*) AS DOUBLE) / n.n_docs, 6) AS avg_ball
FROM d, (VALUES (0), (1), (2), (3), (4)) rr(r), n
WHERE d.dist <= rr.r
GROUP BY rr.r, n.n_docs
""",
    description="EXACT neighborhood function N(r) = #{(u,v): dist(u,v) <= r} "
    "for r = 0..4 over the deterministic 3-out citation graph (same graph "
    "as PageRank/BFS/triangles) — the distance-distribution primitive "
    "behind effective-diameter and graph-connectivity audits (Palmer/"
    "Faloutsos ANF; Boldi-Vigna HyperBall). Spark side is all-sources "
    "synchronous BFS carrying (src, node, depth) state: per round, join "
    "ONLY the newly-settled frontier against the edge list and "
    "re-minimize. State is bounded by sum of ball sizes "
    "(<= n * outdeg^4 here), NOT n^2 — and the oracle unrolls the same "
    "semantics as a bounded recursive CTE, so an iterative graph "
    "algorithm is fully hash-checkable. This tier is the semantic spec "
    "and the small-graph path; at 100 TB the per-(src,node) state frame "
    "is the documented-infeasible part and doc_graph_hyperball is the "
    "scale path (HLL registers, O(n*m) state). avg_ball is an "
    "exact-integer ratio rounded 6dp (the stable tfidf convention).",
    tags=("graph", "iterative", "documents"),
)
def q_doc_graph_neighborhood_function(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    edges = citation_edges(docs).filter(F.col("a") != F.col("b")).distinct()
    dist = _bfs_depths(
        docs.select(F.col("node").alias("src"), "node", F.lit(0).alias("depth")),
        edges,
    )
    ncnt = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    radii = F.explode(F.sequence(F.lit(0), F.lit(4))).alias("radius")
    return (
        dist.select(radii, "depth")
        .filter(F.col("depth") <= F.col("radius"))
        .groupBy("radius")
        .agg(F.count(F.lit(1)).alias("pairs"))
        .crossJoin(F.broadcast(ncnt))
        .select(
            F.col("radius").cast("int").alias("radius"),
            "pairs",
            F.round(
                F.col("pairs").cast("double") / F.col("n_docs"), 6
            ).alias("avg_ball"),
        )
    )


# --- HyperBall (HLL-register neighborhood function, the scale tier) ----------


@register(
    "doc_graph_hyperball",
    oracle=None,
    description="HyperBall (Boldi-Vigna 2013): the neighborhood function "
    "N(4) estimated with per-vertex HyperLogLog registers instead of "
    "explicit reachable sets — THE scale path for distance distributions "
    "on graphs where the exact (src, node) state frame "
    "(doc_graph_neighborhood_function) is infeasible. Each vertex "
    "carries m=64 5-bit registers (here an int array); one round = join "
    "the register frame to the edge list (regs of successor b flow to "
    "a), union with own registers, groupBy vertex with an elementwise-"
    "max F.aggregate over collect_list — per-group list bounded by "
    "out-degree, localCheckpoint per round so the plan stays linear. "
    "State is O(n * m) regardless of ball sizes; every round is ONE "
    "keyed shuffle — at 100 TB this is executor-sized by vertex "
    "partitioning (power-law in-degree hubs: two-level tree-merge the "
    "collect_list). Registers are xxhash64-derived (j = hash & 63, rho "
    "= lsb-position of the remaining bits) — fully deterministic, no "
    "RNG. Estimator: raw HLL alpha_64 * m^2 / sum 2^-M with the "
    "standard linear-counting small-range correction. Rows-only driver "
    "check by design (HLL estimates have no SQL oracle); accuracy vs "
    "the exact tier and rerun-determinism are pinned in pytest "
    "(test_pipeline_ops).",
    tags=("graph", "iterative", "sketch", "documents"),
)
def q_doc_graph_hyperball(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    edges = citation_edges(docs).filter(F.col("a") != F.col("b")).distinct()
    # init registers: node's own hash -> (bucket j, rank rho); rho computed
    # from the low bit of the remaining 58 bits via w & -w (an exact power
    # of two -> log2 is float-exact), w == 0 capped at 59
    regs = docs.select(
        "node",
        F.expr(
            """
            transform(sequence(0, 63), i -> IF(
                i = CAST(xxhash64(node) & 63 AS INT),
                CAST(named_struct('w', shiftrightunsigned(xxhash64(node), 6)).w AS BIGINT),
                CAST(-1 AS BIGINT)))
            """
        ).alias("_wraw"),
    ).select(
        "node",
        F.expr(
            """
            transform(_wraw, w -> CASE
                WHEN w = -1 THEN 0
                WHEN w = 0 THEN 59
                ELSE CAST(round(log2(CAST(w & -w AS DOUBLE))) AS INT) + 1
            END)
            """
        ).alias("regs"),
    )
    zero64 = "transform(sequence(0, 63), i -> 0)"
    emax = (
        "aggregate(collect_list(regs), "
        + zero64
        + ", (acc, x) -> zip_with(acc, x, (p, q) -> greatest(p, q)))"
    )

    def merge_successors(regs):
        inbound = regs.join(edges, regs.node == edges.b).select(
            F.col("a").alias("node"), "regs"
        )
        return regs.unionByName(inbound).groupBy("node").agg(F.expr(emax).alias("regs"))

    regs = fixpoint(regs, merge_successors, 4)
    # per-vertex HLL estimate: raw = alpha_64 * m^2 / sum(2^-M); small-range
    # linear counting when raw <= 2.5m and empty registers remain
    est = regs.select(
        "node",
        F.expr(
            "aggregate(regs, CAST(0.0 AS DOUBLE), (s, x) -> s + pow(2.0, -x))"
        ).alias("zsum"),
        F.expr("size(filter(regs, x -> x = 0))").alias("v0"),
    ).select(
        "node",
        F.expr(
            """
            CASE WHEN (0.709 * 4096.0 / zsum) <= 160.0 AND v0 > 0
                 THEN 64.0 * ln(64.0 / v0)
                 ELSE 0.709 * 4096.0 / zsum END
            """
        ).alias("ball_est"),
    )
    return (
        est.agg(
            F.round(F.sum("ball_est"), 2).alias("nf4_est"),
            F.round(F.avg("ball_est"), 4).alias("avg_ball_est"),
            F.count(F.lit(1)).alias("n_nodes"),
        )
        .select(F.lit(4).alias("radius"), "nf4_est", "avg_ball_est", "n_nodes")
    )


# --- effective diameter (from the neighborhood function) ----------------------


@register(
    "doc_graph_effective_diameter",
    oracle="""
WITH RECURSIVE e AS (
  SELECT DISTINCT a, b FROM (
    SELECT doc_id AS a,
           (doc_id * 31 + k.k) % (SELECT count(*) FROM documents) AS b
    FROM documents, (VALUES (1), (2), (3)) k(k)
  ) WHERE a <> b
),
bfs(src, node, depth) AS (
  SELECT doc_id, doc_id, 0 FROM documents
  UNION ALL
  SELECT bfs.src, e.b, bfs.depth + 1
  FROM bfs JOIN e ON e.a = bfs.node
  WHERE bfs.depth < 4
),
d AS (SELECT src, node, min(depth) AS dist FROM bfs GROUP BY 1, 2),
nf AS (
  SELECT rr.r AS radius, CAST(count(*) AS BIGINT) AS pairs
  FROM d, (VALUES (0), (1), (2), (3), (4)) rr(r)
  WHERE d.dist <= rr.r
  GROUP BY rr.r
),
tgt AS (
  SELECT 0.9 * max(pairs) AS t, CAST(max(pairs) AS BIGINT) AS n4 FROM nf
),
lagged AS (
  SELECT radius, pairs,
         lag(pairs) OVER (ORDER BY radius) AS prev
  FROM nf
)
SELECT n4,
       round(t, 2) AS target_pairs,
       CAST(min(radius) AS BIGINT) AS reach_radius,
       round(CASE WHEN min(radius) = 0 THEN 0.0
                  ELSE min(radius) - 1
                       + (t - min(prev)) / (min(pairs) - min(prev)) END,
             4) AS eff_diameter_90
FROM (
  SELECT l.radius, l.pairs, l.prev, tgt.t, tgt.n4
  FROM lagged l, tgt
  WHERE l.pairs >= tgt.t
    AND l.radius = (SELECT min(radius) FROM lagged x, tgt
                    WHERE x.pairs >= tgt.t)
) GROUP BY n4, t
""",
    description="90% effective diameter (Palmer/Faloutsos ANF; the "
    "one-scalar connectivity summary every graph audit quotes): the "
    "interpolated radius at which the neighborhood function reaches "
    "90% of N(4) — d = (r-1) + (0.9 N4 - N(r-1)) / (N(r) - N(r-1)) at "
    "the first qualifying r. Built directly on the exact NF tier "
    "(all-sources bounded BFS; at 100 TB swap in HyperBall's register "
    "estimates — the interpolation is radius-scale either way). "
    "Interpolation runs on the 5-row radius table; full oracle via "
    "the same recursive-CTE unroll plus an identical lag window.",
    tags=("graph", "iterative", "documents"),
)
def q_doc_graph_effective_diameter(spark, sf_dir):
    nf = q_doc_graph_neighborhood_function(spark, sf_dir).select(
        "radius", "pairs"
    )
    wlag = Window.orderBy("radius")
    lagged = nf.select(
        "radius", "pairs", F.lag("pairs").over(wlag).alias("prev")
    )
    tgt = nf.agg(
        (0.9 * F.max("pairs")).alias("t"), F.max("pairs").alias("n4")
    )
    qual = (
        lagged.crossJoin(F.broadcast(tgt))
        .filter(F.col("pairs") >= F.col("t"))
        .groupBy("n4", "t")
        .agg(
            F.min("radius").alias("reach_radius"),
            F.min_by("pairs", "radius").alias("p_at"),
            F.min_by("prev", "radius").alias("prev_at"),
        )
    )
    return qual.select(
        "n4",
        F.round(F.col("t"), 2).alias("target_pairs"),
        F.col("reach_radius").cast("long").alias("reach_radius"),
        F.round(
            F.when(F.col("reach_radius") == 0, F.lit(0.0)).otherwise(
                F.col("reach_radius")
                - 1
                + (F.col("t") - F.col("prev_at"))
                / (F.col("p_at") - F.col("prev_at"))
            ),
            4,
        ).alias("eff_diameter_90"),
    )


# --- link prediction: common neighbors + Adamic-Adar ---------------------------


@register(
    "doc_graph_adamic_adar",
    oracle="""
WITH n AS (SELECT count(*) AS n_docs FROM documents),
e0 AS (
  SELECT doc_id AS a, (doc_id * 31 + k.k) % n_docs AS b
  FROM documents, n, (VALUES (1), (2), (3)) k(k)
),
e AS (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM e0 WHERE a <> b
),
adj AS (
  SELECT a AS z, b AS v FROM e UNION ALL SELECT b, a FROM e
),
deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
wedge AS (
  SELECT n1.v AS u, n2.v AS w, n1.z
  FROM adj n1 JOIN adj n2 ON n1.z = n2.z AND n1.v < n2.v
),
scored AS (
  SELECT wedge.u, wedge.w,
         CAST(count(*) AS BIGINT) AS common_neighbors,
         round(sum(1.0 / ln(deg.deg)), 6) AS adamic_adar
  FROM wedge JOIN deg ON deg.z = wedge.z
  WHERE deg.deg > 1
  GROUP BY 1, 2
)
SELECT s.u, s.w, s.common_neighbors, s.adamic_adar
FROM scored s
LEFT JOIN e ON e.a = s.u AND e.b = s.w
WHERE e.a IS NULL AND s.common_neighbors >= 2
""",
    description="Link prediction on the undirected citation graph: "
    "common-neighbor count and Adamic-Adar score (sum over shared "
    "neighbors z of 1/ln deg(z) — rare shared neighbors weigh more) "
    "for NON-adjacent pairs with >= 2 shared neighbors — the classic "
    "recommend-a-citation / find-missing-link primitive, and the graph "
    "cousin of the dedup candidate generators. Shape: one wedge join "
    "through the shared neighbor (cost sum deg(z)^2 — the postings-"
    "explosion bound again; at 100 TB cap or sub-sample hub vertices "
    "exactly like the df-capped jaccard tier), degrees broadcast onto "
    "the wedge stream, existing edges removed by anti-join BEFORE "
    "output. Scores are 1/ln of exact integer degrees summed then "
    "rounded (the tfidf convention). Full oracle.",
    tags=("graph", "documents", "similarity"),
)
def q_doc_graph_adamic_adar(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    # e feeds both adj union branches AND the final left-anti join, and adj
    # feeds deg plus both wedge sides — unpersisted, every consumer re-ran
    # the edge derivation from the raw scan (round-12 plan audit: 14
    # parquet scans of documents in this one plan). Both frames are
    # edge-list sized.
    e = lifetime.persist(
        citation_edges(docs, "x", "y")
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
    )
    adj = lifetime.persist(
        e.select(F.col("a").alias("z"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("z"), F.col("a").alias("v"))
        )
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    n1 = adj.select("z", F.col("v").alias("u"))
    n2 = adj.select("z", F.col("v").alias("w"))
    wedge = n1.join(n2, "z").filter(F.col("u") < F.col("w"))
    scored = (
        wedge.join(F.broadcast(deg.filter(F.col("deg") > 1)), "z")
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.round(F.sum(1.0 / F.log(F.col("deg"))), 6).alias("adamic_adar"),
        )
    )
    return (
        scored.join(
            e,
            (e.a == scored.u) & (e.b == scored.w),
            "left_anti",
        )
        .filter(F.col("common_neighbors") >= 2)
        .select("u", "w", "common_neighbors", "adamic_adar")
    )

"""Flagship inverted-index query family (SURVEY.md §2.A, O1–O11).

The DuckDB oracles mirror the reference semantics exactly:
tokenize on whitespace → strip non-alpha + lowercase → drop empties →
per-doc distinct → group by word.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_paradigm_spark import lifetime
from mapreduce_paradigm_spark.functions import doc_words
from mapreduce_paradigm_spark.operators.index import (
    inverted_index,
    letter_ranked,
)
from mapreduce_paradigm_spark.registry import register
from mapreduce_paradigm_spark.sources.tables import load_table

# Shared oracle CTE: the reference's O2–O5 word pipeline in DuckDB SQL.
DUCK_WORDS = """
WITH words AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, lower(regexp_replace(token, '[^A-Za-z]', '', 'g')) AS word
    FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS token
          FROM documents)
  ) WHERE length(word) > 0
)
"""


def _index_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return inverted_index(load_table(spark, sf_dir, "documents"))


@register(
    "inverted_index",
    oracle=DUCK_WORDS
    + """
SELECT word,
       array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS doc_ids,
       count(DISTINCT doc_id) AS df
FROM words
GROUP BY word
""",
    description="Flagship: case-folded alphabetic distinct-per-doc inverted index "
    "(reference src/main.cpp end-to-end pipeline).",
    bench=True,
    tags=("flagship", "aggregation", "text"),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _index_df(spark, sf_dir).select(
        "word", F.array_join("doc_ids", " ").alias("doc_ids"), "df"
    )


@register(
    "inverted_index_letter_rank",
    oracle=DUCK_WORDS
    + """
SELECT substring(word, 1, 1) AS letter, word, df,
       row_number() OVER (PARTITION BY substring(word, 1, 1)
                          ORDER BY df DESC, word ASC) AS rank_in_letter
FROM (SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY word)
""",
    description="Per-letter df-desc/word-asc ranking — the reference's output "
    "order (src/main.cpp:83-91) as a window function.",
    bench=True,
    tags=("flagship", "window", "text"),
)
def q_inverted_index_letter_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return letter_ranked(_index_df(spark, sf_dir)).select(
        "letter", "word", "df", "rank_in_letter"
    )


@register(
    "top5_words_per_letter",
    oracle=DUCK_WORDS
    + """
SELECT letter, word, df FROM (
  SELECT substring(word, 1, 1) AS letter, word, df,
         row_number() OVER (PARTITION BY substring(word, 1, 1)
                            ORDER BY df DESC, word ASC) AS rnk
  FROM (SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY word)
) WHERE rnk <= 5
""",
    description="Per-group top-k via window row_number (SURVEY.md §2.B limit/top-k).",
    tags=("window", "topk", "text"),
)
def q_top5_words_per_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        letter_ranked(_index_df(spark, sf_dir))
        .filter(F.col("rank_in_letter") <= 5)
        .select("letter", "word", "df")
    )


@register(
    "inverted_index_formatted",
    oracle=DUCK_WORDS
    + """
SELECT substring(word, 1, 1) AS letter,
       word || ':[' || array_to_string(list_sort(list(DISTINCT doc_id)), ' ') || ']'
         AS record
FROM words
GROUP BY word
""",
    description="Reference sink format parity (src/main.cpp:167-176): "
    "`word:[i1 i2 ... ik]` records keyed by output-partition letter — the "
    "exact bytes the 26-file text sink writes.",
    tags=("flagship", "sink", "text"),
)
def q_inverted_index_formatted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paradigm_spark.sinks import format_index_records

    return format_index_records(_index_df(spark, sf_dir)).select(
        "letter", F.col("value").alias("record")
    )


@register(
    "word_frequency",
    oracle=DUCK_WORDS
    + """
SELECT word, count(*) AS tf
FROM words
GROUP BY word
""",
    description="Corpus term frequency (non-distinct counterpart of the index).",
    bench=True,
    tags=("aggregation", "text"),
)
def q_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return doc_words(docs).groupBy("word").agg(F.count("*").alias("tf"))


@register(
    "word_frequency_salted",
    oracle=DUCK_WORDS
    + """
SELECT word, count(*) AS tf
FROM words
GROUP BY word
""",
    description="Skew-salted two-phase term frequency: groupBy(word, salt) "
    "then groupBy(word) — hot Zipfian keys (stop words) spread over 16 "
    "reducers; exact same result as the direct aggregate.",
    tags=("aggregation", "text", "skew"),
)
def q_word_frequency_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paradigm_spark.operators.salted import salted_count

    docs = load_table(spark, sf_dir, "documents")
    return salted_count(doc_words(docs), ["word"], buckets=16, alias="tf")


# Shared positional CTE: 0-based raw-token positions surviving normalization.
DUCK_POS_WORDS = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_transform(regexp_split_to_array(text, '\\s+'),
                               (x, i) -> {'pos': i - 1, 'tok': x})) AS t
  FROM documents
), pw AS (
  SELECT doc_id, t.pos AS pos,
         lower(regexp_replace(t.tok, '[^A-Za-z]', '', 'g')) AS word
  FROM toks
)
"""


@register(
    "positional_index",
    oracle=DUCK_POS_WORDS
    + """
SELECT word, doc_id,
       array_to_string(list_sort(list(pos)), ' ') AS positions
FROM pw WHERE length(word) > 0
GROUP BY word, doc_id
""",
    description="Positional inverted index: per (word, doc) sorted 0-based "
    "raw-token offsets — the phrase-query generalization of the flagship "
    "(positions assigned before empty-token drops so adjacency survives).",
    tags=("flagship", "text", "index"),
)
def q_positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paradigm_spark.operators.index import positional_postings

    return positional_postings(load_table(spark, sf_dir, "documents")).select(
        "word", "doc_id", F.array_join("positions", " ").alias("positions")
    )


@register(
    "phrase_match_table_hash",
    oracle=DUCK_POS_WORDS
    + """
SELECT DISTINCT a.doc_id
FROM pw a JOIN pw b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.word = 'table' AND b.word = 'hash'
""",
    description="Exact phrase search ('table hash') over the positional "
    "index: adjacency via arrays_overlap of shifted position lists — "
    "array-side, no row-explosion join.",
    tags=("flagship", "text", "index"),
)
def q_phrase_match_table_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paradigm_spark.operators.index import phrase_match

    return phrase_match(load_table(spark, sf_dir, "documents"), "table", "hash")


@register(
    "bigram_counts",
    oracle=DUCK_POS_WORDS
    + """
SELECT a.word AS w1, b.word AS w2, count(*) AS n
FROM pw a JOIN pw b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE length(a.word) > 0 AND length(b.word) > 0
GROUP BY 1, 2
HAVING count(*) >= 5
""",
    description="Adjacent-word co-occurrence (bigram) counts over the "
    "positional token stream — the n-gram statistics step of a language "
    "pipeline; integer HAVING threshold keeps selection float-free.",
    tags=("flagship", "text", "ngram"),
)
def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paradigm_spark.functions import normalized_word, tokens

    docs = load_table(spark, sf_dir, "documents")
    # adjacency from the raw token array directly: zip words with their
    # successors array-side, explode once — no positional self-join at all
    arr = docs.select(
        "doc_id",
        F.transform(tokens(F.col("text")), lambda t: normalized_word(t)).alias("ws"),
    )
    bigrams = arr.select(
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN "
                "filter(transform(sequence(1, size(ws) - 1), "
                "i -> struct(ws[i - 1] AS w1, ws[i] AS w2)), "
                "p -> length(p.w1) > 0 AND length(p.w2) > 0) "
                "ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END"
            )
        ).alias("b")
    )
    return (
        bigrams.groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
    )


@register(
    "dedup_keep_one",
    oracle="""
WITH g AS (
  SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h,
         min(doc_id) AS keep
  FROM documents GROUP BY 1
)
SELECT d.doc_id
FROM documents d
JOIN g ON md5(lower(trim(regexp_replace(d.text, '\\s+', ' ', 'g')))) = g.h
WHERE d.doc_id = g.keep
""",
    description="APPLY the exact dedup: keep exactly the minimum doc_id of "
    "each content-identical group — the survivor set a training pipeline "
    "actually materializes.",
    tags=("dedup", "llm"),
)
def q_dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paradigm_spark.operators.dedup import exact_duplicate_groups

    docs = load_table(spark, sf_dir, "documents")
    keepers = exact_duplicate_groups(docs).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    return keepers


@register(
    "tfidf_scores",
    oracle=DUCK_WORDS
    + """
, tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
  df AS (SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY 1),
  n  AS (SELECT count(DISTINCT doc_id) AS n_docs FROM words)
SELECT tf.doc_id, tf.word, tf.tf, df.df,
       round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
FROM tf JOIN df USING (word) CROSS JOIN n
WHERE tf.tf >= 2
""",
    description="TF-IDF on the flagship word stream: term frequency joined "
    "with document frequency and ln(N/df); integer tf/df exported exactly, "
    "score rounded (libm ln may differ in the last ulp across engines). "
    "Selection predicate is integer-exact (tf >= 2) so no float boundary "
    "can flip membership.",
    tags=("flagship", "text", "llm"),
)
def q_tfidf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = doc_words(load_table(spark, sf_dir, "documents"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_ = words.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = words.select(F.count_distinct("doc_id").alias("n_docs"))
    return (
        tf.join(df_, "word")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("tf") >= 2)
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


@register(
    "documents_stratified_sample",
    oracle=None,  # engine-specific RNG — rows-only; determinism pinned in pytest
    description="Seeded stratified sampling by predicted language "
    "(sampleBy): the train/eval split primitive of a data pipeline. "
    "Deterministic for a fixed seed WITHIN Spark; no cross-engine oracle "
    "exists by construction.",
    tags=("llm", "sampling"),
)
def q_documents_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paradigm_spark.operators.textstats import language_id

    docs = load_table(spark, sf_dir, "documents")
    labeled = language_id(docs).select("doc_id", "lang_pred")
    fractions = {"en": 0.5, "de": 0.5, "fr": 0.5, "es": 0.5, "und": 0.1}
    return labeled.sampleBy("lang_pred", fractions, seed=42)


@register(
    "doc_token_stats",
    oracle=DUCK_WORDS
    + """
SELECT doc_id,
       count(*) AS n_tokens,
       count(DISTINCT word) AS n_distinct_words,
       round(avg(length(word)), 4) AS avg_word_len
FROM words
GROUP BY doc_id
""",
    description="Per-document token statistics over the normalized word stream.",
    tags=("aggregation", "text"),
)
def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        doc_words(docs)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count_distinct("word").alias("n_distinct_words"),
            F.round(F.avg(F.length("word")), 4).alias("avg_word_len"),
        )
    )


@register(
    "proximity_match_slop",
    oracle=DUCK_POS_WORDS
    + """, pp AS (
  SELECT word, doc_id, list_sort(list(pos)) AS positions
  FROM pw WHERE word <> '' GROUP BY 1, 2
),
ax AS (SELECT doc_id, unnest(positions) AS pa FROM pp WHERE word = 'hash'),
bx AS (SELECT doc_id, unnest(positions) AS pb FROM pp WHERE word = 'join'),
d AS (
  SELECT ax.doc_id, CAST(min(abs(pa - pb)) AS BIGINT) AS min_dist
  FROM ax JOIN bx USING (doc_id)
  GROUP BY ax.doc_id
)
SELECT doc_id, min_dist FROM d WHERE min_dist <= 3
""",
    description="Proximity (slop) search on the positional index: documents "
    "where 'hash' and 'join' occur within 3 raw-token positions, plus the "
    "actual minimum gap — the search-engine NEAR operator that phrase "
    "adjacency (phrase_match_table_hash) generalizes to. Spark computes "
    "the min gap ARRAY-SIDE (nested transform over both position arrays, "
    "array_min) after one equi-join of the two posting streams per doc — "
    "positions never explode into rows. The cross is |pa|·|pb| per doc; "
    "for stop-word-scale position lists switch to the sorted two-pointer "
    "merge (positions are already sorted) — same join shape. The oracle "
    "is the row-exploded spec of the same semantics.",
    tags=("flagship", "index", "search"),
)
def q_proximity_match_slop(spark, sf_dir):
    from mapreduce_paradigm_spark.operators.index import positional_postings

    p = positional_postings(load_table(spark, sf_dir, "documents"))
    a = p.filter(F.col("word") == "hash").select(
        "doc_id", F.col("positions").alias("pa")
    )
    b = p.filter(F.col("word") == "join").select(
        "doc_id", F.col("positions").alias("pb")
    )
    min_dist = F.array_min(
        F.flatten(
            F.transform(
                F.col("pa"),
                lambda x: F.transform(F.col("pb"), lambda y: F.abs(x - y)),
            )
        )
    ).cast("long")
    return (
        a.join(b, "doc_id")
        .select("doc_id", min_dist.alias("min_dist"))
        .filter(F.col("min_dist") <= 3)
    )


@register(
    "bm25_ranking",
    oracle="""
WITH dw AS (
  SELECT doc_id, lower(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS word
  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
        FROM documents)
  WHERE lower(regexp_replace(t, '[^A-Za-z]', '', 'g')) <> ''
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM dw GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
  FROM dw WHERE word IN ('hash', 'join', 'batch') GROUP BY 1, 2
),
df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
terms AS (
  SELECT tf.doc_id, tf.word,
         CAST(round(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1)
           * (tf * 2.2)
           / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
           * 1000000, 0) AS BIGINT) AS score_micro
  FROM tf JOIN df USING (word) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(CAST(sum(score_micro) AS DECIMAL(24,6)) / 1000000 AS DOUBLE)
         AS bm25
FROM terms
GROUP BY doc_id
""",
    description="BM25 ranking (k1=1.2, b=0.75, Lucene idf) for the query "
    "{hash, join, batch} over the flagship token pipeline — the scoring "
    "step that turns the inverted index into a search engine. All inputs "
    "are exact integers (tf, df, N, doc length); each TERM score is "
    "computed in float64 once, rounded to integer micros, and the "
    "per-document score is the INTEGER sum of term micros — so the "
    "result is independent of aggregation order (a plain float Σ over "
    "terms would vary with partition merge order, the same argument as "
    "dsum). df/N broadcast; one tf shuffle; score is per-row math.",
    tags=("flagship", "index", "search"),
)
def q_bm25_ranking(spark, sf_dir):
    from mapreduce_paradigm_spark.functions import doc_words

    terms_wanted = ("hash", "join", "batch")
    docs = load_table(spark, sf_dir, "documents")
    # (doc_id, word), normalized, non-empty, NOT distinct. NOT persisted
    # (round 13): an exploded corpus-scale token stream is the persist
    # class r12's own A/Bs measured ~2× slower cached than recomputed —
    # the r12 persist here only LOOKED free because the pre-r13 scope bug
    # unpersisted it before composers (hybrid_rrf_fusion) ever read it;
    # once the builder scope made it real, hybrid's bench row paid ~1.3 s
    # of cache build for one saved tokenize pass (interleaved A/B,
    # OPTIMIZATION_r13.md §6). dl and tf below stay persisted — small
    # aggregated frames, the class that wins.
    dw = doc_words(docs)
    # dl feeds both the collection-stats aggregate (n) and the scoring
    # join; tf feeds both df and the scoring join — each pair plans as
    # independent subtrees, so unpersisted they re-aggregate the cached
    # token stream once per consumer (round-12 plan audit: the dl and tf
    # HashAggregate+Exchange chains each appeared twice). Both frames are
    # per-doc / per-(doc,term) sized, far smaller than the token stream.
    dl = lifetime.persist(
        dw.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    )
    n = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = lifetime.persist(
        dw.filter(F.col("word").isin(*terms_wanted))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    score = (
        idf
        * (F.col("tf") * 2.2)
        / (
            F.col("tf")
            + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
        )
    )
    terms = (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.round(score * 1e6, 0).cast("long").alias("score_micro"),
        )
    )
    return terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        (F.sum("score_micro").cast("decimal(24,6)") / F.lit(1000000))
        .cast("double")
        .alias("bm25"),
    )


@register(
    "doc_winnowing_fingerprints",
    oracle="""
WITH arr AS (
  SELECT doc_id,
         list_filter(
           list_transform(regexp_split_to_array(text, '\\s+'),
                          x -> lower(regexp_replace(x, '[^A-Za-z]', '', 'g'))),
           x -> x <> '') AS a
  FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(
           list_transform(a[1:len(a)-3],
                          (x, i) -> x || ' ' || a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]),
           s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS h
  FROM arr WHERE len(a) >= 8
),
w AS (
  SELECT doc_id,
         list_distinct(
           list_transform(h[1:len(h)-4],
                          (x, i) -> least(x, h[i+1], h[i+2], h[i+3], h[i+4]))) AS fps
  FROM g
)
SELECT doc_id,
       CAST(len(fps) AS BIGINT) AS n_fp,
       CAST(list_min(fps) AS BIGINT) AS fp_min,
       CAST(list_max(fps) AS BIGINT) AS fp_max,
       CAST(list_sum(fps) AS BIGINT) AS fp_sum
FROM w
""",
    description="Winnowing document fingerprints (the MOSS plagiarism-"
    "detection scheme): hash every word 4-gram, slide a 5-wide window "
    "over the hash sequence, keep each window's MINIMUM, dedup — a "
    "position-robust fingerprint set guaranteeing any shared run of "
    "≥ 8 words between two documents shares a fingerprint. The whole "
    "pipeline is per-row array expressions (gram build, md5-derived "
    "cross-engine hashes, sliding min, distinct) — NO shuffle, no "
    "explode; only the compact per-doc summary (count/min/max/exact "
    "integer sum) leaves the row. Matching docs at scale = explode fps "
    "→ the same bucketed pair-join shape as MinHash banding.",
    tags=("flagship", "dedup", "fingerprint"),
)
def q_doc_winnowing_fingerprints(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.transform(
            F.split("text", r"\s+"),
            lambda x: F.lower(F.regexp_replace(x, "[^A-Za-z]", "")),
        ),
        lambda x: x != "",
    )
    arr = docs.select("doc_id", words.alias("a")).filter(F.size("a") >= 8)
    gram = F.expr(
        "transform(slice(a, 1, size(a) - 3), "
        "(x, i) -> concat_ws(' ', x, a[i + 1], a[i + 2], a[i + 3]))"
    )
    g = arr.select(
        "doc_id",
        F.transform(
            gram,
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast(
                "long"
            ),
        ).alias("h"),
    )
    fps = F.array_distinct(
        F.expr(
            "transform(slice(h, 1, size(h) - 4), "
            "(x, i) -> least(x, h[i + 1], h[i + 2], h[i + 3], h[i + 4]))"
        )
    )
    return g.select(
        "doc_id",
        F.size(fps).cast("long").alias("n_fp"),
        F.array_min(fps).alias("fp_min"),
        F.array_max(fps).alias("fp_max"),
        F.aggregate(
            fps, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("fp_sum"),
    )


@register(
    "inverted_index_delta_postings",
    oracle=DUCK_WORDS
    + """
, idx AS (
  SELECT word, list_sort(list(DISTINCT doc_id)) AS ds,
         count(DISTINCT doc_id) AS df
  FROM words GROUP BY word
)
SELECT word, df,
       ds[1] AS first_doc,
       array_to_string(
           list_transform(ds[2:], (x, i) -> x - ds[i]), ' ') AS gaps
FROM idx
""",
    description="Delta-encoded posting lists: each word's sorted postings "
    "become (first_doc, gaps between consecutive doc ids) — the "
    "d-gap transform every production inverted index applies before "
    "integer compression (varint/PForDelta), because gaps of frequent "
    "terms are small and compress ~10×. Pure per-row array math on top "
    "of the flagship aggregate (transform with the 1-shifted element — "
    "Spark's 0-based lambda index i addresses element_at(ds, i+1), "
    "DuckDB's 1-based i addresses ds[i]: the SAME predecessor), no "
    "extra shuffle. At 100 TB the gap arrays are what you write to the "
    "index sink; reconstruction is a running sum (the inverse "
    "transform). Cites reference src/main.cpp:125-126 (sorted postings "
    "are what makes delta encoding valid).",
    tags=("flagship", "text", "array"),
)
def q_inverted_index_delta_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index_df(spark, sf_dir)
    gaps = F.expr(
        "transform(slice(doc_ids, 2, size(doc_ids) - 1), "
        "(x, i) -> x - element_at(doc_ids, i + 1))"
    )
    return idx.select(
        "word",
        "df",
        F.element_at("doc_ids", 1).alias("first_doc"),
        F.array_join(gaps, " ").alias("gaps"),
    )

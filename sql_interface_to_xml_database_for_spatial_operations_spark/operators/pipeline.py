"""The capstone training-data pipeline: every corpus-preparation stage
composed into ONE declarative DataFrame plan (plus the one legitimately
iterative stage, component clustering).

Stage order mirrors a production pre-training data pipeline:
quality filter → exact dedup → near-dup pair generation (blocked) →
cluster components → keep canonical doc per cluster → corpus stats.

Scale shape: stages 1-2 are map + one hash shuffle; pair generation is
the blocked shingle join (never O(n²)); clustering checkpoints the pair
list once and runs star contraction over it (``dedup.connected_components``),
shuffling only the pair graph (≪ corpus); the final stats are one
partial-aggregated groupBy. Nothing materializes on the driver.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..sources.tables import load_table
from .dedup import _JACCARD_PAIRS_SQL, connected_components, jaccard_pairs
from .registry import query

# oracle building blocks: the same quality predicate as q61, the same
# pair generator as q65/q90 but over the filtered+exact-deduped doc set
_QUALITY_KEEP_SQL = """
    SELECT doc_id, lang, text,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_words
    FROM (
      SELECT doc_id, lang, text,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS nw,
             len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS ns
      FROM documents
    )
    WHERE nw >= 30 AND CAST(ns AS DOUBLE) / nw BETWEEN 0.02 AND 0.5
"""

_PAIRS_ON_DEDUP1_SQL = _JACCARD_PAIRS_SQL.replace("FROM documents", "FROM dedup1")


@query(
    "q91_training_pipeline",
    oracle=f"""
    WITH RECURSIVE keep AS ({_QUALITY_KEEP_SQL}),
    hashed AS (SELECT doc_id, lang, text, n_words, md5(text) AS h FROM keep),
    exact_canon AS (SELECT h, min(doc_id) AS cid FROM hashed GROUP BY h),
    dedup1 AS (
      SELECT doc_id, lang, text, n_words FROM hashed JOIN exact_canon
        ON hashed.h = exact_canon.h AND hashed.doc_id = exact_canon.cid
    ),
    pairs AS ({_PAIRS_ON_DEDUP1_SQL}),
    edges AS (
      SELECT doc1 AS u, doc2 AS v FROM pairs UNION SELECT doc2, doc1 FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
    final AS (
      SELECT d.lang, d.n_words FROM dedup1 d LEFT JOIN comp c ON d.doc_id = c.doc_id
      WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_tokens
    FROM final GROUP BY lang
    """,
)
def q91_training_pipeline(spark, sf_dir):
    """documents → quality filter (q61's predicate) → exact dedup (q64) →
    near-dup clusters on survivors (q65 pairs + q90 components) → keep
    one canonical doc per cluster → per-language corpus stats. The whole
    pipeline is one lazy plan except the bounded clustering loop."""
    d = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != "")
    stops = F.filter(F.split("text", " "), lambda x: x.isin("the", "a"))
    scored = d.select(
        "doc_id",
        "lang",
        "text",
        F.size(words).cast("bigint").alias("n_words"),
        F.size(stops).cast("bigint").alias("n_stop"),
    )
    swr = F.col("n_stop").cast("double") / F.col("n_words")
    keep = scored.filter((F.col("n_words") >= 30) & swr.between(0.02, 0.5)).drop("n_stop")

    hashed = keep.withColumn("h", F.md5("text"))
    # a doc survives exact dedup iff it IS its hash group's canonical
    # (min doc_id) — a semi join on the (h, doc_id=cid) pair
    canon = hashed.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    dedup1 = (
        hashed.join(canon, ["h", "doc_id"], "left_semi")
        .select("doc_id", "lang", "text", "n_words")
    )
    # consumed by the shingle stage, the clustering join, and the final
    # stats; released at the next registered-query entry (caching.py)
    dedup1 = tracked_persist(dedup1)

    # shingle only the survivors (the oracle's pairs-over-dedup1): Jaccard
    # depends on the two docs alone, so restricting the corpus first is
    # result-identical and skips exploding docs that already dropped out
    pairs = jaccard_pairs(spark, sf_dir, docs=dedup1).select("doc1", "doc2")
    comp = connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )

    final = dedup1.join(comp, "doc_id", "left").filter(
        F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))
    )
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_tokens"),
    )


@query(
    "q92_hash_sample",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(min(doc_id) AS BIGINT) AS min_id
    FROM documents
    WHERE strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 3
    GROUP BY lang
    """,
)
def q92_hash_sample(spark, sf_dir):
    """Reproducible ~18.75% sample (first md5 nibble < 3) — the
    deterministic alternative to rand()-based TABLESAMPLE that training
    pipelines need: the same doc is in or out of the sample on every run,
    every engine, every partition layout. Pure map-side predicate — at
    100 TB the sample costs one scan, no shuffle before the stats."""
    d = load_table(spark, sf_dir, "documents")
    nibble = F.expr("instr('0123456789abcdef', substr(md5(cast(doc_id as string)), 1, 1)) - 1")
    return (
        d.filter(nibble < 3)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").cast("bigint").alias("min_id"),
        )
    )


@query(
    "q93_train_val_test_split",
    oracle="""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN h < 8 THEN 'train' WHEN h < 12 THEN 'val' ELSE 'test' END AS split
      FROM (
        SELECT lang,
               strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS h
        FROM documents
      )
    )
    SELECT lang, split, CAST(count(*) AS BIGINT) AS n
    FROM assigned GROUP BY lang, split
    """,
)
def q93_train_val_test_split(spark, sf_dir):
    """Deterministic 50/25/25 train/val/test assignment by content-stable
    hash — no document ever migrates between splits across runs or
    engines (the property rand(seed) cannot give across partitionings).
    Map-side assignment; the only shuffle is the audit aggregate."""
    d = load_table(spark, sf_dir, "documents")
    h = F.expr("instr('0123456789abcdef', substr(md5(cast(doc_id as string)), 1, 1)) - 1")
    split = (
        F.when(h < 8, "train").when(h < 12, "val").otherwise("test")
    )
    return (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_NWORDS = "len(list_filter(string_split(text, ' '), x -> x <> ''))"


@query(
    "q103_stratified_sample",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id,
             strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS h
      FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled, CAST(min(doc_id) AS BIGINT) AS min_id
    FROM t
    WHERE h < CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 8 WHEN 'fr' THEN 12 ELSE 2 END
    GROUP BY lang
    """,
)
def q103_stratified_sample(spark, sf_dir):
    """Per-stratum sampling with DIFFERENT rates per language (downsample
    the over-represented stratum, keep the rare ones) — the data-mixing
    primitive behind language-balance rebalancing. Same content-stable
    md5-nibble mechanism as q92, so membership is reproducible across
    runs/engines/partitionings; rates are per-lang CASE thresholds over
    sixteenths (en 4/16, de 8/16, fr 12/16, default 2/16). Map-side
    predicate — no shuffle before the audit aggregate; at 100 TB this is
    exactly ``sampleBy`` semantics without its seed-dependence."""
    d = load_table(spark, sf_dir, "documents")
    h = F.expr("instr('0123456789abcdef', substr(md5(cast(doc_id as string)), 1, 1)) - 1")
    thr = (
        F.when(F.col("lang") == "en", 4)
        .when(F.col("lang") == "de", 8)
        .when(F.col("lang") == "fr", 12)
        .otherwise(2)
    )
    return (
        d.filter(h < thr)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").cast("bigint").alias("min_id"),
        )
    )


@query(
    "q104_language_quota",
    oracle=f"""
    SELECT lang, doc_id, rank FROM (
      SELECT lang, CAST(doc_id AS BIGINT) AS doc_id,
             CAST(row_number() OVER (
               PARTITION BY lang ORDER BY n_words DESC, doc_id
             ) AS BIGINT) AS rank
      FROM (SELECT lang, doc_id, {_NWORDS} AS n_words FROM documents)
    ) WHERE rank <= 20
    """,
)
def q104_language_quota(spark, sf_dir):
    """Quota selection: keep the top 20 docs per language by length —
    the 'best-of per stratum' shape quality-weighted mixing uses (rank by
    any quality signal; word count keeps the oracle deterministic).
    One shuffle on lang for the window; at 100 TB rank-within-stratum
    over a skewed stratum salts into (lang, shard) sub-windows with a
    per-shard pre-rank, same plan family as q86's salted join."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    w = Window.partitionBy("lang").orderBy(F.col("n_words").desc(), F.col("doc_id").asc())
    return (
        d.select("lang", F.col("doc_id").cast("bigint").alias("doc_id"), n_words.alias("n_words"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .select("lang", "doc_id", "rank")
    )


@query(
    "q105_mixture_weights",
    oracle=f"""
    WITH t AS (
      SELECT lang, CAST(sum({_NWORDS}) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    )
    SELECT lang, n_tokens,
           CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.3)
                 / sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) OVER ()
                 * 1000000 + 0.5) AS BIGINT) AS weight_micro
    FROM t
    """,
)
def q105_mixture_weights(spark, sf_dir):
    """Temperature-based mixture weights: per-language sampling weight
    ∝ tokens^(1/T) with T≈3.33 (the standard multilingual rebalancing
    that upweights low-resource languages). The token count is one
    partial-aggregated groupBy; the normalization window runs over the
    per-language aggregate (5 rows), so the global window is free at any
    corpus scale."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    agg = d.groupBy("lang").agg(F.sum(n_words).cast("bigint").alias("n_tokens"))
    p = F.pow(F.col("n_tokens").cast("double"), F.lit(0.3))
    return agg.select(
        "lang",
        "n_tokens",
        # micro-int, not round(x, 6) — tie-stability (VERDICT r6 / q113)
        F.floor(p / F.sum(p).over(Window.partitionBy()) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("weight_micro"),
    )


@query(
    "q106_sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id, {_NWORDS} AS n_words FROM documents
    ),
    c AS (
      SELECT lang, doc_id, n_words,
             sum(n_words) OVER (
               PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING
             ) AS cum
      FROM t
    )
    SELECT lang, CAST(floor((cum - n_words) / 512.0) AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_tokens
    FROM c GROUP BY lang, pack_id
    """,
)
def q106_sequence_packing(spark, sf_dir):
    """Sequence packing: assign consecutive docs (per language, doc_id
    order) to fixed-budget packs of 512 tokens by binning the EXCLUSIVE
    running token total — the concat-then-chunk packing a pretraining
    tokenizer pipeline performs before writing example shards. The
    running sum is one window over (lang ORDER BY doc_id); pack stats are
    a map-side-combinable groupBy. At 100 TB the window partitions by
    (lang, shard) with per-shard offsets re-based by a 2nd tiny agg —
    same two-phase shape as the salted quota window (q104)."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select("lang", "doc_id", n_words.alias("n_words")).withColumn(
        "cum", F.sum("n_words").over(w)
    )
    pack = F.floor((F.col("cum") - F.col("n_words")) / F.lit(512.0)).cast("bigint")
    return (
        c.withColumn("pack_id", pack)
        .groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_tokens"),
        )
    )


@query(
    "q107_decontamination",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS sh
      FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(ws) - 4)) AS i)
      WHERE len(ws) >= 5
    ),
    h AS (
      SELECT doc_id, sh,
             strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nib
      FROM sh
    ),
    bench AS (SELECT DISTINCT sh FROM h WHERE nib = 15),
    corpus AS (SELECT doc_id, sh FROM h WHERE nib < 15),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM corpus GROUP BY doc_id),
    hit AS (
      SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      FROM corpus c JOIN bench b USING (sh) GROUP BY c.doc_id
    )
    SELECT CAST(hit.doc_id AS BIGINT) AS doc_id, n_shingles, n_shared,
           n_shared >= 3 AS contaminated
    FROM hit JOIN tot ON hit.doc_id = tot.doc_id
    """,
)
def q107_decontamination(spark, sf_dir):
    """Benchmark decontamination: flag corpus documents sharing 5-gram
    shingles with a held-out benchmark set (here the md5-nibble==15
    bucket stands in for the benchmark corpus; in production it is the
    eval suites). The benchmark shingle set is SMALL by nature, so it
    broadcasts and the corpus side is a map-only probe — no corpus
    shuffle at any scale, and because the bench side is distinct, each
    corpus shingle row matches at most one bench row (no pair blowup,
    unlike the q65 self-join — no df cap needed). Same shingle helper as
    the dedup family (dedup._word_shingles).

    r18 restructure (guide §2.4 — remove a shuffle and a duplicated
    subtree): the old shape aggregated the corpus TWICE (tot and hits,
    two shuffles re-evaluating the shingle explode each) and joined the
    two aggregates back. A LEFT join against the broadcast bench side
    (safe: bench is distinct, so no fan-out) lets ONE aggregation count
    both totals (count(*)) and matches (count(hit)) per doc; docs with
    zero shared shingles are then dropped by the n_shared >= 1 filter —
    exactly the rows the old inner hits-join excluded."""
    from .dedup import _word_shingles

    sh = _word_shingles(spark, sf_dir, 5).select("doc_id", "sh")
    nib = F.expr("instr('0123456789abcdef', substr(md5(cast(doc_id as string)), 1, 1)) - 1")
    h = sh.withColumn("nib", nib)
    bench = h.filter(F.col("nib") == 15).select("sh").distinct()
    corpus = h.filter(F.col("nib") < 15).select("doc_id", "sh")
    return (
        corpus.join(F.broadcast(bench.withColumn("hit", F.lit(1))), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_shared"),
        )
        .filter(F.col("n_shared") >= 1)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "n_shingles",
            "n_shared",
            (F.col("n_shared") >= 3).alias("contaminated"),
        )
    )

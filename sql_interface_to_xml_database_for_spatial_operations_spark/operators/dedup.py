"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

Beyond-reference surface: the dedup half of a training-data pipeline —
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
All candidate generation is blocked (same-language, shared shingle, shared
LSH band, same label) so no stage is O(n²) over the corpus: at 100 TB the
only full shuffles are groupBys on doc_id/shingle, and verification cost
scales with candidate count, not corpus size².

Everything is built-in JVM expressions (md5 / explode / groupBy /
window) — portable hashes (md5 hex strings, min() lexicographic) rather
than engine-specific hash() so the DuckDB oracle can recompute them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..sources.tables import load_table
from .registry import query
from .vectors import BUCKETS_SQL, COSINE_SQL_EXPR, lsh_buckets, vectors


@query(
    "q64_dedup_exact",
    oracle="""
    WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
         canon AS (SELECT h, min(doc_id) AS canonical_id FROM hashed GROUP BY h)
    SELECT doc_id, canonical_id, CAST(doc_id <> canonical_id AS BOOLEAN) AS is_duplicate
    FROM hashed JOIN canon USING (h)
    """,
)
def q64_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on md5(text), keep min doc_id per group.
    One shuffle on the 128-bit hash — the canonical exact-dedup plan at
    any scale (hash first, never shuffle full text)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", F.md5("text").alias("h"))
    canon = d.groupBy("h").agg(F.min("doc_id").alias("canonical_id"))
    return d.join(canon, "h").select(
        "doc_id",
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
    )


def _word_shingles(
    spark: SparkSession, sf_dir: str, k: int = 5, docs: DataFrame | None = None
) -> DataFrame:
    """Distinct word-k-gram shingles per document (JVM: slice+transform).
    ``docs`` overrides the source (must carry doc_id, lang, text) so
    pipeline stages shingle only their surviving subset.

    fan_out (r18): the fixture corpus is one parquet file = one scan
    partition, so the interpreted slice/concat/array_distinct shingle
    kernel ran serially for every consumer (guide §2.5 — repartition an
    unsplittable input right after the read; no-op on inputs already
    >= defaultParallelism files). Interleaved A/B at sf0.1: the q65
    pair plan 2.24 s -> 1.54 s with the fan + grouped pair enumeration."""
    from ..sources.tables import fan_out

    d = docs if docs is not None else load_table(spark, sf_dir, "documents")
    d = fan_out(d)
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    # duplicate shingles only occur WITHIN a document (doc_id/lang ride
    # along every row), so array_distinct before the explode gives the
    # exact distinct-(doc_id, lang, sh) set map-side — no shuffle, where
    # a post-explode .distinct() would reshuffle the whole shingle set
    # for every consumer (q65/q66/q90/q91/q107)
    return (
        d.select("doc_id", "lang", ws.alias("ws"))
        .filter(F.size("ws") >= k)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("ws") - (k - 1)),
                        lambda i: F.concat_ws(" ", F.slice("ws", i, k)),
                    )
                )
            ).alias("sh"),
        )
    )


_SHINGLES_SQL = """
    SELECT DISTINCT doc_id, lang, array_to_string(ws[i:i+4], ' ') AS sh
    FROM (SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
         LATERAL (SELECT unnest(generate_series(1, len(ws) - 4)) AS i)
    WHERE len(ws) >= 5
"""

# A shingle present in k same-language documents contributes k·(k-1)/2
# candidate rows to the self-join — one boilerplate 5-gram in 10⁶ docs
# would be 5·10¹¹ pairs. Shingles with document frequency above this cap
# are dropped from the q65 representation entirely (sizes AND
# intersection), in both engines; true near-dups at Jaccard ≥ 0.2 share
# many non-viral shingles, so recall survives. See SCALE.md.
MAX_SHINGLE_DF = 50

_JACCARD_PAIRS_SQL = f"""
    WITH sh0 AS ({_SHINGLES_SQL}),
    lowdf AS (
      SELECT sh, lang FROM sh0 GROUP BY sh, lang
      HAVING count(*) <= {MAX_SHINGLE_DF}
    ),
    sh AS (SELECT sh0.* FROM sh0 JOIN lowdf USING (sh, lang)),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(count(*) AS BIGINT) AS n_both
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc1, doc2,
           CAST(floor(CAST(n_both AS DOUBLE) / (s1.n + s2.n - n_both) * 1000000 + 0.5)
                AS BIGINT) AS jaccard_micro
    FROM inter
    JOIN sizes s1 ON s1.doc_id = doc1
    JOIN sizes s2 ON s2.doc_id = doc2
    WHERE CAST(n_both AS DOUBLE) / (s1.n + s2.n - n_both) >= 0.2
"""


def jaccard_pairs(spark, sf_dir, docs: DataFrame | None = None):
    """Near-dup candidate pairs with exact Jaccard ≥ 0.2 (shared by q65
    and the q90 clustering stage); ``docs`` restricts the corpus (q91
    shingles only its quality+exact-dedup survivors).

    r18 restructure (guide §2.3/§2.4 — shuffle the shingle set ONCE,
    never self-join it): group by (sh, lang) and keep the sorted member
    list; the candidate pairs are enumerated IN-ROW from the member
    array (the q66 bucket idiom; each doc is distinct per (sh, lang) by
    construction, so combinations with doc1 < doc2 reproduce the old
    a⋈b / lang1==lang2 / doc1<doc2 join rows exactly, group for group).
    Per-doc sizes re-derive from the exploded member lists — bare
    bigint rows whose count partial-aggregates map-side, instead of a
    second full shuffle of shingle strings. Net: 4 shingle-string
    shuffles + a self-join → 1 shingle-string shuffle (plan diff in
    plans/r18/q65_*). Worst-case per-group enumeration stays capped at
    MAX_SHINGLE_DF²/2 (VERDICT r2 #4) — the same bound the self-join
    had AFTER its anti-join, now enforced before any pair exists.

    The viral cap (df > MAX_SHINGLE_DF per language) is a WINDOW count
    over (sh, lang) feeding a filter — it shares the group-by's
    exchange (window and aggregation are keyed identically, guide
    §2.4), and a viral key's rows pass through WindowExec's
    spill-to-disk buffer, never through an in-memory collect_list: the
    grouped member arrays are provably ≤ MAX_SHINGLE_DF elements
    because the filter runs BEFORE the collect. Same hot-key-safety
    contract the old broadcast anti-join gave, one full pass cheaper
    (interleaved A/B at sf0.1: cap-then-group via anti-join 2.19 s,
    window cap 1.80 s, both vs the old self-join's 2.24 s).

    The grouped shingle table feeds two consumers (sizes + pairs), so
    it persists (MEMORY_AND_DISK, LRU-evicted) — at 100 TB use
    DISK_ONLY or a materialized shingle table, same plan shape."""
    from pyspark.sql.window import Window

    sh0 = _word_shingles(spark, sf_dir, 5, docs=docs)
    w_df = Window.partitionBy("sh", "lang")
    members = tracked_persist(
        sh0.withColumn("df", F.count(F.lit(1)).over(w_df))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .groupBy("sh", "lang")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .select("ds")
    )
    sizes = (
        members.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size("ds")),
                lambda y: F.struct(x.alias("doc1"), y.alias("doc2")),
            ),
        )
    )
    inter = (
        members.filter(F.size("ds") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.doc1", "p.doc2")
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("n2"))
    jac = F.col("n_both").cast("double") / (F.col("n1") + F.col("n2") - F.col("n_both"))
    return (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .filter(jac >= 0.2)
        # micro-int, not round(x, 6): jaccard is a ratio of integers and
        # can tie exactly at the 6th decimal, where round() is
        # engine-dependent (the q113 class, VERDICT r6)
        .select(
            "doc1",
            "doc2",
            F.floor(jac * 1000000 + F.lit(0.5)).cast("bigint").alias("jaccard_micro"),
        )
    )


@query("q65_dedup_ngram_jaccard", oracle=_JACCARD_PAIRS_SQL)
def q65_dedup_ngram_jaccard(spark, sf_dir):
    """N-gram Jaccard near-dup: word-5-gram shingles; candidate pairs must
    share ≥1 shingle AND language (blocking — the shingle join IS the
    candidate generator, so cost is O(pairs sharing a shingle), never
    O(n²)); exact Jaccard ≥ 0.2 verified from intersection/sizes."""
    return jaccard_pairs(spark, sf_dir)


N_MINHASH = 8
BAND_SIZE = 2  # → 4 bands of 2 rows (b=4, r=2)


@query(
    "q66_minhash_lsh",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    m AS (SELECT doc_id, sh, md5(sh) || md5('x' || sh) AS m64 FROM sh),
    mins AS (
      SELECT doc_id, seed, min(substr(m64, seed * 8 + 1, 8)) AS mh
      FROM m, LATERAL (SELECT unnest(generate_series(0, {N_MINHASH - 1})) AS seed)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, seed // {BAND_SIZE} AS band, string_agg(mh, '' ORDER BY seed) AS band_val
      FROM mins GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ),
    arrs AS (SELECT doc_id, list(sh) AS shs FROM sh GROUP BY doc_id)
    SELECT doc1, doc2,
           CAST(floor(CAST(len(list_intersect(a1.shs, a2.shs)) AS DOUBLE)
                 / (len(a1.shs) + len(a2.shs) - len(list_intersect(a1.shs, a2.shs)))
                 * 1000000 + 0.5) AS BIGINT) AS jaccard_micro
    FROM cand JOIN arrs a1 ON a1.doc_id = doc1 JOIN arrs a2 ON a2.doc_id = doc2
    """,
)
def q66_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup: shingle → 8 seeded min-hashes → 4 bands of 2
    → band-bucket join for candidates → exact Jaccard verify. The banding
    join touches only (band, band_val) buckets, so candidate generation is
    a hash join on band values — the scale path for corpus-level dedup.
    Hashes are md5 hex strings (min = lexicographic) for oracle parity.

    Everything per-document computes IN-ROW over the distinct-shingle
    ARRAY (no explode): the 8 min-hashes are array_min over 8-hex-char
    SLICES of two md5s per shingle (8 independent 32-bit hash functions
    at a quarter of the digest cost of 8 seeded md5s), so signature
    generation is a map-only pass over the corpus — where the exploded
    formulation shuffled every shingle by doc_id just to re-aggregate
    mins. The only shuffles left are the tiny band-bucket grouping and
    the candidate⋈array joins; the exact verify is
    size(array_intersect(...)) in-row per candidate pair — the oracle
    mirrors with list_intersect, so even a 32-bit min collision (a
    zero-overlap candidate) yields identical jaccard=0 rows in both
    engines.

    fan_out (r18): the shingle + two-md5-per-shingle signature kernel
    is the row's dominant compute and ran in ONE task off the
    single-file fixture scan (guide §2.5) — the repartition is a no-op
    on any input already >= defaultParallelism files."""
    from ..sources.tables import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    k = 5
    arr = (
        d.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= k)
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (k - 1)),
                    lambda i: F.concat_ws(" ", F.slice("ws", i, k)),
                )
            ).alias("shs"),
        )
        # two digests per shingle, sliced 8× below; materialized once so
        # neither the slices nor the verify recompute the digest map
        .withColumn(
            "m64",
            F.transform(
                F.col("shs"),
                lambda s: F.concat(F.md5(s), F.md5(F.concat(F.lit("x"), s))),
            ),
        )
    )
    # signature path + verify path both consume it; released at the next
    # registered-query entry (caching.py)
    arr = tracked_persist(arr)
    sig = arr.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(F.col("m64"), lambda x: x.substr(h * 8 + 1, 8))
            ).alias(f"h{h}")
            for h in range(N_MINHASH)
        ],
    )
    band_pairs = ", ".join(
        f"{b}, concat(h{b * BAND_SIZE}, h{b * BAND_SIZE + 1})"
        for b in range(N_MINHASH // BAND_SIZE)
    )
    bands = sig.selectExpr(
        "doc_id", f"stack({N_MINHASH // BAND_SIZE}, {band_pairs}) AS (band, band_val)"
    )
    # Candidates via bucket-GROUPING, not a bands self-join: one shuffle
    # of the (band, band_val, doc_id) rows, signature projection computed
    # ONCE (a self-join re-evaluates the 8-hash map on both sides), then
    # in-bucket pairs enumerated in-row from the sorted member array.
    ds = F.array_sort(F.collect_list("doc_id"))
    pairs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size("ds")),
                lambda y: F.struct(x.alias("doc1"), y.alias("doc2")),
            ),
        )
    )
    cand = (
        bands.groupBy("band", "band_val")
        .agg(ds.alias("ds"))
        .filter(F.size("ds") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.doc1", "p.doc2")
        .distinct()
    )
    a1 = arr.select(F.col("doc_id").alias("doc1"), F.col("shs").alias("shs1"))
    a2 = arr.select(F.col("doc_id").alias("doc2"), F.col("shs").alias("shs2"))
    n_both = F.size(F.array_intersect("shs1", "shs2")).cast("bigint")
    jac = n_both.cast("double") / (
        F.size("shs1").cast("bigint") + F.size("shs2").cast("bigint") - n_both
    )
    return (
        cand.join(a1, "doc1")
        .join(a2, "doc2")
        # micro-int, not round(x, 6) — same tie-stability rationale as q65
        .select(
            "doc1",
            "doc2",
            F.floor(jac * 1000000 + F.lit(0.5)).cast("bigint").alias("jaccard_micro"),
        )
    )


SIMHASH_BITS = 16


@query(
    "q67_simhash",
    oracle=f"""
    WITH words AS (
      SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    bits AS (
      SELECT doc_id, b,
             CASE WHEN sum(CASE WHEN (strpos('0123456789abcdef', substr(md5(w), b + 1, 1)) - 1) % 2 = 1
                                THEN 1 ELSE -1 END) > 0
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
      FROM words, LATERAL (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b)
      GROUP BY doc_id, b
    )
    SELECT doc_id, CAST(sum(bit * (1 << b)) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def q67_simhash(spark, sf_dir):
    """SimHash fingerprint (16-bit): per distinct word, md5 hex digit b's
    parity votes ±1 on bit b; positive sum → 1. Pure JVM expressions, one
    groupBy — at corpus scale this is a map-side-combinable aggregation."""
    d = load_table(spark, sf_dir, "documents")
    # intra-doc dedup map-side (see _word_shingles): no shuffle for the
    # distinct word set
    words = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.filter(F.split("text", " "), lambda x: x != ""))
        ).alias("w"),
    )
    bits_df = spark.range(SIMHASH_BITS).select(F.col("id").cast("int").alias("b"))
    vote = F.when(
        F.expr("(instr('0123456789abcdef', substr(md5(w), b + 1, 1)) - 1) % 2") == 1, 1
    ).otherwise(-1)
    bits = (
        words.crossJoin(F.broadcast(bits_df))
        .groupBy("doc_id", "b")
        .agg(F.sum(vote).alias("v"))
        .select("doc_id", "b", F.when(F.col("v") > 0, 1).otherwise(0).cast("bigint").alias("bit"))
    )
    return bits.groupBy("doc_id").agg(
        F.sum(F.col("bit") * F.expr("shiftleft(1, b)")).cast("bigint").alias("simhash")
    )


@query(
    "q68_simhash_pairs",
    oracle=f"""
    WITH words AS (
      SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    bits AS (
      SELECT doc_id, b,
             CASE WHEN sum(CASE WHEN (strpos('0123456789abcdef', substr(md5(w), b + 1, 1)) - 1) % 2 = 1
                                THEN 1 ELSE -1 END) > 0
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
      FROM words, LATERAL (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b)
      GROUP BY doc_id, b
    ),
    sh AS (SELECT doc_id, CAST(sum(bit * (1 << b)) AS BIGINT) AS simhash FROM bits GROUP BY doc_id),
    docs AS (SELECT doc_id, lang, simhash FROM sh JOIN documents USING (doc_id))
    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           CAST(bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS BIGINT) AS hamming
    FROM docs a JOIN docs b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= 2
    """,
)
def q68_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs, Hamming distance ≤ 2 on the 16-bit
    fingerprints (bit_count(xor)).

    Candidate generation is banded exactly like q66's MinHash LSH: the
    fingerprint splits into 4 × 4-bit chunks, and by pigeonhole any pair
    within Hamming ≤ 2 differs in at most 2 chunks, so it shares ≥ 2
    exact chunks — joining on (chunk_idx, chunk_value, lang) finds every
    qualifying pair (at least twice, hence the distinct) while the
    shuffle key stays high-cardinality. Exact Hamming verifies the
    candidates, so the result equals the all-pairs oracle without an
    O(n²)-per-language pair join."""
    sims = q67_simhash(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    docs = sims.join(d, "doc_id")
    n_chunks = SIMHASH_BITS // 4
    chunk_vals = F.array(
        *[F.shiftright("simhash", 4 * i).bitwiseAND(F.lit(15)) for i in range(n_chunks)]
    )
    chunks = docs.select(
        "doc_id", "lang", "simhash", F.posexplode(chunk_vals).alias("ci", "cv")
    )
    a = chunks.select(
        F.col("doc_id").alias("doc1"), "lang", F.col("simhash").alias("sh1"), "ci", "cv"
    )
    b = chunks.select(
        F.col("doc_id").alias("doc2"), "lang", F.col("simhash").alias("sh2"), "ci", "cv"
    )
    cand = (
        a.join(b, ["ci", "cv", "lang"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2", "sh1", "sh2")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))).cast("bigint")
    return cand.filter(hamming <= 2).select("doc1", "doc2", hamming.alias("hamming"))


@query(
    "q69_embedding_neardup",
    oracle=f"""
    WITH b AS ({BUCKETS_SQL}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cand AS (
      SELECT a.vec_id AS vec1, bb.vec_id AS vec2
      FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
    )
    SELECT vec1, vec2,
           CAST(floor(list_cosine_similarity(e1.v, e2.v) * 1000000 + 0.5) AS BIGINT)
             AS cos_sim_micro
    FROM cand
    JOIN e e1 ON e1.vec_id = vec1
    JOIN e e2 ON e2.vec_id = vec2
    WHERE list_cosine_similarity(e1.v, e2.v) >= 0.2
    """,
)
def q69_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup: candidates share a random-hyperplane
    LSH bucket (the same signature the ANN family indexes with —
    operators/vectors.py), then a JVM-side fold (F.aggregate/zip_with, no
    Python in the pair loop) verifies cosine ≥ 0.2. The bucket id is the
    shuffle key, so candidate generation is O(pairs per bucket) — the
    approximate-recall/cost trade every corpus-scale near-dup pass makes
    (mirrors q66's MinHash banding; the oracle blocks identically)."""
    b = lsh_buckets(spark, sf_dir)
    e = vectors(spark, sf_dir).select("vec_id", "v")
    withv = b.join(e, "vec_id")
    a = withv.select(F.col("vec_id").alias("vec1"), "bucket", F.col("v").alias("va"))
    c = withv.select(F.col("vec_id").alias("vec2"), "bucket", F.col("v").alias("vb"))
    cos = F.expr(COSINE_SQL_EXPR.format(a="va", b="vb"))
    return (
        a.join(c, "bucket")
        .filter(F.col("vec1") < F.col("vec2"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= 0.2)
        # micro-int, not round(x, 6) — tie-stability (VERDICT r6 / q113)
        .select(
            "vec1",
            "vec2",
            F.floor(F.col("cos_raw") * 1000000 + F.lit(0.5)).cast("bigint").alias("cos_sim_micro"),
        )
    )


@query(
    "q90_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
    edges AS (
      SELECT doc1 AS u, doc2 AS v FROM pairs
      UNION
      SELECT doc2, doc1 FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT u AS doc_id, CAST(min(v) AS BIGINT) AS cluster_id
    FROM reach GROUP BY u
    """,
)
def q90_dedup_clusters(spark, sf_dir):
    """Dedup cluster assignment: connected components over the near-dup
    pair graph (the step after pair generation — each component keeps one
    canonical doc, min doc_id), by :func:`connected_components`' star
    contraction, which runs the pair join once. Oracle: DuckDB
    recursive-CTE transitive closure."""
    pairs = jaccard_pairs(spark, sf_dir).select("doc1", "doc2")
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("label").cast("bigint").alias("cluster_id")
    )


def connected_components(pairs: DataFrame, max_iters: int = 30) -> DataFrame:
    """Connected components of an undirected pair graph → (id, label) with
    label = component min id, by alternating LARGE-STAR / SMALL-STAR edge
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014).

    Min-label propagation moves the component minimum ONE HOP per round
    (rounds = component diameter). These operators rewrite the EDGE SET
    instead, so the graph itself flattens toward a star centered at the
    minimum:

    - large-star: every node connects its strictly-LARGER neighbors to
      the smallest node it can see (min of neighborhood ∪ self);
    - small-star: every node connects its ≤-neighbors and itself to
      that minimum.

    Each operator is one hash-partition by node (a window min — no
    per-node collect, so a 10⁶-degree hub costs a sort, not memory) +
    one dedup, and the alternation provably converges to stars in
    O(log² n) rounds — in practice a handful regardless of diameter
    (q160's sf0.1 DBSCAN graph: 5 rounds where min-label propagation
    took ~25; a 100-hop chain: 7). At 100 TB the round count IS the
    wall-clock (each round = full shuffles of the edge set). The edge
    set shrinks monotonically toward n - #components rows (large-star
    detaches non-min edges; dedup collapses them), so later rounds
    shuffle LESS data.

    The pair list is read ONCE: it is localCheckpointed eagerly, and the
    node list and the initial edge set both derive from that checkpoint.
    Without it each of their three scans would re-run the caller's pair
    plan — for q90/q91 the whole shingle self-join. The pair graph is
    ≪ corpus (near-dup pairs only), so the checkpoint is small.

    Convergence is exact: the alternation ends in a star forest — every
    child u (edges are oriented u → v with v < u) has one parent and no
    parent is itself a child — which both operators leave unchanged and
    which labels every child with its component min. The loop tests that
    condition on each edge set (one aggregate), so it stops on the round
    that reaches it instead of running one more round to see the edge
    set repeat. A near-clique dup cluster is a star after its first
    round, and q90/q91's pair graphs at sf0.01 and sf0.1 are star
    forests as read, so no round runs there. No id-type restriction:
    min/least order strings lexicographically. Exceeding ``max_iters``
    raises (half-contracted edges would yield wrong cluster ids); the
    default 30 ≈ log²(2³²) rounds is beyond any real graph.

    Cites: reference has no distributed CC (single PostGIS instance,
    src/index.ts:44-63); this backs the ST_ClusterDBSCAN analog (q160)
    and the near-dup clusters (q90/q91).
    """
    from pyspark.sql.window import Window

    c1, c2 = pairs.columns[0], pairs.columns[1]
    raw = pairs.select(F.col(c1).alias("a"), F.col(c2).alias("b")).localCheckpoint(eager=True)
    # every id mentioned in ANY pair gets an output row — including ids
    # seen only in self-loop pairs; one consumer (the final anti-join)
    nodes = raw.select(F.col("a").alias("id")).union(raw.select(F.col("b").alias("id"))).distinct()
    # canonical child→parent orientation: (u, v) with v < u. LAZY
    # checkpoints here and per round: the star-forest check right after
    # each one materializes it inside the job that already needs it.
    E = (
        raw.filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("u")
    converged = _is_star_forest(E)
    for _ in range(max_iters):
        if converged:
            break
        # LARGE-STAR: symmetrize so every node sees its full
        # neighborhood; m = min(neighborhood ∪ self); re-hang every
        # strictly-larger neighbor v on m. Keeps (x, y<x) orientation.
        sym = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # no dedup here: duplicate (u, m) rows cannot change the
        # small-star window MIN below, and the distinct after it
        # collapses them — one full shuffle of the edge set saved per
        # round. |ls| ≤ |sym| = 2|E| either way.
        ls = (
            sym.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # SMALL-STAR: edges are already keyed by their larger endpoint,
        # so each u's rows list exactly its smaller neighbors; connect
        # them AND u itself to m = min(those ∪ u). m ≤ every emitted
        # left endpoint, so orientation is preserved.
        E = (
            ls.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("x"), F.col("m").alias("y")),
                        F.struct(F.col("u").alias("x"), F.col("m").alias("y")),
                    )
                ).alias("e")
            )
            .select(F.col("e.x").alias("u"), F.col("e.y").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        converged = _is_star_forest(E)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} "
            "iterations; the alternation is O(log² n) rounds, so this "
            "indicates a bug, not an undersized bound"
        )
    # a star forest labels every child with its one parent, the
    # component min; every other mentioned id (star roots, self-loop-only
    # and otherwise isolated nodes) labels itself
    lbl = E.select(F.col("u").alias("id"), F.col("v").alias("label"))
    selfs = nodes.join(lbl, "id", "left_anti").select("id", F.col("id").alias("label"))
    return lbl.union(selfs)


def _is_star_forest(E: DataFrame) -> bool:
    """True iff the deduplicated child→parent edge set E(u, v) is a star
    forest: no child has two parents and no parent is itself a child.
    One aggregate over both endpoints of every edge, one job."""
    ends = E.select(
        F.col("u").alias("x"), F.lit(1).alias("child"), F.lit(0).alias("parent")
    ).union(E.select("v", F.lit(0), F.lit(1)))
    bad = (
        ends.groupBy("x")
        .agg(F.sum("child").alias("c"), F.max("parent").alias("p"))
        .filter((F.col("c") > 1) | ((F.col("c") == 1) & (F.col("p") == 1)))
    )
    return bad.count() == 0

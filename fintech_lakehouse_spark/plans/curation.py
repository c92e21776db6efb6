"""Round-6 curation extensions (SURVEY §7.6 training-data pipeline):

- ``winnowing_fingerprints`` — MOSS-style robust winnowing: the
  standard plagiarism/near-dup fingerprint selection (Schleimer,
  Wilkerson, Aiken, SIGMOD '03) that guarantees any shared substring
  of length >= K+W-1 tokens produces at least one shared selected
  fingerprint, while selecting only ~2/(W+1) of all gram hashes.
- ``semantic_dedup_clusters`` — SemDeDup (Abbas et al., 2023):
  cluster the embedding space with a trained quantizer, then prune
  cosine-near-duplicates WITHIN each cluster — the embedding-space
  analog of MinHash-LSH dedup, with the pairwise stage bounded by
  cluster size instead of corpus size.
- ``vocab_oov_rates`` — tokenizer-vocabulary coverage: per-document
  out-of-vocabulary token fraction against the corpus top-256 vocab,
  the data-quality gate run before committing a tokenizer to a
  pretraining mix.
- ``bloom_decontamination`` — the no-shuffle scale path next to the
  exact 8-gram decontamination join: a portable (salted-md5) Bloom
  filter over the eval split's grams, membership as pipelined
  broadcast semi joins; one-sided, so bloom-flagged ⊇ contaminated.
- ``bigram_familiarity_scores`` — CCNet/KenLM-style perplexity
  filtering re-expressed as exact arithmetic: leave-one-out bigram
  familiarity against train-split counts.

Own module so the queries register as never-checked and rotation
front-loads them into the next driver window (plans/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fintech_lakehouse_spark.functions.sampling import hash_bucket, sql_hash_bucket
from fintech_lakehouse_spark.functions.sketches import (
    BLOOM_K,
    BLOOM_M_BITS,
    bloom_build_md5,
    bloom_filter_members,
)
from fintech_lakehouse_spark.functions.text import (
    drop_hot_keys,
    tokens,
    winnow_selected,
    word_shingles,
)
from fintech_lakehouse_spark.functions.vectors import dot, with_norm
from fintech_lakehouse_spark.plans.registry import register, stage_cache
from fintech_lakehouse_spark.sources.readers import load_table, table_path

# Winnowing parameters: gram size K tokens, window of W gram hashes.
# Guarantee: token substrings of length >= K + W - 1 = 8 shared between
# two documents always share a fingerprint (the winnowing theorem).
WINNOW_K = 4
WINNOW_W = 5

SEMDEDUP_THRESHOLD = 0.40  # same non-vacuous bar as embedding_near_duplicates

VOCAB_SIZE = 256


@register(
    "winnowing_fingerprints",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    g AS (
        SELECT doc_id,
               [('0x' || substr(md5(array_to_string(toks[i:i+{WINNOW_K - 1}], ' ')), 1, 12))::BIGINT
                FOR i IN range(1, greatest(len(toks) - {WINNOW_K - 2}, 1))] AS hashes
        FROM t
    ),
    s AS (
        SELECT doc_id, len(hashes) AS n_grams,
               CASE
                 WHEN len(hashes) >= {WINNOW_W} THEN
                   [list_min(hashes[i:i+{WINNOW_W - 1}])
                    FOR i IN range(1, len(hashes) - {WINNOW_W - 2})]
                 WHEN len(hashes) >= 1 THEN [list_min(hashes)]
                 ELSE []
               END AS mins
        FROM g
    )
    SELECT doc_id, n_grams,
           len(list_distinct(mins)) AS n_fingerprints,
           md5(array_to_string(list_sort(list_distinct(mins)), ',')) AS fp_digest
    FROM s
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust winnowing fingerprints (SURVEY §7.6 fingerprinting,
    MOSS/SIGMOD'03): hash every K-token gram, slide a window of W
    consecutive gram hashes, select the minimum hash of each window,
    keep the distinct selected set. Unlike the whole-doc rolling hash
    (doc_rolling_fingerprints) this is POSITION-ROBUST: any shared run
    of >= K+W-1 tokens between two documents yields a shared
    fingerprint, so equal fp_digest ⇒ near-identical docs and shared
    individual fingerprints index partial overlaps — while storing only
    ~2/(W+1) of the gram hashes (the winnowing density bound).

    Scale shape: one parallel scan, zero Exchange — grams, hashes,
    window minima and the digest are all higher-order-function
    expressions inside the row (plan-asserted in tests). At 100 TB the
    selected (fingerprint → doc) pairs feed the same inverted-index
    join as test_set_decontamination; here we register the per-doc
    selection itself so the oracle pins the winnowing algebra exactly.

    Engine portability: gram hash = first 12 hex chars of md5 →
    BIGINT, the proven-bit-exact pair of functions/sampling.py's
    hash_bucket / sql_hash_bucket (conv(hex,16,10) vs '0x…'::BIGINT).
    Each intermediate array is materialized in its own projection —
    inlining the token split into the gram lambda re-splits the text
    per element (functions/text.py::word_shingles, measured ~20×)."""
    documents = load_table(spark, sf_dir, "documents", spread="doc_id")
    winnowed = winnow_selected(documents, k=WINNOW_K, w=WINNOW_W)
    sel = F.col("selected")
    # size() is INT in Spark but len() is BIGINT in DuckDB, and the
    # driver hash is dtype-sensitive (sql_isum rationale) → cast long.
    return winnowed.select(
        "doc_id",
        "n_grams",
        F.size(sel).cast("long").alias("n_fingerprints"),
        F.md5(
            F.concat_ws(",", F.transform(sel, lambda x: x.cast("string"))).cast(
                "binary"
            )
        ).alias("fp_digest"),
    )


WINNOW_HOT_DOCS = 100  # fingerprints in more docs than this are boilerplate
WINNOW_MIN_SHARED = 2  # pairs must share at least this many fingerprints


# The winnowing pair SQL is shared verbatim by winnowing_candidate_pairs
# (registered as-is) and dup_graph_pagerank (embedded as the edge CTE).
_WINNOW_PAIRS_SQL = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    g AS (
        SELECT doc_id,
               [('0x' || substr(md5(array_to_string(toks[i:i+{WINNOW_K - 1}], ' ')), 1, 12))::BIGINT
                FOR i IN range(1, greatest(len(toks) - {WINNOW_K - 2}, 1))] AS hashes
        FROM t
    ),
    s AS (
        SELECT doc_id,
               CASE
                 WHEN len(hashes) >= {WINNOW_W} THEN
                   [list_min(hashes[i:i+{WINNOW_W - 1}])
                    FOR i IN range(1, len(hashes) - {WINNOW_W - 2})]
                 WHEN len(hashes) >= 1 THEN [list_min(hashes)]
                 ELSE []
               END AS mins
        FROM g
    ),
    fps AS (
        SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM s
    ),
    hot AS (
        SELECT fp FROM fps GROUP BY fp
        HAVING COUNT(DISTINCT doc_id) > {WINNOW_HOT_DOCS}
    ),
    clean AS (
        SELECT * FROM fps WHERE fp NOT IN (SELECT fp FROM hot)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared_fps
    FROM clean a JOIN clean b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    """


@register("winnowing_candidate_pairs", oracle=_WINNOW_PAIRS_SQL)
def winnowing_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-based near-dup candidate pairs (SURVEY §7.6 dedup
    family): invert the selected fingerprints into a (fp → doc) index,
    drop boilerplate fingerprints appearing in > {WINNOW_HOT_DOCS}
    docs (the same bounded-fan-out skew guard as the shingle-join
    pair queries), and emit doc pairs sharing >= {WINNOW_MIN_SHARED}
    fingerprints.

    Why this exists next to ngram_jaccard_pairs: the index is built
    from the WINNOWED selection — ~2/(w+1) of all gram hashes — so at
    100 TB the inverted index (the shuffle) is ~3× smaller than the
    full-shingle index for the same guarantee class (any shared run of
    >= k+w-1 tokens still collides). It is the standard
    index-size/recall trade the full-shingle join cannot make.

    Plan note: the explicit repartition("fp") is the fact-20
    exchange-reuse point — hot-counts and both self-join sides consume
    the fingerprint index through different subtrees; with it the
    scan→winnow→explode derivation runs once and the pair join needs
    no further exchange."""
    documents = load_table(spark, sf_dir, "documents", spread="doc_id")
    fps = (
        winnow_selected(documents, k=WINNOW_K, w=WINNOW_W)
        .select("doc_id", F.explode("selected").alias("fp"))
        .repartition("fp")
    )
    # hot-fingerprint drop as a COUNT window over the fp partition
    # (r16; functions/text.py::drop_hot_keys — one pass, no anti join).
    # count(*) ≡ countDistinct(doc_id): fps explode winnow_selected's
    # sorted-distinct selection, so (doc_id, fp) rows are unique by
    # construction (r15 rewrite; oracle keeps COUNT(DISTINCT doc_id)).
    clean = drop_hot_keys(fps, "fp", WINNOW_HOT_DOCS)
    a = clean.select(F.col("doc_id").alias("doc_a"), "fp")
    b = clean.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= WINNOW_MIN_SHARED)
    )


# Right-sizing constant for the cached pair view (r16, guide
# §2.2/§2.6): rows per partition of the coalesced consumer view. The
# cached aggregate keeps spark.sql.shuffle.partitions partitions
# (cached plans are exempt from AQE partition coalescing —
# spark.sql.optimizer.canChangeCachedPlanOutputPartitioning defaults
# false), so at bench scale 280 pair rows sat in 32 partitions and
# every downstream exchange of every graph consumer scheduled 32–64
# near-empty map tasks. coalesce() below is narrow (never a shuffle)
# and can only REDUCE the partition count, so at production scale —
# where pairs/PAIRS_PER_PARTITION exceeds the cached partitioning —
# it is a no-op and the full parallelism is kept.
PAIRS_PER_PARTITION = 65_536


def winnowing_pairs_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowing candidate-pair table, materialized ONCE per
    (session, corpus snapshot) — VERDICT r8 item 2. The three graph
    queries (dup_graph_pagerank, dup_graph_kcore, dup_graph_triangles)
    consume the SAME pair set; before this stage each re-evaluated the
    whole scan → winnow → inverted-index → self-join pipeline (52.1 s
    of dup_graph_pagerank's 70.6 s at 1M synthetic docs was this one
    subtree). :func:`~fintech_lakehouse_spark.plans.registry.stage_cache`
    builds it once per documents snapshot and owns the cached table —
    at 100 TB, "write the pair table to storage once per corpus
    snapshot and point every graph consumer at it".

    Consumers receive a size-coalesced VIEW of the cache (r16): the
    materialized count picks ceil(n / PAIRS_PER_PARTITION) partitions,
    clamped to the cached partitioning, so a few-hundred-edge dup
    graph iterates over 1 partition instead of 32 (VERDICT r15 item 2:
    pagerank ran FASTER on 8 cores than 32 — per-task scheduling
    overhead exceeded the per-partition work on every tail
    exchange)."""

    def build(persist):
        pairs = persist(
            winnowing_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
        )
        n = pairs.count()  # materialize before consumers branch
        parts = pairs.rdd.getNumPartitions()
        return pairs.coalesce(max(1, min(parts, -(-n // PAIRS_PER_PARTITION))))

    return stage_cache(
        spark, "winnowing_pairs", (table_path(sf_dir, "documents"),), build
    )


def _semdedup_oracle_sql() -> str:
    """DuckDB twin of the SemDeDup pipeline: the cluster assignment
    replays the FROZEN IVF codebook exactly like _ivf_oracle_sql
    (plans/vectors.py) — identical float64 centroid literals, identical
    ||c||² − 2·(v·c) ranking with the (dist, list_id) tie-break — and
    the in-cluster cosine replays the embedding_near_duplicates
    expression shape (left-to-right fold ≡ list_dot_product)."""
    from fintech_lakehouse_spark.plans._ivf_codebook import CENTROID_SQ, CENTROIDS

    rows = ",\n        ".join(
        f"({i}, [" + ", ".join(repr(x) for x in c) + f"]::DOUBLE[], {CENTROID_SQ[i]!r})"
        for i, c in enumerate(CENTROIDS)
    )
    return f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents(cluster_id, c, csq) AS (VALUES
        {rows}),
    assigned AS (
        SELECT vec_id, v, cluster_id FROM (
            SELECT e.vec_id, e.v, c.cluster_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY c.csq - 2 * list_dot_product(e.v, c.c),
                                c.cluster_id) AS rn
            FROM emb e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    pairs AS (
        SELECT a.cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM assigned a JOIN assigned b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))) > {SEMDEDUP_THRESHOLD}
    ),
    members AS (
        SELECT cluster_id, COUNT(*) AS n_members FROM assigned GROUP BY cluster_id
    ),
    ps AS (
        SELECT cluster_id, COUNT(*) AS n_dup_pairs,
               COUNT(DISTINCT vec_b) AS n_pruned
        FROM pairs GROUP BY cluster_id
    )
    SELECT CAST(m.cluster_id AS BIGINT) AS cluster_id, m.n_members,
           COALESCE(ps.n_dup_pairs, 0) AS n_dup_pairs,
           COALESCE(ps.n_pruned, 0) AS n_pruned,
           m.n_members - COALESCE(ps.n_pruned, 0) AS n_survivors
    FROM members m LEFT JOIN ps USING (cluster_id)
    """


@register("semantic_dedup_clusters", oracle=_semdedup_oracle_sql())
def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (SURVEY §7.6 dedup family, Abbas et al. 2023): assign
    every embedding to its nearest FROZEN-codebook centroid
    (plans/_ivf_codebook.py — the r6 trained-parameter-freezing
    technique, ROUND_NOTES fact 13), then find cosine >
    {SEMDEDUP_THRESHOLD} pairs WITHIN each cluster and prune every
    vector that has a same-cluster duplicate with a smaller vec_id
    (the deterministic keep-lowest representative rule). Reports
    per-cluster members / dup pairs / pruned / survivors.

    Scale shape — this is the whole point of SemDeDup: the exact
    pairwise stage never sees the corpus, only one cluster at a time.
    Assignment is a zero-shuffle map (codebook rides as plan
    literals); the self-join shuffles once on cluster_id; in-cluster
    pairwise work is O(Σ|cluster|²), bounded by choosing k ∝ corpus
    size so |cluster| stays ~constant (at 100 TB: k in the tens of
    thousands, trained on a sample exactly like
    scripts/train_ivf_codebook.py, vs k=16 here). Compare
    embedding_near_duplicates, the O(n²) exact baseline this
    approximates."""
    from fintech_lakehouse_spark.functions.vectors import ivf_assign_fixed
    from fintech_lakehouse_spark.plans._ivf_codebook import CENTROID_SQ, CENTROIDS

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    assigned = ivf_assign_fixed(emb, CENTROIDS, CENTROID_SQ, out="cluster_id")
    a = with_norm(
        assigned.select(
            F.col("vec_id").alias("vec_a"), "cluster_id", F.col("embedding").alias("va")
        ),
        "va",
        "na",
    )
    b = with_norm(
        assigned.select(
            F.col("vec_id").alias("vec_b"), "cluster_id", F.col("embedding").alias("vb")
        ),
        "vb",
        "nb",
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(b, ["cluster_id"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos > SEMDEDUP_THRESHOLD)
        .select("cluster_id", "vec_a", "vec_b")
    )
    members = assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    stats = pairs.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("vec_b").alias("n_pruned"),
    )
    return (
        members.join(stats, "cluster_id", "left")
        .fillna(0, ["n_dup_pairs", "n_pruned"])
        .select(
            # list_id literals are INT in both plans; the driver hash is
            # dtype-sensitive → normalize to BIGINT on both sides.
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "n_members",
            "n_dup_pairs",
            "n_pruned",
            (F.col("n_members") - F.col("n_pruned")).alias("n_survivors"),
        )
    )


@register(
    "vocab_oov_rates",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (
        SELECT token FROM (
            SELECT token, COUNT(*) AS n FROM tok GROUP BY token
            ORDER BY n DESC, token LIMIT {VOCAB_SIZE}
        )
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST((SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 10000)
                // COUNT(*) AS DOUBLE) / 10000 AS oov_rate
    FROM tok t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id
    """,
)
def vocab_oov_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage (SURVEY §7.6 text analysis): build
    the corpus top-{VOCAB_SIZE} token vocabulary (count desc, token asc
    tie-break — a deterministic total order both engines share), then
    report each document's token count, OOV token count, and OOV rate.
    The gate every tokenizer change runs before a pretraining mix:
    a rate spike localizes which documents the vocab fails on.

    Scale shape: the vocab aggregate is map-side-partial (tiny result,
    top-k via sort+limit on the already-aggregated token counts), and
    it BROADCASTS into the exploded token stream — the corpus never
    shuffles for the membership probe; the only full-width exchange is
    the final groupBy(doc_id), which a real pipeline fuses into its
    per-doc stats pass. At a production vocab (50k–200k entries) the
    same broadcast-hash-join plan holds — that is why membership is a
    join, not an array_contains against a literal array.

    oov_rate uses integer floor-division at 4 decimals
    (plans/_num.py::davg_int rationale; ROUND_NOTES fact 22): a
    ROUND()-ed small-int/small-int quotient flakes between engines
    when the true decimal quotient lands on a display-scale midpoint
    (e.g. 3/160 = 0.01875)."""
    documents = load_table(spark, sf_dir, "documents")
    tok = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(VOCAB_SIZE)
        .select("token", F.lit(1).alias("_inv"))
    )
    flagged = tok.join(F.broadcast(vocab), "token", "left")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.expr(
            "CAST((SUM(CASE WHEN _inv IS NULL THEN 1 ELSE 0 END) * 10000)"
            " DIV COUNT(1) AS DOUBLE) / 10000"
        ).alias("oov_rate"),
    )


# Bloom decontamination: same 8-gram domain and >= 3 shared-gram bar as
# test_set_decontamination (plans/text.py), so the two stay comparable.
DECON_GRAM_N = 8
DECON_MIN_GRAMS = 3
_BLOOM_PROBE_SQL = (
    "('0x' || substr(md5('bloom' || CAST(r.i AS VARCHAR) || '|' || gram), 1, 12))"
    f"::BIGINT % {BLOOM_M_BITS}"
)


@register(
    "bloom_decontamination",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               {sql_hash_bucket('doc_id', 'split')} AS b,
               unnest(list_distinct(
                 [array_to_string(string_split(text, ' ')[i:i+{DECON_GRAM_N - 1}], ' ')
                  FOR i IN range(1, greatest(len(string_split(text, ' ')) - {DECON_GRAM_N - 1}, 0) + 1)]
               )) AS gram
        FROM documents
    ),
    bloom AS (
        SELECT DISTINCT {_BLOOM_PROBE_SQL} AS pos
        FROM sh, range({BLOOM_K}) r(i) WHERE b >= 9000
    ),
    cprobe AS (
        SELECT doc_id, gram, {_BLOOM_PROBE_SQL} AS pos
        FROM sh, range({BLOOM_K}) r(i) WHERE b < 9000
    ),
    hits AS (
        SELECT doc_id, gram
        FROM cprobe JOIN bloom USING (pos)
        GROUP BY doc_id, gram
        HAVING COUNT(*) = {BLOOM_K}
    )
    SELECT doc_id AS corpus_doc_id, COUNT(*) AS n_flagged_grams
    FROM hits GROUP BY doc_id
    HAVING COUNT(*) >= {DECON_MIN_GRAMS}
    """,
)
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the 100 TB fast path next to the
    exact gram join (plans/text.py::test_set_decontamination): build a
    portable Bloom filter over the held-out split's distinct 8-grams
    (hash-split bucket >= 9000, same leakage-safe split), then flag
    corpus documents with >= {DECON_MIN_GRAMS} distinct grams reported
    present.

    Why this exists when the exact join already does: the exact check
    shuffles EVERY corpus gram to its join partition — at 100 TB that
    is the dominant cost of the whole decontamination pass. Here the
    corpus side never shuffles: the filter is bounded at 2^20 bit
    positions (8 MiB of longs) no matter how large the eval suite is,
    broadcasts to every executor, and membership runs as {BLOOM_K}
    pipelined broadcast semi joins inside the corpus scan stage. The
    only exchange on corpus data is the final per-doc count of the
    (tiny) surviving gram set.

    One-sided guarantee (tests/test_scale_patterns.py asserts it against the
    exact query): every exactly-contaminated doc is bloom-flagged —
    false negatives are impossible, so the cheap pass can gate the
    expensive exact audit on the flagged subset without missing
    leakage. False positives (~(k·n/m)^k) inflate n_flagged_grams and
    are deterministic given the md5 probe family — which is what makes
    the DuckDB twin replay the whole filter bit-for-bit, false
    positives included. No hot-gram drop here (that would need a
    corpus-wide gram count — a shuffle, defeating the point);
    boilerplate grams cost false flags, not misses."""
    documents = load_table(spark, sf_dir, "documents", spread="doc_id")
    grams = (
        word_shingles(documents, n=DECON_GRAM_N)
        .select("doc_id", F.explode("shingles").alias("gram"))
        .withColumn("b", hash_bucket("doc_id", "split"))
    )
    test_grams = grams.filter(F.col("b") >= 9000).select("gram")
    bloom = bloom_build_md5(test_grams, "gram", BLOOM_K, BLOOM_M_BITS)
    corpus = grams.filter(F.col("b") < 9000).select(
        F.col("doc_id").alias("corpus_doc_id"), "gram"
    )
    hits = bloom_filter_members(corpus, bloom, "gram", BLOOM_K, BLOOM_M_BITS)
    return (
        hits.groupBy("corpus_doc_id")
        .agg(F.count(F.lit(1)).alias("n_flagged_grams"))
        .filter(F.col("n_flagged_grams") >= DECON_MIN_GRAMS)
    )


@register(
    "bigram_familiarity_scores",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {sql_hash_bucket('doc_id', 'split')} AS b,
               string_split(text, ' ') AS t
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    occ AS (
        SELECT doc_id, b, bigram, COUNT(*) AS n_occ
        FROM (
            SELECT doc_id, b,
                   unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])
                       AS bigram
            FROM toks
        )
        GROUP BY doc_id, b, bigram
    ),
    lm AS (
        SELECT bigram, CAST(SUM(n_occ) AS BIGINT) AS train_cnt
        FROM occ WHERE b < 9000 GROUP BY bigram
    )
    SELECT o.doc_id,
           CAST(SUM(o.n_occ) AS BIGINT) AS n_bigram_occs,
           CAST(SUM(CASE WHEN COALESCE(g.train_cnt, 0)
                              - (CASE WHEN o.b < 9000 THEN o.n_occ ELSE 0 END)
                         >= 1
                    THEN o.n_occ ELSE 0 END) AS BIGINT) AS n_familiar_occs,
           CAST(SUM(CASE WHEN COALESCE(g.train_cnt, 0)
                              - (CASE WHEN o.b < 9000 THEN o.n_occ ELSE 0 END)
                         >= 1
                    THEN o.n_occ ELSE 0 END) AS DOUBLE)
               / CAST(SUM(o.n_occ) AS DOUBLE) AS familiarity
    FROM occ o LEFT JOIN lm g USING (bigram)
    GROUP BY o.doc_id
    """,
)
def bigram_familiarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model familiarity filter (SURVEY §7.6 quality scoring) —
    the exact-arithmetic distributed analog of CCNet/KenLM perplexity
    filtering: train bigram counts on the train split (hash bucket
    < 9000, the standard leakage-safe split), then score EVERY document
    by the fraction of its bigram occurrences that appear in the train
    corpus OUTSIDE the document itself (leave-one-out: a doc cannot
    vouch for its own n-grams, so pathological-but-repetitive text
    still scores low). Low familiarity = out-of-distribution text —
    gibberish, encoding damage, or genuinely novel domains — exactly
    the docs a perplexity filter sends to review.

    Why familiarity-fraction instead of log-probability: the fraction
    is a single IEEE division of two exact integer sums, so the DuckDB
    twin matches bit-for-bit; a summed log-prob depends on float
    accumulation order ACROSS a shuffle, which no cross-engine hash
    check can pin (doc_top_rare_tokens' un-logged idf, ROUND_NOTES
    fact 29, is the same design rule). A production KenLM scorer drops
    in as a broadcast model + pandas UDF without changing this plan's
    shape.

    Scale shape (r10 rewrite — the two-consecutive-round bench-uptick
    root cause): the previous form aggregated train counts into a
    vocab table and joined it back onto its OWN source — exactly the
    shape where AQE broadcasts the aggregate side, breaking the
    intended repartition("bigram") exchange reuse and re-evaluating
    the whole explode+groupBy subtree (measured: zero ReusedExchange,
    3 broadcasts). The train count is instead a windowed SUM over the
    bigram partition of the per-doc occurrence table: ONE shuffle on
    bigram, no join, no second evaluation — A/B-measured ~20% faster
    than the join form and immune to the AQE strategy flip. The
    leave-one-out subtraction rides the same row."""
    from pyspark.sql import Window as _W

    documents = load_table(spark, sf_dir, "documents", spread="doc_id")
    toks = F.col("_toks")
    tokenized = documents.select(
        "doc_id",
        hash_bucket("doc_id", "split").alias("b"),
        tokens().alias("_toks"),
    ).filter(F.size(toks) >= 2)
    bigram_arr = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", toks[i], toks[i + 1]),
    )
    occ = (
        tokenized.select("doc_id", "b", F.explode(bigram_arr).alias("bigram"))
        .groupBy("doc_id", "b", "bigram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    train_cnt = F.sum(
        F.when(F.col("b") < 9000, F.col("n_occ")).otherwise(F.lit(0))
    ).over(_W.partitionBy("bigram"))
    cross_doc_cnt = train_cnt - F.when(
        F.col("b") < 9000, F.col("n_occ")
    ).otherwise(F.lit(0))
    familiar_occ = F.when(cross_doc_cnt >= 1, F.col("n_occ")).otherwise(F.lit(0))
    return (
        occ.withColumn("_fam", familiar_occ)
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_bigram_occs"),
            F.sum("_fam").alias("n_familiar_occs"),
        )
        .withColumn(
            "familiarity",
            F.col("n_familiar_occs").cast("double")
            / F.col("n_bigram_occs").cast("double"),
        )
    )


# Deterministic integer PageRank over the near-dup graph: damping 0.85
# in exact micro-units (rank scale 1e6), PR_ITERS unrolled iterations.
PR_SCALE = 1_000_000
PR_ITERS = 3
_PR_BASE = (15 * PR_SCALE) // 100  # (1 - d) * scale, exact


def _pr_iter_sql(prev: str, this: str) -> str:
    """One unrolled PageRank step as a DuckDB CTE: integer floor-divided
    contribution (pr // deg), exact integer sum, damped in micro-units."""
    return f"""
    {this} AS (
        SELECT e.dst AS doc_id,
               {_PR_BASE} + (85 * CAST(SUM(r.pr // d.deg) AS BIGINT)) // 100 AS pr
        FROM edges e
        JOIN {prev} r ON e.src = r.doc_id
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
    )"""


@register(
    "dup_graph_pagerank",
    oracle=f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({_WINNOW_PAIRS_SQL})
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS (
        SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ),
    r0 AS (
        SELECT src AS doc_id, CAST({PR_SCALE} AS BIGINT) AS pr FROM deg
    ),{_pr_iter_sql('r0', 'r1')},{_pr_iter_sql('r1', 'r2')},{_pr_iter_sql('r2', 'r3')}
    SELECT r.doc_id, CAST(d.deg AS BIGINT) AS degree,
           CAST(r.pr AS BIGINT) AS pr_micro
    FROM r3 r JOIN deg d ON r.doc_id = d.src
    """,
)
def dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-duplicate graph (SURVEY §7.6
    dedup family; the iterative-algorithm shape next to
    functions/text.py::dedup_clusters): symmetrize the winnowing
    candidate pairs into an undirected graph and run {PR_ITERS} damped
    (0.85) power iterations. High-centrality docs are boilerplate hubs
    — template text that near-matches MANY other docs — exactly the
    docs a curation pipeline reviews first, because removing one hub
    removes thousands of near-dup pairs (degree alone over-counts
    leaf-heavy stars; centrality weights a neighbor by ITS
    connectedness).

    Determinism design: ranks live in integer micro-units (scale 1e6)
    with floor-divided contributions (pr DIV deg) and a floor-divided
    damping step, so every iteration is exact integer arithmetic —
    order-independent under any shuffle, bit-replayable by the DuckDB
    twin with the iterations unrolled as CTEs. A float PageRank's
    summation order is shuffle-dependent and no cross-engine hash
    check could pin it (the fact-29 / bigram-familiarity design rule;
    ROUND_NOTES fact 22 for why floor-division beats ROUND).

    Scale shape: each iteration is one join of the rank vector to the
    edge list plus a map-side-combinable groupBy(dst) — the standard
    distributed PageRank step — run through
    operators/graph.py::iterate_edges: the adjacency (edge ⋈ degree)
    is localCheckpoint-ed ONCE and every iteration's rank vector is
    checkpointed so the static plan stays O(one step) instead of
    re-referencing the winnowing pair subtree per iteration (the
    kcore 3^rounds unroll pathology, VERDICT r7). The dup graph is
    SPARSE relative to the corpus (pairs survive the hot-fingerprint
    drop, so degree is bounded by construction) and the iteration
    count is fixed, not data-dependent."""
    from fintech_lakehouse_spark.operators.graph import iterate_edges

    pairs = winnowing_pairs_stage(spark, sf_dir)
    # ONE evaluation of the expensive pair subtree: the edge list is
    # the checkpoint leaf (the kcore shape — checkpointing the JOINED
    # adjacency instead still re-evaluated the pairs through the union
    # branches, measured 102 s vs 50 s at 1M synthetic docs); deg/adj/
    # ranks all derive from the tiny materialized edge list.
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    adj = edges.join(deg, "src")
    ranks = deg.select(
        F.col("src").alias("doc_id"), F.lit(PR_SCALE).cast("long").alias("pr")
    )

    def _power_step(r: DataFrame, _i: int) -> DataFrame:
        contrib = adj.join(r, adj["src"] == r["doc_id"]).select(
            "dst", F.expr("pr DIV deg").alias("c")
        )
        return (
            contrib.groupBy("dst")
            .agg(
                (
                    F.lit(_PR_BASE).cast("long")
                    + F.expr("(85 * sum(c)) DIV 100").cast("long")
                ).alias("pr")
            )
            .select(F.col("dst").alias("doc_id"), "pr")
        )

    # Fixed small round count + a step that references only the edge
    # checkpoint leaf and the previous rank vector → the lazy tail is
    # a LINEAR 3-step plan (the 3^rounds pathology needs a step that
    # re-references its input through multiple branches). Skipping the
    # per-round eager localCheckpoint removes 3 jobs + barriers from
    # the critical path; the one consuming action pipelines the whole
    # tail (r15 optimization round, A/B below in OPTIMIZATION_r15.md).
    ranks, _, _ = iterate_edges(
        ranks,
        _power_step,
        PR_ITERS,
        checkpoint_every=PR_ITERS + 1,
        checkpoint_last=False,
    )
    return ranks.join(deg, ranks["doc_id"] == deg["src"]).select(
        "doc_id", F.col("deg").cast("long").alias("degree"), F.col("pr").alias("pr_micro")
    )


@register(
    "bloom_decontamination_audit",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               {sql_hash_bucket('doc_id', 'split')} AS b,
               unnest(list_distinct(
                 [array_to_string(string_split(text, ' ')[i:i+{DECON_GRAM_N - 1}], ' ')
                  FOR i IN range(1, greatest(len(string_split(text, ' ')) - {DECON_GRAM_N - 1}, 0) + 1)]
               )) AS gram
        FROM documents
    ),
    hot AS (
        SELECT gram FROM sh GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 100
    ),
    exact_docs AS (
        SELECT DISTINCT c.doc_id
        FROM sh t JOIN sh c ON t.gram = c.gram
        WHERE t.b >= 9000 AND c.b < 9000
          AND t.gram NOT IN (SELECT gram FROM hot)
        GROUP BY t.doc_id, c.doc_id
        HAVING COUNT(*) >= {DECON_MIN_GRAMS}
    ),
    bloom AS (
        SELECT DISTINCT {_BLOOM_PROBE_SQL} AS pos
        FROM sh, range({BLOOM_K}) r(i) WHERE b >= 9000
    ),
    cprobe AS (
        SELECT doc_id, gram, {_BLOOM_PROBE_SQL} AS pos
        FROM sh, range({BLOOM_K}) r(i) WHERE b < 9000
    ),
    bloom_hits AS (
        SELECT doc_id, gram FROM cprobe JOIN bloom USING (pos)
        GROUP BY doc_id, gram HAVING COUNT(*) = {BLOOM_K}
    ),
    bloom_docs AS (
        SELECT doc_id FROM bloom_hits
        GROUP BY doc_id HAVING COUNT(*) >= {DECON_MIN_GRAMS}
    )
    SELECT CAST((SELECT COUNT(*) FROM bloom_docs) AS BIGINT) AS n_bloom_flagged,
           CAST((SELECT COUNT(*) FROM exact_docs) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM bloom_docs b
                 JOIN exact_docs e ON b.doc_id = e.doc_id) AS BIGINT)
               AS n_true_positive,
           CAST((SELECT COUNT(*) FROM exact_docs e
                 WHERE e.doc_id NOT IN (SELECT doc_id FROM bloom_docs))
                AS BIGINT) AS n_missed
    """,
)
def bloom_decontamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom gate's PRECISION AUDIT as a driver-checked number:
    join the cheap pass (bloom_decontamination) against the exact gram
    join (test_set_decontamination) and report flagged / exact /
    true-positive / missed counts in one row. The one-sided guarantee
    is now a hash-checked VALUE, not just a unit-test assertion:
    n_missed must be 0 in every run of this query on any data — a
    red driver row here means the bloom construction broke its
    no-false-negative contract (the one failure mode a decontamination
    gate must never have). The false-positive margin
    (n_bloom_flagged − n_true_positive) is the price of skipping the
    corpus shuffle, deterministic given the md5 probe family.

    Semantics note: the exact side keeps its hot-gram drop and
    per-test-doc >= {DECON_MIN_GRAMS} bar while the bloom side counts
    grams shared with ANY eval doc and skips the hot drop, so
    bloom ⊇ exact holds a fortiori (the unit test pins the stronger
    per-doc count dominance).

    Shape (r16 optimization round, guide §7.2 duplicated subtrees):
    the four counts come from ONE full-outer join of the two doc-id
    sets and a single aggregate. The previous crossJoin-of-4-aggregates
    form referenced bloom_docs and exact_docs three times each, and
    each reference re-evaluated its whole decontamination pipeline
    (measured 3.67 s vs 1.5 + 1.0 s for the two sides run once;
    min-of-5 after the rewrite: 1.96 s). Both doc-id sets are unique
    by construction (grouped / distinct), so the full-outer join is
    1:1 and count(flag) over it reproduces each count exactly."""
    from fintech_lakehouse_spark.plans.text import test_set_decontamination

    exact_docs = (
        test_set_decontamination(spark, sf_dir)
        .select(F.col("corpus_doc_id").alias("doc_id"))
        .distinct()
        .withColumn("_e", F.lit(1))
    )
    bloom_docs = bloom_decontamination(spark, sf_dir).select(
        F.col("corpus_doc_id").alias("doc_id"), F.lit(1).alias("_b")
    )
    joined = bloom_docs.join(exact_docs, "doc_id", "full_outer")
    return joined.agg(
        F.count("_b").alias("n_bloom_flagged"),
        F.count("_e").alias("n_exact"),
        F.count(F.when(F.col("_b").isNotNull() & F.col("_e").isNotNull(), 1)).alias(
            "n_true_positive"
        ),
        F.count(F.when(F.col("_e").isNotNull() & F.col("_b").isNull(), 1)).alias(
            "n_missed"
        ),
    )


@register(
    "dup_graph_triangles",
    oracle=f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({_WINNOW_PAIRS_SQL})
    ),
    tri AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.doc_a = e1.doc_b
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        GROUP BY doc_id
    ),
    deg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL SELECT doc_b FROM pairs
        )
        GROUP BY doc_id
    )
    SELECT d.doc_id, d.degree,
           COALESCE(t.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN (2 * COALESCE(t.n_triangles, 0) * 1000000)
                     // (d.degree * (d.degree - 1))
                ELSE 0 END AS clustering_ppm
    FROM deg d LEFT JOIN per_doc t ON t.doc_id = d.doc_id
    """,
)
def dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient over the
    near-duplicate graph (SURVEY §7.6 dedup family, next to
    dup_graph_pagerank): a doc in many triangles sits inside a DENSE
    near-dup community (a template family), while a high-degree doc
    with zero triangles is a hub matching many unrelated docs (shared
    boilerplate) — the distinction that decides "drop the whole
    cluster" vs "strip the boilerplate", which degree and PageRank
    alone cannot make.

    Algorithm: the canonical distributed triangle count — edges are
    already canonically oriented (doc_a < doc_b from the pair query),
    so each triangle a<b<c is found EXACTLY once by joining e1=(a,b)
    with e2=(b,c) on the shared middle vertex and closing with
    e3=(a,c). Clustering coefficient is exact integer ppm:
    2*tri*1e6 DIV (deg*(deg-1)) — all operands non-negative, so Spark
    DIV == DuckDB // (fact 32) and no float enters the plan.

    Scale shape: two self-joins of the edge list — the wedge join's
    fan-out is sum over vertices of out-degree^2, and out-degree under
    the a<b orientation is bounded by the hot-fingerprint drop
    upstream (a vertex only has edges to docs it shares >= 2
    non-boilerplate fingerprints with). At 100 TB the standard
    refinement is degree-ordered orientation (orient each edge toward
    the HIGHER-degree endpoint, capping out-degree at sqrt(edges));
    with the id orientation kept here the DuckDB twin stays a
    three-line replay. Edges partition by the join vertex, so wedges
    are computed where the edges live."""
    pairs = winnowing_pairs_stage(spark, sf_dir)
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    per_doc = (
        tri.select(F.col("a").alias("doc_id"))
        .unionByName(tri.select(F.col("b").alias("doc_id")))
        .unionByName(tri.select(F.col("c").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    joined = deg.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias("n_triangles"),
    )
    return joined.withColumn(
        "clustering_ppm",
        F.when(
            F.col("degree") >= 2,
            F.expr("(2 * n_triangles * 1000000) DIV (degree * (degree - 1))"),
        ).otherwise(F.lit(0).cast("long")),
    )


@register(
    "curriculum_stage_manifest",
    oracle="""
    WITH sized AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    cuts AS (
        SELECT quantile_cont(n_tokens, 0.25) AS p25,
               quantile_cont(n_tokens, 0.50) AS p50,
               quantile_cont(n_tokens, 0.75) AS p75
        FROM sized
    )
    SELECT 1 + CAST(n_tokens >= p25 AS INT) + CAST(n_tokens >= p50 AS INT)
             + CAST(n_tokens >= p75 AS INT) AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM sized CROSS JOIN cuts
    GROUP BY 1
    """,
)
def curriculum_stage_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-based curriculum staging (the classic short→long
    schedule of curriculum learning — Bengio et al. 2009, public):
    docs are binned into 4 stages by exact token-count quartiles and
    the manifest reports each stage's doc count, token budget, and
    length bounds — what a training loader consumes to schedule
    epochs.

    Deliberately NOT ntile(): a global ntile funnels the whole corpus
    through ONE task (no PARTITION BY = single partition, the
    velocity-family hazard in its worst form). The scale shape is
    threshold-broadcast instead: one exact-percentile aggregate
    (map-side-combinable partials at bench SF; approx_percentile's
    mergeable sketch at 100 TB) produces a 1-row cutoff table that
    broadcasts into a scan-level stage assignment + a 4-group
    aggregate. Integer token counts keep percentile interpolation
    engine-identical (the quantity_percentiles parity)."""
    documents = load_table(spark, sf_dir, "documents")
    sized = documents.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    cuts = sized.agg(
        F.percentile("n_tokens", 0.25).alias("p25"),
        F.percentile("n_tokens", 0.50).alias("p50"),
        F.percentile("n_tokens", 0.75).alias("p75"),
    )
    stage = (
        F.lit(1)
        + (F.col("n_tokens") >= F.col("p25")).cast("int")
        + (F.col("n_tokens") >= F.col("p50")).cast("int")
        + (F.col("n_tokens") >= F.col("p75")).cast("int")
    )
    return (
        sized.crossJoin(F.broadcast(cuts))
        .groupBy(stage.alias("stage"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
    )


KCORE_K = 2
KCORE_ROUNDS = 2


def _peel_sql(src: str, out: str, k: int) -> str:
    """One k-core peel round as a CTE: keep only edges whose BOTH
    endpoints currently have degree >= k."""
    return f"""
    {out} AS (
        SELECT e.src, e.dst FROM {src} e
        JOIN (SELECT src FROM {src} GROUP BY src
              HAVING COUNT(*) >= {k}) ka ON e.src = ka.src
        JOIN (SELECT src FROM {src} GROUP BY src
              HAVING COUNT(*) >= {k}) kb ON e.dst = kb.src
    )"""


@register(
    "dup_graph_kcore",
    oracle=f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({_WINNOW_PAIRS_SQL})
    ),
    e0 AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),{_peel_sql('e0', 'e1', KCORE_K)},{_peel_sql('e1', 'e2', KCORE_K)},
    core AS (
        SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM e2 GROUP BY src
    ),
    conv AS (
        SELECT COUNT(*) FILTER (core_degree < {KCORE_K}) = 0 AS converged
        FROM core
    )
    SELECT c.doc_id, c.core_degree, v.converged
    FROM core c CROSS JOIN conv v
    ORDER BY c.doc_id
    """,
)
def dup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core decomposition of the near-duplicate graph — the
    third member of the graph-analytics family (degree/PageRank rank
    INDIVIDUAL docs; triangles score LOCAL density; the k-core is the
    maximal subgraph where EVERY member keeps >= {KCORE_K} near-dup
    neighbors after all weakly-connected docs are peeled away — the
    standard definition of the dense template/boilerplate COMMUNITY a
    curation pipeline removes as a block rather than pair-by-pair).
    Iterative peeling: drop vertices with degree < {KCORE_K},
    recompute degrees, repeat. {KCORE_ROUNDS} fixed rounds with a
    hash-checked CONVERGENCE flag — on this corpus peeling stabilizes
    in one round at every SF (measured), the second round is the
    proof, and the pinned-TRUE `converged` column turns "did the fixed
    unroll reach the true k-core" into a driver-checked VALUE (the
    bloom n_missed=0 pattern): data that ever needs more rounds flips
    the flag and the row goes red instead of silently reporting a
    non-core.

    Scale shape: each round is two semi-join-shaped reductions of the
    edge list against its own degree aggregate — map-side-combinable
    groupBy + joins on the vertex key, the dedup_clusters iteration
    contract — run through operators/graph.py::iterate_edges, which
    localCheckpoints the peeled edge list per round. The lazy unroll
    referenced the pair subtree 3^rounds times statically (a
    599-exchange / 400-scan compiled plan whose scheduling overhead
    dwarfed the 3-row answer — VERDICT r7 weak item 2); the
    checkpointed form evaluates the winnowing pairs ONCE
    (checkpoint_input) and keeps every round's plan O(one peel). The
    peel itself only shrinks the live edge set, so each round's
    materialization is bounded by the previous round's survivors."""
    from fintech_lakehouse_spark.operators.graph import iterate_edges

    pairs = winnowing_pairs_stage(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )

    def _peel(e: DataFrame, _i: int) -> DataFrame:
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= KCORE_K)
            .select("src")
        )
        return e.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )

    edges, _, _ = iterate_edges(
        edges, _peel, KCORE_ROUNDS, checkpoint_input=True
    )
    core = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )
    conv = core.agg(
        (
            F.sum((F.col("core_degree") < KCORE_K).cast("int")) == 0
        ).alias("converged")
    )
    return (
        core.select(F.col("src").alias("doc_id"), "core_degree")
        .crossJoin(F.broadcast(conv))
        .orderBy("doc_id")
    )

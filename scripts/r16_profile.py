#!/usr/bin/env python
"""r16 optimization round, measurement pass (guide §1): decompose the
VERDICT-r15 target queries stage by stage through the noop sink, print
min-of-N cold seconds per sub-pipeline plus the window's steal
fraction so every reading is interpretable (the r13/r15 protocol).

Targets (VERDICT r15 "Next round"):
  1. winnowing fold (tokenize → grams → hashes → window-min → full)
  2. dup_graph_pagerank tail (pairs stage vs full; partition counts)
  3. minhash verify stage (eager vs lazy candidate cache)
  4. ngram_containment/jaccard decomposition
  5. bloom_decontamination_audit (never benched)

Usage: python scripts/r16_profile.py [sf_dir] [repeats] [section ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from fintech_lakehouse_spark.functions.text import (  # noqa: E402
    shingle_rows,
    minhash_signatures_md5,
    lsh_band_pairs_md5,
    verified_jaccard_pairs,
    winnow_selected,
    tokens,
)
from fintech_lakehouse_spark.plans.text import reset_stage_caches  # noqa: E402
from fintech_lakehouse_spark.session import get_spark  # noqa: E402
from fintech_lakehouse_spark.sources.readers import load_table  # noqa: E402


def _steal() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label: str, build, repeats: int = 5) -> float:
    best = float("inf")
    s0, t0 = _steal()
    for _ in range(repeats):
        reset_stage_caches()
        t = time.time()
        noop(build())
        best = min(best, time.time() - t)
    s1, t1 = _steal()
    frac = (s1 - s0) / max(1, t1 - t0)
    print(f"{label:58s} {best:7.3f} s   steal {frac:.4f}")
    return best


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sections = set(sys.argv[3:]) or {
        "winnow", "pagerank", "minhash", "ngram", "bloomaudit", "floor"
    }
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "r16-profile",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": cpus},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from fintech_lakehouse_spark.plans import QUERIES

    def docs():
        return load_table(spark, sf_dir, "documents")

    # warmup: compile plan shapes once at the smallest SF
    small = "/root/testdata/sf0.001"
    for q in ("winnowing_fingerprints", "winnowing_candidate_pairs",
              "dup_graph_pagerank", "minhash_lsh_pairs",
              "ngram_containment_pairs", "bloom_decontamination_audit"):
        try:
            reset_stage_caches()
            noop(QUERIES[q](spark, small))
        except Exception as e:  # pragma: no cover
            print(f"warmup {q} failed: {e}", file=sys.stderr)

    n_docs = docs().count()
    n_tok = docs().select(F.sum(F.size(tokens()))).collect()[0][0]
    print(f"corpus: {n_docs} docs, {n_tok} tokens, sf_dir={sf_dir}")

    if "winnow" in sections:
        print("== 1. winnowing fold decomposition ==")
        k, w = 4, 5
        spark.sparkContext.setJobDescription("win: scan")
        timed(spark, "scan (doc_id, text)", lambda: docs().select("doc_id", "text"),
              repeats)
        spark.sparkContext.setJobDescription("win: tokenize")
        timed(spark, "+ split tokens",
              lambda: docs().select("doc_id", tokens().alias("t")), repeats)

        def grams():
            toks = F.col("_t")
            t = docs().select("doc_id", tokens().alias("_t"))
            n = F.size(toks)
            gi = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
                F.array().cast("array<int>"))
            g = F.transform(
                gi, lambda i: F.concat_ws(" ", *[toks[i + j] for j in range(k)]))
            return t.select("doc_id", g.alias("_g"))

        spark.sparkContext.setJobDescription("win: grams")
        timed(spark, "+ gram strings (HOF)", grams, repeats)

        def hashes():
            g = F.col("_g")
            h = F.transform(
                g,
                lambda gm: F.conv(
                    F.substring(F.md5(gm.cast("binary")), 1, 12), 16, 10
                ).cast("long"),
            )
            return grams().select("doc_id", h.alias("_h"))

        spark.sparkContext.setJobDescription("win: hashes")
        timed(spark, "+ md5 gram hashes (HOF)", hashes, repeats)
        from fintech_lakehouse_spark.functions.text import winnow_selected_expr
        from fintech_lakehouse_spark.plans import curation as _cur

        # interleaved A/B: expression twin (r15 shipped) vs mapInArrow
        for tag, impl in (("expr OLD", winnow_selected_expr),
                          ("arrow NEW", winnow_selected)):
            _cur.winnow_selected = impl
            spark.sparkContext.setJobDescription(f"win: selected {tag}")
            timed(spark, f"winnow_selected [{tag}]",
                  lambda impl=impl: impl(docs(), k=k, w=w), repeats)
            spark.sparkContext.setJobDescription(f"win: fingerprints {tag}")
            timed(spark, f"winnowing_fingerprints (query) [{tag}]",
                  lambda: QUERIES["winnowing_fingerprints"](spark, sf_dir),
                  repeats)
            spark.sparkContext.setJobDescription(f"win: pairs {tag}")
            timed(spark, f"winnowing_candidate_pairs (query) [{tag}]",
                  lambda: QUERIES["winnowing_candidate_pairs"](spark, sf_dir),
                  repeats)
            spark.sparkContext.setJobDescription(f"pr: full {tag}")
            timed(spark, f"dup_graph_pagerank (query, cold) [{tag}]",
                  lambda: QUERIES["dup_graph_pagerank"](spark, sf_dir),
                  repeats)
        _cur.winnow_selected = winnow_selected

    if "pagerank" in sections:
        print("== 2. dup_graph_pagerank ==")
        from fintech_lakehouse_spark.plans.curation import winnowing_pairs_stage

        spark.sparkContext.setJobDescription("pr: pairs stage")
        timed(spark, "winnowing_pairs_stage (cold)",
              lambda: winnowing_pairs_stage(spark, sf_dir), repeats)
        spark.sparkContext.setJobDescription("pr: full")
        timed(spark, "dup_graph_pagerank (full, cold)",
              lambda: QUERIES["dup_graph_pagerank"](spark, sf_dir), repeats)
        # partition counts of the cached stage + edge leaf
        reset_stage_caches()
        pairs = winnowing_pairs_stage(spark, sf_dir)
        npart = pairs.rdd.getNumPartitions()
        print(f"pairs stage: rows={pairs.count()}, partitions={npart}")

        def tail_only():
            # pagerank minus the pairs stage (stage warm in cache)
            return QUERIES["dup_graph_pagerank"](spark, sf_dir)

        spark.sparkContext.setJobDescription("pr: tail only (stage warm)")
        best = float("inf")
        for _ in range(repeats):
            t = time.time()
            noop(tail_only())
            best = min(best, time.time() - t)
        print(f"{'pagerank tail only (pairs stage warm)':58s} {best:7.3f} s")
        spark.sparkContext.setJobDescription("tri: tail only (stage warm)")
        best = float("inf")
        for _ in range(repeats):
            t = time.time()
            noop(QUERIES["dup_graph_triangles"](spark, sf_dir))
            best = min(best, time.time() - t)
        print(f"{'triangles tail only (pairs stage warm)':58s} {best:7.3f} s")
        reset_stage_caches()

    if "minhash" in sections:
        print("== 3. minhash verify stage ==")
        par = spark.sparkContext.defaultParallelism

        def docs_rep():
            return docs().repartition(par, "doc_id")

        def cands():
            return lsh_band_pairs_md5(
                minhash_signatures_md5(shingle_rows(docs_rep(), n=3), 32), 32, 8)

        spark.sparkContext.setJobDescription("mh: candidates")
        timed(spark, "through lsh_band_pairs_md5", cands, repeats)
        spark.sparkContext.setJobDescription("mh: verify")
        timed(spark, "+ verify (uncached candidates)",
              lambda: verified_jaccard_pairs(docs_rep(), cands(), n=3,
                                             threshold=0.5),
              repeats)
        spark.sparkContext.setJobDescription("mh: full query")
        timed(spark, "minhash_lsh_pairs (query, cold)",
              lambda: QUERIES["minhash_lsh_pairs"](spark, sf_dir), repeats)

    if "ngram" in sections:
        print("== 4. ngram pair decomposition ==")
        from fintech_lakehouse_spark.functions.text import word_shingles

        def exploded():
            return (word_shingles(docs(), n=3)
                    .select("doc_id", F.explode("shingles").alias("shingle"))
                    .repartition("shingle"))

        spark.sparkContext.setJobDescription("ng: exploded+repart")
        timed(spark, "shingles exploded + repartition", exploded, repeats)

        def anti():
            e = exploded()
            hot = (e.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
                   .filter(F.col("df") > 100).select("shingle"))
            return e.join(hot, "shingle", "left_anti")

        spark.sparkContext.setJobDescription("ng: hot anti")
        timed(spark, "+ hot-shingle anti join", anti, repeats)

        def pairs():
            e = anti()
            a, b = e.alias("a"), e.alias("b")
            return (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                           & (F.col("a.doc_id") < F.col("b.doc_id")))
                    .groupBy(F.col("a.doc_id").alias("doc_a"),
                             F.col("b.doc_id").alias("doc_b"))
                    .agg(F.count(F.lit(1)).alias("n_shared")))

        spark.sparkContext.setJobDescription("ng: self join")
        timed(spark, "+ self-join pair counts", pairs, repeats)
        spark.sparkContext.setJobDescription("ng: full")
        timed(spark, "ngram_containment_pairs (query)",
              lambda: QUERIES["ngram_containment_pairs"](spark, sf_dir), repeats)
        timed(spark, "ngram_jaccard_pairs (query)",
              lambda: QUERIES["ngram_jaccard_pairs"](spark, sf_dir), repeats)

    if "bloomaudit" in sections:
        print("== 5. bloom_decontamination_audit ==")
        spark.sparkContext.setJobDescription("ba: exact side")
        timed(spark, "test_set_decontamination (query)",
              lambda: QUERIES["test_set_decontamination"](spark, sf_dir),
              repeats)
        spark.sparkContext.setJobDescription("ba: bloom side")
        timed(spark, "bloom_decontamination (query)",
              lambda: QUERIES["bloom_decontamination"](spark, sf_dir), repeats)
        spark.sparkContext.setJobDescription("ba: audit full")
        timed(spark, "bloom_decontamination_audit (query)",
              lambda: QUERIES["bloom_decontamination_audit"](spark, sf_dir),
              repeats)

    if "floor" in sections:
        print("== floor reference (relational) ==")
        for q in ("regional_revenue", "pricing_summary", "supplier_performance"):
            spark.sparkContext.setJobDescription(q)
            timed(spark, q, lambda n=q: QUERIES[n](spark, sf_dir), repeats)


if __name__ == "__main__":
    main()

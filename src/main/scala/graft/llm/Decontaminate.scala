package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark DECONTAMINATION — the n-gram overlap check every serious
  * training-data pipeline runs before a model ships: a training doc
  * that contains any n-gram of an evaluation benchmark is flagged (and
  * usually dropped), because eval numbers on contaminated data measure
  * memory, not capability. This is the published GPT-3/PaLM discipline
  * (13-gram collision there; `n` is the caller's knob) re-expressed
  * Spark-first.
  *
  * Semantics: texts normalize through [[TextOps.norm]] (lowercase,
  * whitespace-collapse), an n-gram is `n` CONSECUTIVE whitespace tokens
  * joined by single spaces, and a hit is exact string equality of
  * grams — token-boundary-safe by construction (equivalently: the
  * space-padded normalized doc contains `' ' + gram + ' '` as a
  * substring, which is what the oracle checks with a completely
  * different algorithm).
  *
  * 100 TB shape: the benchmark side is small by nature (evals are
  * megabytes) — its distinct gram set BROADCASTS, the corpus side is a
  * pure flatMap (explode) feeding a map-side semi-join, so the corpus
  * NEVER shuffles; only the matched grams (tiny) shuffle into the
  * per-doc count. The probe is string-keyed (exact, no false
  * positives); when broadcast width matters, hash the gram set 64-bit
  * and re-verify matches on the string — the semantics here are the
  * contract either way.
  *
  * Relation to `q_contamination` (TextQueries): that entry pins the
  * same broadcast-semi-probe SHAPE inline at fixed n=3 shingles; this
  * packages the verb — arbitrary `n`, distinct-hit counts, and the
  * [[clean]] pipeline action — under its own boundary-exactness oracle.
  */
object Decontaminate {

  /** Per-doc contamination report: `(idCol, n_hits)` for every corpus
    * doc that contains at least one benchmark n-gram; `n_hits` counts
    * DISTINCT benchmark grams present (a gram repeated inside one doc
    * counts once).
    */
  def flag(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, n: Int): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    // n-grams through the shared shingle kernel (TextOps.shinglesKOf)
    val benchGrams = bench
      .select(split(TextOps.norm(col(textCol)), " ").as("__toks"))
      .select(explode(TextOps.shinglesKOf(col("__toks"), n)).as("__g")).distinct()
    val corpusGrams = corpus
      .select(col(idCol), split(TextOps.norm(col(textCol)), " ").as("__toks"))
      .select(col(idCol), explode(TextOps.shinglesKOf(col("__toks"), n)).as("__g"))
    // broadcast semi-probe: the corpus side stays map-side; only hits
    // reach the count shuffle
    corpusGrams
      .join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .groupBy(col(idCol))
      .agg(countDistinct(col("__g")).as("n_hits"))
  }

  /** The corpus with contaminated docs REMOVED — the pipeline verb. */
  def clean(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, n: Int): DataFrame =
    corpus.join(flag(corpus, bench, textCol, idCol, n).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** FUZZY decontamination — NEAR-VERBATIM contamination that the exact
    * [[flag]] misses: a paraphrased or lightly edited benchmark item
    * shares most-but-not-all of its n-grams with the doc that leaked
    * it, so no single gram hit is conclusive but the FRACTION is. A
    * (doc, bench item) pair is contaminated when the CONTAINMENT of
    * the item's distinct n-grams in the doc's gram set reaches the
    * threshold: `|grams(bench) ∩ grams(doc)| / |grams(bench)| ≥
    * tauNum/tauDen`. Containment (not Jaccard) is the right asymmetric
    * measure — a 100-token eval item hidden in a 100k-token doc should
    * flag regardless of how much other text surrounds it. The
    * threshold is an exact RATIONAL compared in integer arithmetic
    * (`n_hits·tauDen ≥ n_bench·tauNum`), so the DuckDB oracle and this
    * plan agree bit-for-bit with no float boundary.
    *
    * This is EXACT, not banded: MinHash banding would trade recall for
    * speed the problem doesn't need — the bench side is small by
    * nature (evals are megabytes), so the full (gram → bench item)
    * relation BROADCASTS and the corpus side stays a pure map-side
    * explode+probe, exactly [[flag]]'s 100 TB shape. Only the matched
    * grams (tiny) shuffle into the per-(doc, bench) count; the corpus
    * never shuffles and is never deduplicated corpus-wide (distinctness
    * is enforced on the post-probe hits only).
    *
    * Returns `(idCol, bench_id, n_hits, n_bench_grams)` for pairs at or
    * over the threshold; bench items with fewer than `n` tokens have no
    * grams and cannot flag anything.
    */
  def flagFuzzy(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, benchIdCol: String, n: Int,
      tauNum: Int, tauDen: Int): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold must be a rational in (0, 1]: $tauNum/$tauDen")
    val benchGrams = bench
      .select(col(benchIdCol).as("bench_id"),
        split(TextOps.norm(col(textCol)), " ").as("__toks"))
      .select(col("bench_id"), explode(TextOps.shinglesKOf(col("__toks"), n)).as("__g"))
      .distinct()
    val benchSizes = benchGrams.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_bench_grams"))
    val corpusGrams = corpus
      .select(col(idCol), split(TextOps.norm(col(textCol)), " ").as("__toks"))
      .select(col(idCol), explode(TextOps.shinglesKOf(col("__toks"), n)).as("__g"))
    corpusGrams
      .join(broadcast(benchGrams), Seq("__g"))
      .groupBy(col(idCol), col("bench_id"))
      .agg(countDistinct(col("__g")).as("n_hits"))
      .join(broadcast(benchSizes), Seq("bench_id"))
      .filter(col("n_hits") * lit(tauDen.toLong) >=
        col("n_bench_grams") * lit(tauNum.toLong))
      .select(col(idCol), col("bench_id"), col("n_hits"), col("n_bench_grams"))
  }
}

package graft

import graft.llm.Dedup
import org.apache.spark.sql.functions._

/** Scaling evidence for the MinHash-LSH dedup path (COVERAGE.md
  * "MinHash-LSH near-dup"): candidate generation joins on (band,
  * band_key) buckets, so total cost is signatures (linear in docs) +
  * Σ bucket² (bounded by dup density, not corpus²). If that claim holds,
  * wall time grows LINEARLY with doc count at fixed dup density — an
  * all-pairs or hot-bucket degeneration would bend the curve
  * super-linearly.
  *
  * Synthetic corpus, fully distributed generation (no testdata
  * dependence, any size): doc tokens are xxhash64-derived words over a
  * 50k vocabulary; every 10th doc is a near-copy of its predecessor with
  * the first token replaced (fixed 10% dup density at every size, shingle
  * Jaccard 5/7 ≈ 0.71 — inside the banding's s-curve).
  *
  * Usage (ONE size per invocation — fresh JVM per curve point, so JIT/GC
  * state from a smaller point never flatters a bigger one):
  *   sbt "runMain graft.DedupScaleBench [rows=1000000] [runs=3] [partitions=32]"
  * Prints one JSON line {"metric":"dedup_scale",...}.
  *
  * `partitions` is the scale dial: each task sorts its rows/partitions
  * signature rows for the per-id min fold, so at fixed partitions the
  * per-task sort grows with corpus size. On a real cluster partitions
  * track input splits automatically; in local[] range generation they
  * must be set.
  */
object DedupScaleBench {

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(1000000L)
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    val parts = args.lift(2).map(_.toInt).getOrElse(32)
    val spark = Engine.session()
    import spark.implicits._

    val vocab = 50000L
    val nTok = 8
    val docs = spark.range(0, rows, 1, parts).select($"id".as("doc_id"),
      concat_ws(" ", (0 until nTok).map { j =>
        // doc ids ending in 9 reuse the PREVIOUS doc's tokens except
        // token 0 — a deterministic 10% near-dup density
        val base =
          if (j == 0) $"id"
          else when($"id" % 10 === 9, $"id" - 1).otherwise($"id")
        concat(lit("w"), pmod(xxhash64(base * nTok + j), lit(vocab)))
      }: _*).as("text"))

    def job(): Long = Dedup.minhashCandidates(docs, "text", "doc_id").count()

    val nCands = job() // warmup + candidate volume
    val times = (1 to runs).map { _ =>
      val t0 = System.nanoTime(); job(); (System.nanoTime() - t0) / 1e9
    }.sorted
    val med = times(times.length / 2)
    println(s"""{"metric":"dedup_scale","rows":$rows,"runs":$runs,"partitions":$parts,"candidates":$nCands,"median_sec":$med,"docs_per_sec":${(rows / med).toLong}}""")
    spark.stop()
  }
}

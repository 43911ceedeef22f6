package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Dedup, Similarity}

/** `llm_curation`: near-duplicate removal and similarity search over a
  * seeded corpus. A round is one dedup pass (`Dedup.minhashCandidates`,
  * then `Dedup.ngramJaccard` verification, then
  * `Dedup.connectedComponents`) and [[SearchesPerRound]] query batches
  * through `Similarity.srpTopK`.
  */
final class LlmCuration(ctx: Ctx) extends Workload {
  import LlmCuration._

  private val spark = ctx.spark

  /** One generated corpus with its queries, on disk. */
  private final class Inst(name: String, val c: Gen.Corpus) {
    val corpusDir: String = ctx.dir(s"llm/${name}_corpus")
    val queryDir: String = ctx.dir(s"llm/${name}_queries")
    val plantedPairs: Set[(Long, Long)] =
      c.clusters.flatMap(m => for (a <- m; b <- m if a < b) yield (a, b)).toSet
    def docs: DataFrame = spark.read.parquet(corpusDir)
    def queries(batch: Int): DataFrame =
      spark.read.parquet(queryDir).filter(col("batch") === batch).drop("batch")

    val docSchema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType), StructField("vec", ArrayType(DoubleType))))
    spark.createDataFrame(spark.sparkContext.parallelize(
        c.docs.map { case (id, t, v) => Row(id, t, v.toSeq) }, CorpusFiles), docSchema)
      .write.parquet(corpusDir)
    val qSchema = StructType(Seq(StructField("batch", IntegerType),
      StructField("id", LongType), StructField("vec", ArrayType(DoubleType))))
    spark.createDataFrame(spark.sparkContext.parallelize(
        c.queries.zipWithIndex.flatMap { case (qs, b) =>
          qs.map { case (id, v) => Row(b, id, v.toSeq) } }, 1), qSchema)
      .write.parquet(queryDir)
  }

  private var live: Inst = _
  private var warm: Inst = _
  private var searches = 0

  /** Warmup runs the same plans over a smaller corpus of its own. */
  def generateWarm(): Unit =
    warm = new Inst("warm", Gen.corpus(ctx.args.seed + 1, Docs / 10, Clusters / 10,
      DecoyGroups / 10, Dims, 4, QueriesPerBatch, Neighbours))

  def generate(): Unit =
    live = new Inst("live", Gen.corpus(ctx.args.seed, Docs, Clusters, DecoyGroups, Dims,
      QueryBatches, QueriesPerBatch, Neighbours))

  /** One dedup pass: candidate pairs, verified pairs, and the components
    * of the verified-pair graph, as (id, component).
    */
  private def dedup(in: Inst): (DataFrame, DataFrame, Array[Row]) = {
    val tr = ctx.tracer
    val d = in.docs.select("id", "text")
    val cand = tr.span("llm.minhash")(
      Dedup.minhashCandidates(d, "text", "id").localCheckpoint())
    val verified = tr.span("llm.verify")(
      Dedup.ngramJaccard(d, cand, "text", "id")
        .filter(col("jaccard") >= MinJaccard).select("id_a", "id_b").localCheckpoint())
    val comps = tr.span("llm.cc")(Dedup.connectedComponents(verified).collect())
    (cand, verified, comps)
  }

  private def search(in: Inst, batch: Int, k: Int = K): Array[Row] =
    Similarity.srpTopK(in.docs.select("id", "vec"), in.queries(batch), "vec", "id", k,
      bitsPerTable = BitsPerTable, dims = Dims).collect()

  /** The first warmup round runs a pass and a search; the later ones
    * repeat a search, so their times can level off.
    */
  def warmupRound(i: Int): Unit = {
    if (i == 0) dedup(warm)
    search(warm, i % 4)
    ()
  }

  private val candPerVerified = ArrayBuffer[Double]()

  def round(i: Int): Boolean = {
    val t0 = System.nanoTime()
    ctx.op("llm.dedup", Batch)(dedup(live)).foreach { case (candDf, verifiedDf, comps) =>
      ctx.rec.rows += Docs
      ctx.rec.rowsMs += (System.nanoTime() - t0) / 1e6
      val cand = candDf.select("id_a", "id_b").collect()
      val verified = verifiedDf.collect()
      val candSet = cand.map(r => (r.getLong(0), r.getLong(1))).toSet
      val missed = live.plantedPairs -- candSet
      ctx.check(missed.isEmpty, s"round $i: ${missed.size} planted pairs are not candidates")
      val clusters = comps.groupBy(_.getLong(1)).values
        .map(_.map(_.getLong(0)).toSet).toSet
      ctx.check(clusters == live.c.clusters.map(_.toSet).toSet,
        s"round $i: ${clusters.size} clusters, planted ${live.c.clusters.length}")
      if (ctx.tracer.on) candPerVerified += cand.length.toDouble / math.max(1, verified.length)
    }
    (0 until SearchesPerRound).foreach { _ =>
      val b = searches % QueryBatches
      searches += 1
      ctx.op("llm.search", Query)(search(live, b)).foreach { rows =>
        val byQuery = rows.groupBy(_.getLong(0))
        val ok = byQuery.forall { case (_, rs) =>
          val ranked = rs.sortBy(_.getInt(1))
          ranked.map(_.getInt(1)).toSeq == (1 to ranked.length) && ranked.length <= K &&
            ranked.map(_.getDouble(3)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
        }
        ctx.check(ok && byQuery.keySet.subsetOf(live.c.queries(b).map(_._1).toSet),
          s"search batch $b: malformed top-$K result")
      }
    }
    true
  }

  /** Recall@K of the SRP search against exact top-K, over [[RecallBatches]]. */
  private lazy val recall: Double = {
    val pairs = (0 until RecallBatches).map { b =>
      val exact = Similarity.bruteTopK(live.docs.select("id", "vec"), live.queries(b),
        "vec", "id", K).select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ann = search(live, b).map(r => (r.getLong(0), r.getLong(2))).toSet
      ((exact intersect ann).size, exact.size)
    }
    pairs.map(_._1).sum.toDouble / math.max(1, pairs.map(_._2).sum)
  }

  def finalCheck(): Unit =
    if (recall < MinRecall) {
      ctx.rec.failAll(f"recall@$K $recall%.3f below the floor $MinRecall")
    }

  def layerMetrics(): Seq[(String, Double)] = {
    // Rows scored: every candidate pair SRP ranks, from a top-k as deep as
    // the candidate list, for one batch.
    val scored = search(live, 0, Int.MaxValue).length
    Seq(
      "llm.candidates_per_verified_pair" -> Stats.mean(candPerVerified.toSeq),
      "llm.search_rows_scored_per_query" -> scored.toDouble / QueriesPerBatch,
      "llm.recall_at_k" -> recall)
  }
}

object LlmCuration {
  val Docs = 6000
  val CorpusFiles = 8
  val Clusters = 100
  val DecoyGroups = 60
  val Dims = 64
  val BitsPerTable = 8
  val QueryBatches = 32
  val QueriesPerBatch = 16
  val Neighbours = 5
  val K = 5
  val SearchesPerRound = 3
  val RecallBatches = 1
  val MinJaccard = 0.8
  val MinRecall = 0.95
}

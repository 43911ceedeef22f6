package graft.llm

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted benchmark-gram index — [[Decontaminate]]'s incremental
  * sibling (the persisted-index family's tenth member): evaluation
  * sets ACCRETE — a new benchmark ships every quarter — and the screen
  * must not re-shingle every old benchmark per run. The state is the
  * distinct n-gram set of every bench batch folded so far (O(distinct
  * grams) — megabytes for any real eval suite); `addBench` is one
  * distinct-union fold, idempotent under batch replay; `flag` probes
  * the STORED set with the same broadcast semi-join as the one-shot.
  * Law (spec + oracle): `addBench(A); addBench(B); flag(corpus)` ==
  * `Decontaminate.flag(corpus, A ∪ B)` exactly.
  *
  * The gram order `n` is RECORDED in the state and re-validated on
  * every call — mixing 6-gram state with a 13-gram probe would
  * silently screen nothing.
  */
object IncrementalDecontaminate {

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def checkN(spark: SparkSession, statePath: String, n: Int): Unit = {
    val stored = spark.read.parquet(statePath).select(col("n")).limit(1).collect()
    stored.headOption.foreach { r =>
      require(r.getInt(0) == n,
        s"gram index at $statePath was built with n=${r.getInt(0)}, got n=$n")
    }
  }

  /** Fold a new benchmark's grams into the stored set (distinct union —
    * replaying a batch is a state no-op). Returns the stored distinct
    * gram count after the fold.
    */
  def addBench(spark: SparkSession, bench: DataFrame, textCol: String,
      n: Int, statePath: String): Long = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    val f = fs(spark, statePath)
    graft.ops.Upsert.recover(f, statePath)
    val batch = bench
      .select(split(TextOps.norm(col(textCol)), " ").as("__toks"))
      .select(explode(TextOps.shinglesKOf(col("__toks"), n)).as("__g"))
      .distinct().withColumn("n", lit(n))
    val merged =
      if (!f.exists(new Path(statePath))) batch
      else {
        checkN(spark, statePath, n)
        spark.read.parquet(statePath).unionByName(batch).distinct()
      }
    val out = merged.localCheckpoint(true)
    IncrementalDedup.swapWrite(spark, f, out, statePath)
    out.count()
  }

  /** [[Decontaminate.flag]] against the stored gram set. */
  def flag(spark: SparkSession, corpus: DataFrame, textCol: String,
      idCol: String, n: Int, statePath: String): DataFrame = {
    checkN(spark, statePath, n)
    val benchGrams = spark.read.parquet(statePath).select(col("__g"))
    corpus
      .select(col(idCol), split(TextOps.norm(col(textCol)), " ").as("__toks"))
      .select(col(idCol), explode(TextOps.shinglesKOf(col("__toks"), n)).as("__g"))
      .join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .groupBy(col(idCol))
      .agg(countDistinct(col("__g")).as("n_hits"))
  }
}

package graft

import graft.llm.{Dedup, TextOps}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The built-in compositions the native shingle and MinHash kernels
  * replaced, kept as parity references (and to write a band-key index
  * exactly as earlier versions of the engine persisted it).
  */
object LegacyShingles {

  /** k-grams as the `transform(sequence, concat_ws(element_at…))` lambda. */
  def shinglesK(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** n-grams as the `transform(sequence, array_join(slice…))` lambda. */
  def gramsJoin(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - lit(n)),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Long-form signature (id, seed, mh): explode one row per shingle,
    * 16 conditional md5 mins per id, unpivoted with `stack`.
    */
  def signature(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sh = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(shinglesK(col("__toks"), 3)).as("sh"))
    val mins = (0 until Dedup.NumHashes).map(i =>
      min(md5(concat(lit(s"s$i|"), col("sh")))).as(s"mh$i"))
    val stackExpr = s"stack(${Dedup.NumHashes}, " +
      (0 until Dedup.NumHashes).map(i => s"$i, mh$i").mkString(", ") + ") AS (seed, mh)"
    sh.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), expr(stackExpr))
  }

  /** (id, band, band_key) from the long-form signature via an (id, band)
    * groupBy.
    */
  def bandKeys(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val rpb = Dedup.RowsPerBand
    val parts = (0 until rpb).map(r =>
      max(when(pmod(col("seed"), lit(rpb)) === r, col("mh"))).as(s"p$r"))
    signature(docs, textCol, idCol)
      .groupBy(col(idCol), floor(col("seed") / rpb).cast("int").as("band"))
      .agg(parts.head, parts.tail: _*)
      .select(col(idCol), col("band"),
        md5(concat_ws("|", (0 until rpb).map(r => col(s"p$r")): _*)).as("band_key"))
  }
}

/** Native `graft_shingles` / `graft_minhash` kernels: parity with the
  * compositions they replace (edge cases included), on both the codegen
  * and the interpreted expression paths, and the SQL registration.
  */
class ShingleKernelSpec extends SparkSpec {

  import spark.implicits._

  /** Runs `body` once under whole-stage codegen with generated
    * projections only, once with both turned off (interpreted `eval`).
    */
  private def onBothPaths(body: String => Unit): Unit = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    Seq("codegen" -> Seq("true", "CODEGEN_ONLY"), "interpreted" -> Seq("false", "NO_CODEGEN"))
      .foreach { case (path, values) =>
        keys.zip(values).foreach { case (k, v) => spark.conf.set(k, v) }
        try body(path) finally keys.foreach(spark.conf.unset)
      }
  }

  /** RDD-backed, so the projections run in tasks (a local relation would
    * be folded on the driver and never reach the generated code).
    */
  private def tokenRows(arrays: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(arrays.zipWithIndex.map { case (a, i) => Row(i, a) }, 3),
      StructType(Seq(StructField("i", IntegerType),
        StructField("toks", ArrayType(StringType, containsNull = true)))))

  private val edgeArrays: Seq[Seq[String]] = Seq(
    null,
    Seq(),
    Seq("a"),
    Seq("a", "b"),
    Seq("a", "b", "c"),
    Seq("the", "quick", "brown", "fox", "jumps", "over", "the", "lazy", "dog"),
    Seq("a", null, "b", "c", "d"),
    Seq(null, null, null, null, null),
    Seq(null, "x", null, "y", null, "z"),
    Seq("", "", "a", "", ""),
    Seq("", ""),
    Seq("héllo", "wörld", "日本語", "🙂", "naïve", "x", "ß"),
    Seq.tabulate(300)(i => s"w${i % 17}"))

  private def strings(r: Row, i: Int): Seq[String] =
    if (r.isNullAt(i)) null else r.getSeq[String](i)

  test("graft_shingles equals the transform/concat_ws lambda for k = 2, 3, 5") {
    val df = tokenRows(edgeArrays)
    onBothPaths { path =>
      for (k <- Seq(2, 3, 5)) {
        val rows = df.select($"i", TextOps.shinglesKOf($"toks", k).as("got"),
            LegacyShingles.shinglesK($"toks", k).as("want"),
            LegacyShingles.gramsJoin($"toks", k).as("join"))
          .collect()
        assert(rows.length == edgeArrays.length)
        rows.foreach { r =>
          val (got, want) = (strings(r, 1), strings(r, 2))
          assert(got == want, s"$path k=$k row ${r.getInt(0)}: got $got, want $want")
          assert(got == strings(r, 3), s"$path k=$k row ${r.getInt(0)}: array_join form")
        }
      }
      // the edge cases the parity covers, spelled out once
      val k2 = df.select($"i", TextOps.bigramsOf($"toks")).collect()
        .map(r => r.getInt(0) -> strings(r, 1)).toMap
      assert(k2(0) == Seq() && k2(2) == Seq(), s"$path: NULL and short arrays give []")
      assert(k2(6) == Seq("a", "b", "b c", "c d"), s"$path: NULL tokens are skipped")
      assert(k2(7) == Seq("", "", "", ""), s"$path: all-NULL grams are empty strings")
      assert(k2(9) == Seq(" ", " a", "a ", " "), s"$path: empty tokens are kept")
      assert(k2(11).head == "héllo wörld", s"$path: non-ASCII bytes pass through")
    }
  }

  /** A corpus exercising the signature's edge cases: ids repeated with
    * different texts (their shingles union), docs under 3 tokens, NULL
    * text, a repeated id whose only other row is NULL, and a random
    * small-vocabulary body that collides densely.
    */
  private val corpusRows: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e", "ü", "日本")
    val random = (0 until 60).map { i =>
      (100L + i % 45, (0 until rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (1L, "a second body under the same id"),
      (2L, "two words"),
      (3L, null: String),
      (4L, "only   three  tokens"),
      (4L, null: String),
      (5L, ""),
      (6L, "the quick brown fox jumps over the lazy dog")) ++ random
  }

  private def corpus(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, t) => Row(id, t) }, 4),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private def bandSet(df: DataFrame): Set[(Long, Int, String)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet

  test("graft_minhash band keys equal the explode/md5/min/stack/groupBy plan") {
    val docs = corpus(corpusRows)
    assert(corpusRows.groupBy(_._1).exists(_._2.size > 1), "corpus repeats ids")
    val want = bandSet(LegacyShingles.bandKeys(docs, "text", "doc_id"))
    assert(want.map(_._1).contains(1L) && !want.map(_._1).exists(Set(2L, 3L, 5L)),
      "reference sanity: short, empty and NULL docs have no bands")
    onBothPaths { path =>
      val got = bandSet(Dedup.bandKeys(docs, "text", "doc_id"))
      assert(got == want, s"$path: extra=${got -- want} missing=${want -- got}")
    }
  }

  test("graft_minhash equals the per-seed md5 minimum of each document") {
    val docs = corpus(corpusRows.groupBy(_._1).values.filter(_.size == 1).flatten.toSeq)
    val want = LegacyShingles.signature(docs, "text", "doc_id").collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(1)).map(_.getString(2)).toSeq
      }
    onBothPaths { path =>
      val got = docs.select($"doc_id",
          call_function("graft_minhash", TextOps.tokens($"text"), lit(Dedup.NumHashes)))
        .collect().map(r => r.getLong(0) -> strings(r, 1)).toMap
      assert(got.filter(_._2 != null) == want, s"$path: signatures differ")
      assert(got.filter(_._2 == null).keySet == got.keySet -- want.keySet,
        s"$path: docs without shingles must get a NULL signature")
    }
  }

  test("callable from SQL; arguments are checked") {
    val r = spark.sql(
      """SELECT graft_shingles(split('a b c d', ' '), 3) AS g3,
        |       graft_shingles(CAST(NULL AS array<string>), 2) AS gnull,
        |       graft_minhash(split('x y z', ' '), 2) AS mh,
        |       array(md5('s0|x y z'), md5('s1|x y z')) AS want,
        |       graft_minhash(split('x y', ' '), 2) AS short
        |""".stripMargin).collect()(0)
    assert(r.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(r.getSeq[String](1) == Seq())
    assert(r.getSeq[String](2) == r.getSeq[String](3))
    assert(r.isNullAt(4))
    for (bad <- Seq("graft_shingles(array('a'), 0)", "graft_minhash(array('a'), CAST(id AS int))",
        "graft_shingles(array(1, 2), 2)"))
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $bad FROM range(1)").collect()
      }
    intercept[IllegalArgumentException] {
      spark.sql("SELECT graft_minhash(array('a'))").collect()
    }
  }
}

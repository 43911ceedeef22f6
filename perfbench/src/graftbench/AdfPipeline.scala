package graftbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{PipelineRunner, QueryCatalog, Sanitize}
import graft.ops.PipelineRunner._
import graft.sources.{ExcelSource, XlsSource}

/** `adf_pipeline`: the reference's own traffic. One operation is one
  * pipeline run, the four router verbs in order through
  * `PipelineRunner.run`: ExcelToCsv over a fresh drop of `.xlsx` and
  * legacy `.xls` workbooks, LoadTable upserting the sheets on `k` into a
  * keyed table whose size holds steady, CallQuery running a registered
  * query, and Cleanup sweeping seeded stamped container dirs.
  */
final class AdfPipeline(ctx: Ctx) extends Workload {
  import AdfPipeline._

  private val spark = ctx.spark
  private val seed = ctx.args.seed
  private val tables = ctx.dir("tables")
  private val expected = mutable.Map[Int, (Seq[String], Boolean)]()

  private val Schema = StructType(Seq(
    StructField("k", DoubleType), StructField("name", StringType),
    StructField("city", StringType), StructField("amount", DoubleType),
    StructField("note", StringType)))

  private def targetDf(rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(r =>
      Row(r(0).toDouble, r(1), r(2), r(3).toDouble, r(4))), 1), Schema)

  def generateWarm(): Unit = {
    targetDf(Gen.adfTarget(seed + 1, TargetRows / 4)).write.parquet(ctx.dir("warm_target"))
    // The registered queries run over the engine's table catalog: one
    // parquet file per table name. revenue_by_nation reads three of them;
    // the rest only need to exist.
    Io.mkdirs(tables)
    val s = seed
    Io.writeSingleParquet(spark.range(LineItems).select(
      pmod(xxhash64(col("id"), lit(s)), lit(Suppliers.toLong)).as("l_suppkey"),
      (pmod(xxhash64(col("id"), lit(s + 1)), lit(10000000L)) / 100.0).as("l_extendedprice"),
      (pmod(xxhash64(col("id"), lit(s + 2)), lit(11L)) / 100.0).as("l_discount")),
      s"$tables/lineitem.parquet")
    Io.writeSingleParquet(spark.range(Suppliers).select(col("id").as("s_suppkey"),
      pmod(xxhash64(col("id"), lit(s + 3)), lit(25L)).cast("int").as("s_nationkey")),
      s"$tables/supplier.parquet")
    Io.writeSingleParquet(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name")), s"$tables/nation.parquet")
    Io.writeSingleParquet(spark.range(1).select(col("id").as("unused")), s"$tables/unused")
    graft.Tables.names.filterNot(Set("lineitem", "supplier", "nation")).foreach(n =>
      Io.copy(new File(s"$tables/unused"), s"$tables/$n.parquet"))
    Io.mkdirs(ctx.dir("warm_stamps"))
  }

  def generate(): Unit = {
    val initial = Gen.adfTarget(seed, TargetRows)
    initial.zipWithIndex.foreach { case (r, k) => expected(k) = (r, false) }
    targetDf(initial).write.parquet(ctx.dir("target"))
    Io.mkdirs(ctx.dir("stamps"))
    queryRows = expectedQuery().count()
  }

  private def writeDrop(run: Int, targetRows: Int, in: String,
      stamps: String): (Seq[Gen.Workbook], Seq[(String, Boolean)]) = {
    Io.mkdirs(in)
    val drop = Gen.adfDrop(seed, run, targetRows, Workbooks, Sheets, RowsPerSheet)
    drop.foreach { wb =>
      if (wb.legacy) XlsSource.writeWorkbook(s"$in/${wb.file}", wb.sheets)
      else ExcelSource.writeWorkbook(s"$in/${wb.file}", wb.sheets)
    }
    val dirs = Gen.stampDirs(seed, run, Today)
    dirs.foreach { case (n, _) => Io.mkdirs(s"$stamps/$n") }
    (drop, dirs)
  }

  private def step(c: StepConfig): StepReport = PipelineRunner.run(spark, c) match {
    case Right(r) => r
    case Left(e) => throw new IllegalStateException(s"${e.step}: ${e.message}")
  }

  /** One pipeline run; returns the reports of the four verbs and the
    * CallQuery time.
    */
  private def pipeline(prefix: String, target: String, stamps: String): (Seq[StepReport], Double) = {
    val in = ctx.dir(s"${prefix}in")
    val csv = ctx.dir(s"${prefix}csv")
    val tr = ctx.tracer
    val r1 = tr.span("pipeline.excel_to_csv")(step(ExcelToCsv(in, csv)))
    val r2 = tr.span("pipeline.load_table")(step(LoadTable(s"$csv/*.csv", target, "upsert", Seq("k"))))
    val q0 = System.nanoTime()
    val r3 = tr.span("pipeline.call_query")(step(CallQuery(tables, QueryName)))
    val queryMs = (System.nanoTime() - q0) / 1e6
    val r4 = tr.span("pipeline.cleanup")(step(Cleanup(Seq(in, csv), Some(stamps),
      "ls", "df", DayDiff, Today)))
    (Seq(r1, r2, r3, r4), queryMs)
  }

  def warmupRound(i: Int): Unit = {
    writeDrop(-1 - i, TargetRows / 4, ctx.dir("warm_in"), ctx.dir("warm_stamps"))
    pipeline("warm_", ctx.dir("warm_target"), ctx.dir("warm_stamps"))
    ()
  }

  private var queryRows = 0L

  def round(i: Int): Boolean = {
    val stamps = ctx.dir("stamps")
    val (drop, dirs) = writeDrop(i, TargetRows, ctx.dir("in"), stamps)
    val t0 = System.nanoTime()
    ctx.op("adf.run", Batch)(pipeline("", ctx.dir("target"), stamps)).foreach {
      case (reports, queryMs) =>
        val ms = (System.nanoTime() - t0) / 1e6
        ctx.rec.samples += ctx.rec.Sample("pipeline.call_query", Query, queryMs, ctx.tracer.on)
        val rows = drop.map(_.sheets.map(_._2.length).sum).sum
        ctx.rec.rows += rows
        ctx.rec.rowsMs += ms
        val detail = reports.map(_.detail)
        ctx.check(detail(0) == s"${Workbooks * Sheets} sheet csv(s) written",
          s"run $i ExcelToCsv: ${detail(0)}")
        ctx.check(detail(2) == s"query $QueryName returned $queryRows rows",
          s"run $i CallQuery: ${detail(2)}")
        val swept = dirs.count(_._2)
        ctx.check(detail(3) == s"swept $swept dir(s), reset 2 work dir(s)",
          s"run $i Cleanup: ${detail(3)}")
        val wrong = dirs.filter { case (n, gone) => new File(s"$stamps/$n").exists() == gone }
        ctx.check(wrong.isEmpty, s"run $i retention left or removed the wrong dirs: $wrong")
        drop.flatMap(_.sheets.flatMap(_._2)).foreach(r => expected(r.head.toInt) = (r, true))
    }
    true
  }

  /** The registered query recomputed with plain DataFrame calls. */
  private def expectedQuery(): DataFrame = {
    def t(n: String) = spark.read.parquet(s"$tables/$n.parquet")
    t("lineitem").join(t("supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t("nation"), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Row count and an order-independent hash of a frame of the target's
    * columns.
    */
  private def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(Gen.AdfColumns.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def finalCheck(): Unit = {
    // The target must equal the last write per key: the generated row,
    // sanitized like ExcelToCsv does, for keys a pipeline run updated.
    val raw = expected.toSeq.sortBy(_._1).map { case (_, (r, piped)) =>
      Row(r(0).toDouble, r(1), r(2), r(3).toDouble, r(4), piped) }
    val rawDf = spark.createDataFrame(spark.sparkContext.parallelize(raw, 4),
      Schema.add("piped", BooleanType))
    def clean(c: String) = when(col("piped"),
      translate(Sanitize.cell(col(c)), "|", " ")).otherwise(col(c)).as(c)
    val want = fingerprint(rawDf.select(col("k"), clean("name"), clean("city"),
      col("amount"), clean("note")))
    val got = fingerprint(spark.read.parquet(ctx.dir("target")))
    if (want != got) {
      ctx.rec.failAll(s"target (rows, hash) $got != expected $want")
    }
    val q = QueryCatalog.run(spark, tables, QueryName).collect().map(_.toSeq).toSet
    val e = expectedQuery().collect().map(_.toSeq).toSet
    if (q != e) {
      ctx.rec.failAll(s"$QueryName differs from its DataFrame recomputation")
    }
  }

  def layerMetrics(): Seq[(String, Double)] = Seq.empty
}

object AdfPipeline {
  val TargetRows = 20000
  val Workbooks = 4
  val Sheets = 2
  val RowsPerSheet = 250
  val LineItems = 200000L
  val Suppliers = 200L
  val QueryName = "revenue_by_nation"
  val DayDiff = -5
  val Today: LocalDate = LocalDate.of(2024, 6, 1)
}

package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.Versioned
import graft.sources.VersionedRelation
import graft.streaming.Streams

/** `lake_mixed`: writes and reads on one versioned table in a fixed mix.
  * Every round merges one change-feed file through
  * `Streams.mergeStreamVersioned` (one micro-batch, one commit) and runs
  * two point lookups and one narrow range scan over SQL. The rounds come
  * in cycles of two: the first adds a SQL DELETE, the second an OPTIMIZE
  * and a VACUUM (maintenance, timed apart from the writes) and then a
  * count/min/max, which the compacted snapshot answers from stats alone. A driver-side model of the table (the fold of the feed
  * and the deletes) checks every read.
  */
final class LakeMixed(ctx: Ctx) extends Workload {
  import LakeMixed._

  override val cycle = 2

  private val spark = ctx.spark
  private val seed = ctx.args.seed

  /** One versioned table with its change feed: all feed batches are
    * written at set-up, one parquet file each, and copied into the
    * streaming source directory one per merge.
    */
  private final class Table(name: String, val n0: Int, feedSeed: Long, maxBatches: Int) {
    val path: String = ctx.dir(s"lake/$name")
    val feed: String = ctx.dir(s"lake/${name}_feed")
    val ckpt: String = ctx.dir(s"lake/${name}_ckpt")
    private val feedAll = ctx.dir(s"lake/${name}_feed_all")
    var batches = 0
    def top: Long = Gen.lakeMaxKey(n0, batches, Inserts)
    def batch(i: Int): Seq[Gen.LakeRow] = Gen.lakeBatch(feedSeed, i, n0, Updates, Inserts, Window)

    Versioned.commitWithStats(spark, path,
      df(Gen.lakeInitial(feedSeed, n0))
        .repartitionByRange(InitialFiles, col("k")).sortWithinPartitions(col("k")),
      Seq("k"))
    df((1 to maxBatches).flatMap(batch))
      .withColumn("batch", col("v"))
      .repartition(col("batch"))
      .write.partitionBy("batch").parquet(feedAll)
    val feedFiles: Map[String, java.io.File] = Io.partitionFiles(feedAll, "batch")
    Io.mkdirs(feed)

    /** Merge the next feed batch: one file, one micro-batch, one commit. */
    def merge(): Unit = {
      val b = batches + 1
      Io.copy(feedFiles(b.toString), f"$feed/b$b%05d.parquet")
      Streams.mergeStreamVersioned(spark, feed, path, "k", "v", ckpt,
        maxFilesPerBatch = Some(1))
      batches = b
    }
  }

  private var live: Table = _
  private var warm: Table = _
  private def table = live.path

  /** The expected table: key to row. */
  private val model = new java.util.TreeMap[java.lang.Long, Gen.LakeRow]()
  private var deletes = 0
  private var reads = 0

  private def df(rows: Seq[Gen.LakeRow]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  private def toRow(r: Row): Gen.LakeRow =
    Gen.LakeRow(r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getString(4))

  /** Warmup runs the same verbs on a smaller table of its own. */
  def generateWarm(): Unit =
    warm = new Table("warm", InitialRows / 5, seed + 1, Main.WarmupMax)

  def generate(): Unit = {
    live = new Table("t", InitialRows, seed, MaxBatches)
    Gen.lakeInitial(seed, InitialRows).foreach(r => model.put(r.k, r))
  }

  private def sql(q: String): Array[Row] = {
    val d = ctx.tracer.span("plans.read_plan") {
      val d = spark.sql(q)
      d.queryExecution.executedPlan
      d
    }
    d.collect()
  }

  /** The first warmup round runs every verb once; the later ones repeat
    * a merge and a point lookup, so their times can level off.
    */
  def warmupRound(i: Int): Unit = {
    val p = warm.path
    warm.merge()
    val t = warm.top
    sql(s"SELECT * FROM graft.`$p` WHERE k = ${Gen.lakePointKey(seed, -1 - i, t, Window)}")
    if (i == 0) {
      val (lo, hi) = Gen.lakeDeleteRange(seed, -1, t, DeleteWidth)
      spark.sql(s"DELETE FROM graft.`$p` WHERE k >= $lo AND k < $hi")
      val a = Gen.lakeRangeStart(seed, -1, t, Window)
      sql(s"SELECT * FROM graft.`$p` WHERE k BETWEEN $a AND ${a + RangeWidth - 1}")
      sql(s"SELECT count(*), min(k), max(k) FROM graft.`$p`")
      spark.sql(s"OPTIMIZE graft.`$p` ZORDER BY (k)")
      spark.sql(s"VACUUM graft.`$p` RETAIN 1 VERSIONS")
    }
    ()
  }

  // Traced-round observations for the per-layer metrics.
  private val scans = ArrayBuffer[(Int, Int)]()        // (considered, read) files
  private var readRowsOut = 0L
  private val commitsPerWrite = ArrayBuffer[Double]()
  private var userBytes = 0L
  private val liveFiles = ArrayBuffer[Double]()
  private val diskPerLive = ArrayBuffer[Double]()

  private def write[T](kind: String, cls: OpClass = Batch)(body: => T): Option[T] = {
    val v0 = if (ctx.tracer.on) Versioned.latestVersion(spark, table) else None
    val out = ctx.op(kind, cls)(body)
    if (ctx.tracer.on && out.isDefined)
      commitsPerWrite += (Versioned.latestVersion(spark, table).getOrElse(0L) - v0.getOrElse(0L)).toDouble
    out
  }

  private def expectRange(lo: Long, hi: Long): Seq[Gen.LakeRow] =
    model.subMap(lo, true, hi, true).values().asScala.toSeq

  /** A read through SQL, checked against the model, and every fourth
    * also against an unpruned read of the same snapshot.
    */
  private def read(kind: String, q: String, lo: Long, hi: Long): Unit = {
    reads += 1
    val before = VersionedRelation.lastScan(table)
    ctx.op(kind, Query)(sql(q)).foreach { rows =>
      val got = rows.toSeq.map(toRow).sortBy(_.k)
      val want = expectRange(lo, hi)
      ctx.check(got == want, s"$kind [$lo, $hi]: ${got.length} rows, expected ${want.length}")
      val scan = VersionedRelation.lastScan(table).filter(s => !before.exists(_ eq s))
      if (reads % 4 == 0) {
        val unpruned = Versioned.read(spark, table, scan.map(_.version))
          .filter(col("k").between(lo, hi)).collect().toSeq.map(toRow).sortBy(_.k)
        ctx.check(got == unpruned, s"$kind [$lo, $hi] differs from the unpruned read")
      }
      if (ctx.tracer.on) {
        readRowsOut += rows.length
        scan.foreach(s => scans += ((s.total, if (s.kept < 0) s.total else s.kept)))
      }
    }
  }

  def round(i: Int): Boolean = {
    if (live.batches >= MaxBatches) return false
    val b = live.batches + 1
    write("streaming.merge_batch")(live.merge()).foreach { _ =>
      live.batch(b).foreach(r => model.put(r.k, r))
      ctx.rec.rows += Updates + Inserts
      ctx.rec.rowsMs += ctx.rec.samples.last.ms
      if (ctx.tracer.on) userBytes += live.feedFiles(b.toString).length()
    }
    if (i % 2 == 0) {
      deletes += 1
      val (lo, hi) = Gen.lakeDeleteRange(seed, deletes, live.top, DeleteWidth)
      write("plans.delete")(spark.sql(s"DELETE FROM graft.`$table` WHERE k >= $lo AND k < $hi"))
        .foreach(_ => model.subMap(lo, true, hi, false).clear())
    }
    (0 until PointReads).foreach { _ =>
      val k = Gen.lakePointKey(seed, reads, live.top, Window)
      read("plans.read_point", s"SELECT * FROM graft.`$table` WHERE k = $k", k, k)
    }
    (0 until RangeReads).foreach { _ =>
      val a = Gen.lakeRangeStart(seed, reads, live.top, Window)
      val z = a + RangeWidth - 1
      read("plans.read_range", s"SELECT * FROM graft.`$table` WHERE k BETWEEN $a AND $z", a, z)
    }
    if (i % 2 == 1) {
      write("plans.optimize", Maintenance)(spark.sql(s"OPTIMIZE graft.`$table` ZORDER BY (k)"))
      write("plans.vacuum", Maintenance)(spark.sql(s"VACUUM graft.`$table` RETAIN 1 VERSIONS"))
      ctx.op("plans.read_agg", Query)(sql(s"SELECT count(*), min(k), max(k) FROM graft.`$table`"))
        .foreach { rows =>
          val got = rows.head
          val want = (model.size.toLong, model.firstKey.longValue, model.lastKey.longValue)
          ctx.check((got.getLong(0), got.getLong(1), got.getLong(2)) == want,
            s"count/min/max $got, expected $want")
        }
    }
    if (ctx.tracer.on) {
      val files = Versioned.filesMeta(spark, table).agg(count(lit(1)), sum(col("n_bytes"))).head()
      liveFiles += files.getLong(0).toDouble
      diskPerLive += Io.treeBytes(s"$table") / math.max(1.0, files.getLong(1).toDouble)
    }
    true
  }

  def finalCheck(): Unit = {
    val got = Versioned.read(spark, table).collect().toSeq.map(toRow).sortBy(_.k)
    val want = model.values().asScala.toSeq
    if (got != want) {
      ctx.rec.failAll(s"final table: ${got.length} rows, expected ${want.length}")
    }
  }

  def layerMetrics(): Seq[(String, Double)] = {
    val tr = ctx.tracer
    val plan = tr.spansOf("plans.read_plan")
    val reads = Seq("plans.read_point", "plans.read_range").flatMap(tr.spansOf)
    val readRecords = reads.flatMap(tr.tasksOf).map(_.recordsRead).sum
    val progress = tr.progressIn("streaming.merge_batch").filter(_.inputRows > 0)
    val merges = math.max(1, tr.spansOf("streaming.merge_batch").length)
    val written = Seq("streaming.merge_batch", "plans.delete").flatMap(tr.spansOf)
      .flatMap(tr.tasksOf).map(_.bytesWritten).sum
    Seq(
      "plans.read_plan_ms" -> Stats.median(plan.map(_.duration / 1000.0)),
      "plans.read_plan_jobs" -> Stats.mean(plan.map(s => tr.jobsOf(s).length.toDouble)),
      "streaming.batches" -> progress.length.toDouble / merges,
      "streaming.trigger_ms" -> Stats.mean(progress.map(_.triggerMs.toDouble)),
      "streaming.add_batch_ms" -> Stats.mean(progress.map(_.addBatchMs.toDouble)),
      "streaming.lifecycle_ms" -> Stats.mean(progress.map(p => (p.triggerMs - p.addBatchMs).toDouble)),
      "layout.files_considered" -> Stats.mean(scans.map(_._1.toDouble).toSeq),
      "layout.files_read" -> Stats.mean(scans.map(_._2.toDouble).toSeq),
      "layout.rows_examined_per_row" -> readRecords.toDouble / math.max(1L, readRowsOut),
      "versioned.commits" -> Stats.mean(commitsPerWrite.toSeq),
      "versioned.bytes_written_per_user_byte" -> written.toDouble / math.max(1L, userBytes),
      "versioned.live_files" -> Stats.mean(liveFiles.toSeq),
      "versioned.bytes_on_disk_per_live_byte" -> Stats.mean(diskPerLive.toSeq),
      "maintenance.bytes_rewritten" -> Stats.mean(
        tr.spansOf("plans.optimize").map(s => tr.tasksOf(s).map(_.bytesWritten).sum.toDouble)))
  }
}

object LakeMixed {
  val InitialRows = 100000
  val InitialFiles = 8
  val Updates = 150
  val Inserts = 50
  val Window = 20000
  val DeleteWidth = 40
  val RangeWidth = 100
  val PointReads = 2
  val RangeReads = 1
  val MaxBatches = 60
}

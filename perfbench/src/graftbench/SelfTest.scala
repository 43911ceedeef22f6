package graftbench

/** Self-tests of the benchmark's pure parts: the tail percentile rule,
  * span self time and driver-only time, and generator determinism. Run
  * with `python3 perfbench/run.py --self-test`; exits non-zero on failure.
  */
object SelfTest {

  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (ok) println(s"ok   $name")
    else { failures += 1; println(s"FAIL $name $detail") }

  def main(args: Array[String]): Unit = {
    tailRule()
    intervals()
    generators()
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def tailRule(): Unit = {
    import Stats._
    check("p99 needs 10 samples beyond: 1000 samples", tailPercentile(1000) == 99.0)
    check("999 samples fall back to p95", tailPercentile(999) == 95.0)
    check("10000 samples reach p99.9", tailPercentile(10000) == 99.9)
    check("40 samples give p75", tailPercentile(40) == 75.0)
    check("39 samples give p50", tailPercentile(39) == 50.0)
    check("20 samples give p50 with 10 beyond", tailPercentile(20) == 50.0 && beyond(20, 50) == 10)
    check("19 samples: median rank, rule not met", tailPercentile(19) == 50.0 && beyond(19, 50) < 10)
    val xs = (1 to 100).map(_.toDouble)
    val t = tail(scala.util.Random.shuffle(xs))
    check("tail of 1..100 is the 90th value", t.value == 90.0 && t.percentile == 90.0 &&
      t.n == 100 && t.beyond == 10, t.toString)
    check("median of even count averages the middle", median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("below 20 samples the tail is the median", tail(Seq(4.0, 1.0, 3.0, 2.0)) ==
      Tail(2.5, 50.0, 4, 2))
    check("empty tail is zero with no samples", tail(Seq.empty) == Tail(0.0, 50.0, 0, 0))
  }

  private def intervals(): Unit = {
    import Stats._
    check("union merges overlaps and gaps",
      unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L)
    check("union clips to the window", unionLength(Seq((0L, 10L), (8L, 40L)), 5L, 30L) == 25L)
    check("union of nested intervals", unionLength(Seq((0L, 50L), (10L, 20L)), 0L, 100L) == 50L)
    check("union ignores intervals outside", unionLength(Seq((200L, 300L)), 0L, 100L) == 0L)
    check("driver-only subtracts the job union",
      driverOnly(0L, 100L, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50L)
    check("driver-only of a span without jobs is its duration", driverOnly(5L, 25L, Seq.empty) == 20L)
    val spans = Seq(Span(0, -1, "root", 0L, 100L), Span(1, 0, "a", 10L, 40L),
      Span(2, 0, "b", 30L, 60L), Span(3, 1, "a.child", 15L, 20L), Span(4, -1, "other", 0L, 100L))
    check("self time subtracts the union of direct children", selfTime(spans(0), spans) == 50L)
    check("self time ignores grandchildren and siblings", selfTime(spans(1), spans) == 25L)
    check("leaf self time is its duration", selfTime(spans(3), spans) == 5L)
  }

  private def generators(): Unit = {
    val a = fingerprint(7L)
    check("same seed, byte-identical inputs", a.sameElements(fingerprint(7L)))
    check("different seed, different inputs", !a.sameElements(fingerprint(8L)))
    val xls1 = java.io.File.createTempFile("gen", ".xls")
    val xls2 = java.io.File.createTempFile("gen", ".xls")
    try {
      val wb = Gen.adfDrop(7L, 0, 1000, 4, 2, 20).find(_.legacy).get
      graft.sources.XlsSource.writeWorkbook(xls1.getPath, wb.sheets)
      graft.sources.XlsSource.writeWorkbook(xls2.getPath, wb.sheets)
      check("same seed, byte-identical legacy workbook",
        java.nio.file.Files.readAllBytes(xls1.toPath)
          .sameElements(java.nio.file.Files.readAllBytes(xls2.toPath)))
    } finally { xls1.delete(); xls2.delete(); () }
    val drop = Gen.adfDrop(7L, 0, 1000, 4, 2, 20)
    val keys = drop.flatMap(_.sheets.flatMap(_._2.map(_.head)))
    check("a drop's keys are distinct", keys.distinct.length == keys.length)
    val c = Gen.corpus(7L, 300, 10, 5, 8, 2, 4, 3)
    check("planted clusters have 2 to 5 members",
      c.clusters.length == 10 && c.clusters.forall(m => m.length >= 2 && m.length <= 5))
    val norm = (s: String) => s.toLowerCase.trim.replaceAll("\\s+", " ")
    check("cluster members normalize to one text", c.clusters.forall { m =>
      m.map(id => norm(c.docs(id.toInt)._2)).distinct.length == 1 })
    check("lake batches advance the top key",
      Gen.lakeBatch(7L, 3, 100, 10, 5, 40).map(_.k).max == Gen.lakeMaxKey(100, 3, 5))
  }

  /** Canonical bytes of a sample of every generator's output. */
  private def fingerprint(seed: Long): Array[Byte] = {
    import Gen._
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes("UTF-8"))
    adfTarget(seed, 50).foreach(row => put(row.mkString("\u0001")))
    adfDrop(seed, 3, 100, 4, 2, 5).foreach(w => put(w.toString))
    stampDirs(seed, 3, java.time.LocalDate.of(2024, 6, 1)).foreach(s => put(s.toString))
    lakeInitial(seed, 50).foreach(row => put(row.toString))
    lakeBatch(seed, 2, 50, 10, 5, 40).foreach(row => put(row.toString))
    put(lakeDeleteRange(seed, 1, 60, 5).toString)
    (0 until 20).foreach(n => put(s"${lakePointKey(seed, n, 60, 40)},${lakeRangeStart(seed, n, 60, 40)}"))
    val c = corpus(seed, 200, 5, 3, 8, 2, 4, 3)
    c.docs.foreach { case (id, t, v) => put(s"$id|$t|${v.mkString(",")}") }
    put(c.clusters.toString)
    c.queries.flatten.foreach { case (id, v) => put(s"$id|${v.mkString(",")}") }
    md.digest()
  }
}

package graftbench

import scala.util.Random

/** Seeded input generators. Pure: every function is a deterministic
  * function of its arguments, so one seed gives one set of inputs. Each
  * input stream draws from its own generator, derived from the seed and a
  * stream id, so one stream's length never shifts another's values.
  */
object Gen {

  def rng(seed: Long, stream: Long, index: Long = 0L): Random = {
    var h = seed * 0x9E3779B97F4A7C15L + stream * 0xC2B2AE3D27D4EB4FL + index
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    new Random(h)
  }

  private def pick[T](r: Random, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  private def word(r: Random, len: Int): String =
    (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString

  // ---------------------------------------------------------------- adf

  /** Target columns of the pipeline's keyed table, in file order. */
  val AdfColumns: Seq[String] = Seq("k", "name", "city", "amount", "note")

  private val FirstNames = Vector("Ana", "José", "Zoë", "Renée", "Mark", "Chen",
    "Łukasz", "Amélie", "Olu", "Søren", "Priya", "Tom")
  private val LastNames = Vector("O'Neil", "Müller", "Smith", "Núñez", "D'Arcy",
    "Kowalski", "Ødegaard", "Lee", "García", "Brown")
  private val Cities = Vector("São Paulo", "Zürich", "Kraków", "Lyon, FR",
    "New York", "Málaga", "Oslo|NO", "Cork", "Reykjavík", "Austin, TX")
  private val NoteParts = Vector("paid in full", "net 30, via wire", "back-order",
    "rep's note", "a|b split", "déjà vu", "line1\nline2", "C:\\tmp\\file",
    "n/a", "ok", "Ürgent", "2 boxes, 1 crate")

  /** One row of the keyed table as cell text: numbers as canonical
    * decimal text (written as numeric cells), text with the characters
    * the sanitizer must handle: quotes, commas, pipes, slashes, line
    * breaks and non-ASCII letters. Every text cell keeps ASCII letters, so
    * none sanitizes to empty.
    */
  def adfRow(r: Random, k: Int): Seq[String] = Seq(
    k.toString,
    s"${pick(r, FirstNames)} ${pick(r, LastNames)}",
    pick(r, Cities),
    java.math.BigDecimal.valueOf(r.nextInt(10000000).toLong, 2).stripTrailingZeros
      .toPlainString,
    s"${pick(r, NoteParts)} ${word(r, 4)}")

  /** The initial keyed table, keys 0 until `n`. */
  def adfTarget(seed: Long, n: Int): Seq[Seq[String]] = {
    val r = rng(seed, 1)
    (0 until n).map(k => adfRow(r, k))
  }

  /** A workbook of one drop: file name, legacy `.xls` or `.xlsx`, sheets. */
  final case class Workbook(file: String, legacy: Boolean,
      sheets: Seq[(String, Seq[Seq[String]])])

  /** The drop of pipeline run `run`: `workbooks` workbooks (every fourth
    * a legacy `.xls`) of `sheets` sheets with `rowsPerSheet` rows each.
    * Keys are distinct within a drop and drawn from the existing keys, so
    * every row updates the target and its size holds steady.
    */
  def adfDrop(seed: Long, run: Int, targetRows: Int, workbooks: Int,
      sheets: Int, rowsPerSheet: Int): Seq[Workbook] = {
    val r = rng(seed, 2, run)
    val total = workbooks * sheets * rowsPerSheet
    require(total <= targetRows, s"drop of $total rows exceeds the $targetRows-row target")
    val keys = r.shuffle((0 until targetRows).toVector).take(total)
    val rows = keys.map(k => adfRow(r, k)).grouped(rowsPerSheet).toVector
    (0 until workbooks).map { w =>
      val legacy = w % 4 == 3
      val ext = if (legacy) "xls" else "xlsx"
      Workbook(s"Orders Run$run-Book$w.$ext", legacy,
        (0 until sheets).map(s => s"Sheet$s" -> rows(w * sheets + s)))
    }
  }

  /** Stamped container dirs for the retention sweep, named like the
    * reference's HDInsight containers. With `dayDiff` -5, stamps between
    * 65 and 5 days before `today` match; the rest must survive. Returns
    * (name, expected to be swept).
    */
  def stampDirs(seed: Long, run: Int, today: java.time.LocalDate)
      : Seq[(String, Boolean)] = {
    val r = rng(seed, 3, run)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
    def stamp(daysBack: Int): String =
      today.minusDays(daysBack.toLong).format(fmt) + f"${r.nextInt(240000)}%06d"
    Seq(
      (s"hdi-ls-df-${stamp(10 + r.nextInt(50))}-r$run-a", true),
      (s"hdi-ls-df-${stamp(6 + r.nextInt(55))}-r$run-b", true),
      (s"hdi-ls-df-${stamp(20)}-r$run-c", true),
      (s"hdi-ls-df-${stamp(1 + r.nextInt(3))}-r$run-new", false),
      (s"hdi-ls-df-${stamp(70 + r.nextInt(30))}-r$run-old", false),
      (s"hdi-other-df-${stamp(20)}-r$run-x", false))
  }

  // --------------------------------------------------------------- lake

  /** One row of the versioned table: (k, v, grp, amount, tag). */
  final case class LakeRow(k: Long, v: Long, grp: Int, amount: Double, tag: String)

  private def lakeRow(r: Random, k: Long, v: Long): LakeRow =
    LakeRow(k, v, r.nextInt(64), r.nextInt(1000000) / 100.0, word(r, 6))

  def lakeInitial(seed: Long, n: Int): Seq[LakeRow] = {
    val r = rng(seed, 10)
    (0L until n.toLong).map(k => lakeRow(r, k, 0L))
  }

  /** Highest key after `batches` change-feed batches have been merged. */
  def lakeMaxKey(n0: Int, batches: Int, inserts: Int): Long =
    n0.toLong + batches.toLong * inserts - 1

  /** Change-feed batch `i` (1-based), version `i`: `updates` distinct keys
    * from the `window` keys below the current top, skewed toward the
    * newest (recent rows change most), then `inserts` new keys above it.
    */
  def lakeBatch(seed: Long, i: Int, n0: Int, updates: Int, inserts: Int,
      window: Int): Seq[LakeRow] = {
    val r = rng(seed, 11, i)
    val top = lakeMaxKey(n0, i - 1, inserts)
    val upd = scala.collection.mutable.LinkedHashSet[Long]()
    while (upd.size < updates) {
      val u = r.nextDouble()
      upd += math.max(0L, top - (window * u * u).toLong)
    }
    upd.toSeq.map(k => lakeRow(r, k, i.toLong)) ++
      (1 to inserts).map(j => lakeRow(r, top + j, i.toLong))
  }

  /** Key range [lo, hi) of the `n`-th DELETE, anywhere below `top`. */
  def lakeDeleteRange(seed: Long, n: Int, top: Long, width: Int): (Long, Long) = {
    val lo = (rng(seed, 12, n).nextDouble() * math.max(1L, top - width)).toLong
    (lo, lo + width)
  }

  /** A point-lookup key: mostly recent keys, some older, some absent. */
  def lakePointKey(seed: Long, n: Int, top: Long, window: Int): Long = {
    val r = rng(seed, 13, n)
    val u = r.nextDouble()
    if (u < 0.8) math.max(0L, top - (window * r.nextDouble() * r.nextDouble()).toLong)
    else if (u < 0.9) (r.nextDouble() * top).toLong
    else top + 1 + r.nextInt(1000)
  }

  /** Start of the `n`-th range scan, weighted toward recent keys. */
  def lakeRangeStart(seed: Long, n: Int, top: Long, window: Int): Long = {
    val r = rng(seed, 14, n)
    if (r.nextBoolean()) math.max(0L, top - (window * r.nextDouble()).toLong)
    else (r.nextDouble() * top).toLong
  }

  // ---------------------------------------------------------------- llm

  /** The curation corpus: documents with text and an embedding, the
    * planted near-duplicate clusters (ids), and the query batches.
    */
  final case class Corpus(
      docs: IndexedSeq[(Long, String, Array[Double])],
      clusters: Seq[Seq[Long]],
      queries: IndexedSeq[IndexedSeq[(Long, Array[Double])]])

  val QueryIdBase: Long = 1000000000L

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def gaussianVec(r: Random, dims: Int): Array[Double] =
    Array.fill(dims)(r.nextGaussian())

  /** A variant of `toks` that normalizes (lower case, collapsed
    * whitespace) to the same text: changed case and whitespace only.
    */
  private def variant(r: Random, toks: Seq[String]): String = {
    val seps = Vector(" ", "  ", "\t", " \n ", "   ")
    val cased = toks.map { t =>
      r.nextInt(4) match {
        case 0 => t.toUpperCase
        case 1 => t.capitalize
        case _ => t
      }
    }
    (if (r.nextBoolean()) " " else "") +
      cased.head + cased.tail.map(t => pick(r, seps) + t).mkString
  }

  /** `nDocs` documents of 40 to 70 tokens. `clusters` near-duplicate
    * clusters of 2 to 5 members (case and whitespace variants of one
    * text, so every pair shares all shingles); `decoyGroups` groups of 3
    * documents that share a 40-token boilerplate but differ in a 20-token
    * tail (Jaccard about 0.49, so some become LSH candidates that
    * verification must reject); the rest unrelated. Embeddings are random
    * unit vectors, except that each query of `batches` batches of
    * `perBatch` has `neighbours` planted documents at cosine about 0.997.
    */
  def corpus(seed: Long, nDocs: Int, clusters: Int, decoyGroups: Int,
      dims: Int, batches: Int, perBatch: Int, neighbours: Int): Corpus = {
    val r = rng(seed, 20)
    val vocab = (0 until 5000).map(_ => word(r, 3 + r.nextInt(6))).distinct.toVector
    def toks(n: Int): Seq[String] = Seq.fill(n)(pick(r, vocab))
    val texts = new Array[String](nDocs)
    var next = 0
    // Sizes and lengths are fixed by position, so a seed changes the
    // corpus's content but not its shape.
    val planted = (0 until clusters).map { c =>
      val base = toks(40 + c % 31)
      val size = 2 + c % 4
      (0 until size).map { _ => texts(next) = variant(r, base); next += 1; (next - 1).toLong }
    }
    (0 until decoyGroups).foreach { _ =>
      val shared = toks(40)
      (0 until 3).foreach { _ => texts(next) = (shared ++ toks(20)).mkString(" "); next += 1 }
    }
    require(next <= nDocs, s"corpus of $nDocs docs cannot hold the planted groups")
    while (next < nDocs) { texts(next) = toks(40 + next % 31).mkString(" "); next += 1 }

    val rv = rng(seed, 21)
    val vecs = Array.fill(nDocs)(unit(gaussianVec(rv, dims)))
    val nQueries = batches * perBatch
    require(nQueries * neighbours <= nDocs, "too few docs for the planted neighbours")
    val owners = rv.shuffle((0 until nDocs).toVector)
    val queries = (0 until nQueries).map { q =>
      val qv = unit(gaussianVec(rv, dims))
      owners.slice(q * neighbours, (q + 1) * neighbours).foreach { d =>
        vecs(d) = unit(qv.zip(gaussianVec(rv, dims)).map { case (a, b) => a + 0.01 * b })
      }
      (QueryIdBase + q, qv)
    }
    Corpus(
      (0 until nDocs).map(i => (i.toLong, texts(i), vecs(i))),
      planted,
      queries.grouped(perBatch).toIndexedSeq)
  }
}

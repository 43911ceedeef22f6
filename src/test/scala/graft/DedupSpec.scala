package graft

import graft.llm.{Dedup, TextOps}
import org.apache.spark.sql.functions._

/** Near-dup operator behavior on synthetic corpora with known structure. */
class DedupSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
      (2L, "a completely different document about spark query engines and shuffles", "en"),
      (3L, "numbers and tables and columns and rows and joins and aggregates here", "en"))
    // 101-103: near-copies of 1-3 (one token changed); 201: exact copy of 1.
    val mutated = Seq(
      (101L, "the quick brown fox jumps over the lazy cat near the river bank", "en"),
      (102L, "a completely different document about flink query engines and shuffles", "en"),
      (103L, "numbers and tables and columns and rows and joins and averages here", "en"),
      (201L, "the quick brown fox jumps over the lazy dog near the river bank", "en"))
    (base ++ mutated).toDF("doc_id", "text", "lang")
  }

  test("exact dedup collapses only the exact copy, keeps min id") {
    val kept = Dedup.exact(docs, "text", "doc_id")
    import spark.implicits._
    val ids = kept.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 101L, 102L, 103L), "201 collapses into 1")
  }

  test("minhash-LSH finds the near-dup pairs and not the unrelated ones") {
    import spark.implicits._
    val cands = Dedup.minhashCandidates(docs, "text", "doc_id")
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 201L)), "exact copy must always collide (all bands)")
    assert(!cands.contains((1L, 2L)) && !cands.contains((2L, 3L)),
      "unrelated docs must not be candidates")
    // one-token mutations share most shingles; with 4x4 bands they should
    // collide with their original
    assert(cands.contains((1L, 101L)) || cands.contains((3L, 103L)),
      "at least one near-copy pair must be found")
  }

  test("job budget: minhash candidates and n-gram Jaccard verification") {
    import org.apache.spark.graftshim.TestListenerShim.countJobs
    val (cands, candJobs) = countJobs(spark.sparkContext)(
      Dedup.minhashCandidates(docs, "text", "doc_id").collect())
    val pairs = cands.map(r => (r.getLong(0), r.getLong(1))).toSeq
    import spark.implicits._
    val (_, verifyJobs) = countJobs(spark.sparkContext)(
      Dedup.ngramJaccard(docs, pairs.toDF("id_a", "id_b"), "text", "doc_id").collect())
    // The per-id signature fold rides a shuffle the candidate plan already
    // pays for: it must not add a job.
    assert(candJobs == 3, s"minhashCandidates took $candJobs jobs")
    assert(verifyJobs == 3, s"ngramJaccard took $verifyJobs jobs")
  }

  test("simhash: identical docs get identical hashes; near-copies are close") {
    import spark.implicits._
    val sh = Dedup.simhash32(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(201L))
    val hamming = java.lang.Long.bitCount(sh(1L) ^ sh(101L))
    assert(hamming <= 10, s"near-copy hamming was $hamming")
  }

  test("simhashPairs finds exact+near copies via the pigeonhole chunk join") {
    import spark.implicits._
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 10)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 201L)))
  }

  test("simhashPairs chunked join equals the brute-force all-pairs result") {
    import spark.implicits._
    for (r <- Seq(0, 3, 7)) {
      val chunked = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = r)
        .select($"id_a", $"id_b", $"hamming").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      val sh = Dedup.simhash32(docs, "text", "doc_id")
      val brute = sh.select($"doc_id".as("id_a"), $"simhash".as("sh_a"))
        .crossJoin(sh.select($"doc_id".as("id_b"), $"simhash".as("sh_b")))
        .filter($"id_a" < $"id_b")
        .withColumn("hamming", bit_count($"sh_a".bitwiseXOR($"sh_b")))
        .filter($"hamming" <= r)
        .select($"id_a", $"id_b", $"hamming").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      assert(chunked === brute, s"pigeonhole must be exact at r=$r")
    }
  }

  test("ngram jaccard: exact copy = 1.0, near copy high, unrelated low") {
    import spark.implicits._
    val cands = Seq((1L, 201L), (1L, 101L), (1L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(docs, cands, "text", "doc_id")
      .select($"id_a", $"id_b", $"jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 201L)) == 1.0)
    assert(j((1L, 101L)) > 0.3 && j((1L, 101L)) < 1.0)
    assert(!j.contains((1L, 2L)) || j((1L, 2L)) < 0.1,
      "unrelated pair should share ~no shingles (absent row = 0 intersection)")
  }

  test("repeatedSpans: cross-doc and intra-doc repeats merge into maximal regions") {
    import spark.implicits._
    // k=3. d1/d2 share "a b c d e" (3 overlapping 3-grams each → one
    // region of 5 tokens); d3 is unique (no output row); d4 is a pure
    // internal repeat (every 3-gram occurs ≥2× → fully covered); d5 hits
    // "a b c" and "c d e" in two non-adjacent places → TWO regions.
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x a b c d e y z"),
      (3L, "p q r s t u v w"),
      (4L, "m n o m n o m n o"),
      (5L, "a b c z1 z2 z3 c d e q1 q2 q3")).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(corpus, "text", "doc_id", k = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(!out.contains(3L), "a doc with no repeated span yields no row")
    assert(out(1L) == ((8L, 3L, 1L, 5L, 0.625)), s"d1: ${out(1L)}")
    assert(out(2L) == ((8L, 3L, 1L, 5L, 0.625)), s"d2: ${out(2L)}")
    assert(out(4L) == ((9L, 7L, 1L, 9L, 1.0)), s"d4 fully covered: ${out(4L)}")
    assert(out(5L) == ((12L, 2L, 2L, 6L, 0.5)), s"d5 two regions: ${out(5L)}")
  }

  test("repeatedSpans matches a brute-force reference on a random corpus") {
    import spark.implicits._
    // Tiny vocab + short docs force dense accidental repeats — the
    // adversarial regime for interval merging. Fixed seed: reproducible.
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e")
    val corpus = (0 until 40).map { i =>
      val n = rnd.nextInt(13)
      (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val k = 3
    // reference: global span counts, marked positions, interval union
    val toks = corpus.map { case (id, t) =>
      id -> t.split(" ").filter(_.nonEmpty).toVector
    }.toMap
    val occ = toks.toSeq.flatMap { case (id, ts) =>
      (0 to ts.length - k).map(p => (id, p + 1, ts.slice(p, p + k).mkString(" ")))
    }
    val counts = occ.groupBy(_._3).map { case (sp, os) => sp -> os.size }
    val expect = occ.filter(o => counts(o._3) >= 2).groupBy(_._1).map {
      case (id, os) =>
        val ps = os.map(_._2).sorted
        // gaps-and-islands over [p, p+k-1], merge when start <= end+1
        var regions = List.empty[(Int, Int)]
        ps.foreach { p =>
          regions match {
            case (s, e) :: tail if p <= e + 1 => regions = (s, math.max(e, p + k - 1)) :: tail
            case _ => regions = (p, p + k - 1) :: regions
          }
        }
        id -> ((toks(id).length.toLong, os.size.toLong, regions.size.toLong,
          regions.map { case (s, e) => e - s + 1 }.sum.toLong))
    }
    val got = Dedup.repeatedSpans(corpus.toDF("doc_id", "text"), "text", "doc_id", k = k)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect, {
      val diff = (got.keySet ++ expect.keySet).filter(i => got.get(i) != expect.get(i))
      s"mismatch on docs $diff: got=${diff.map(got.get)} want=${diff.map(expect.get)}"
    })
  }

  test("null-text documents never collapse into each other (unknown ≠ equal)") {
    import spark.implicits._
    val withNulls = Seq((1L, "same text"), (2L, "same text"),
      (10L, null: String), (11L, null: String)).toDF("doc_id", "text")
    val ids = Dedup.exact(withNulls, "text", "doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 10L, 11L), "both null-text docs kept; real dup collapsed")
  }

  test("documents with fewer than 3 tokens never become candidates") {
    import spark.implicits._
    val tiny = Seq((1L, "one two"), (2L, "one two")).toDF("doc_id", "text")
    assert(Dedup.minhashCandidates(tiny, "text", "doc_id").count() == 0)
  }

  test("connectedComponents: chains merge transitively, islands stay apart") {
    import spark.implicits._
    // chain 1-2-3-4 (one cluster, diameter 3), island pair 10-11, and a
    // triangle 20-21-22 reached through two different pairs
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents: a 10k-node PATH converges in <= 14 star rounds") {
    import spark.implicits._
    // the pathological case for min-label propagation (rounds = diameter
    // = 9999); the large-star/small-star alternation HALVES the path per
    // round, so ⌈log2(9999)⌉ = 14 contraction rounds + 2 no-change
    // detection rounds must suffice — this pins the O(log n) behavior,
    // not just correctness
    val n = 10000L
    val path = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
      .repartition(8)
    val comp = Dedup.connectedComponents(path, maxIter = 16)
    val distinctComps = comp.select($"comp").distinct().collect().map(_.getLong(0))
    assert(distinctComps.toSeq == Seq(1L), "one path = one component rooted at min id")
    assert(comp.count() == n)
  }

  test("connectedComponents fails loudly instead of returning a half-closed graph") {
    import spark.implicits._
    // a 200-node chain needs ~log2(200) ≈ 8 star alternations; maxIter=2
    // must throw, never silently emit labels that are not yet components
    val chain = (1L to 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2)
    }
  }

  test("hammingPairs: pigeonhole candidates == brute force at any width; " +
      "null fingerprints drop; equi-join only plan") {
    import spark.implicits._
    // 40 pseudo-random 56-bit hashes + engineered close pairs
    def mix(i: Long): Long = {
      var x = i * 0x9E3779B97F4A7C15L
      x ^= (x >>> 31); x *= 0xBF58476D1CE4E5B9L; x ^= (x >>> 27)
      x & ((1L << 56) - 1)
    }
    val base = (1L to 40L).map(i => (i, mix(i)))
    val close = Seq(
      (101L, mix(5L) ^ 1L),          // hamming 1 from id 5
      (102L, mix(5L) ^ (1L << 20) ^ (1L << 45)), // hamming 2 from id 5
      (103L, mix(9L) ^ 0xFL))        // hamming 4 from id 9
    val rows: Seq[(Long, Option[Long])] =
      (base ++ close).map { case (i, h) => (i, Option(h)) }.toSeq :+
        ((999L, None: Option[Long]))   // undecodable payload
    val hashes = rows.toDF("id", "dhash")
    val got = Dedup.hammingPairs(hashes, "id", "dhash", bits = 56,
        maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over the non-null hashes
    val all = (base ++ close)
    val expect = (for {
      (a, ha) <- all; (b, hb) <- all if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 4
    } yield (a, b, d)).toSet
    assert(got == expect, s"extra=${got -- expect} missing=${expect -- got}")
    assert(!got.exists(p => p._1 == 999L || p._2 == 999L))
    val plan = Dedup.hammingPairs(hashes, "id", "dhash", 56, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the candidate join must be chunk-equality keyed")
  }
}

package graft

import graft.llm.{Dedup, IncrementalDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental dedup vs the persisted band-key index: the incremental
  * law, singleton handling, crash recovery, and the bucketed index's
  * shuffle-free probe plan.
  */
class IncrementalDedupSpec extends SparkSpec {

  import spark.implicits._

  // Corpus with known structure: 1/101/201 one cluster (exact + near
  // copies), 3/103 another, 2 and 4 singletons (4 is too short to
  // shingle — no bands at all, must still get an assignment row).
  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "a completely different document about spark query engines and shuffles"),
    (3L, "numbers and tables and columns and rows and joins and aggregates here"),
    (4L, "too short"),
    (101L, "the quick brown fox jumps over the lazy cat near the river bank"),
    (103L, "numbers and tables and columns and rows and joins and averages here"),
    (201L, "the quick brown fox jumps over the lazy dog near the river bank"))
    .toDF("doc_id", "text")

  /** One-shot ground truth: CC over the full corpus's LSH candidates,
    * singletons included.
    */
  private def fullAssign(docs: DataFrame): Map[Long, Long] = {
    val pairs = Dedup.minhashCandidates(docs, "text", "doc_id")
      .select($"id_a", $"id_b")
    val cc = Dedup.connectedComponents(pairs)
    val ids = docs.select($"doc_id".as("id")).distinct()
    ids.join(cc.select($"id", $"comp".as("__c")), Seq("id"), "left")
      .select($"id", coalesce($"__c", $"id").as("comp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def assignOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("incremental law: batch(A then B then C) == full(A ∪ B ∪ C)") {
    val state = tmpDir("inc-dedup-law")
    val a = corpus.filter($"doc_id" <= 4L)
    val b = corpus.filter($"doc_id" === 101L || $"doc_id" === 103L)
    val c = corpus.filter($"doc_id" === 201L)
    IncrementalDedup.addBatch(spark, state, a, "text", "doc_id")
    IncrementalDedup.addBatch(spark, state, b, "text", "doc_id")
    val inc = assignOf(IncrementalDedup.addBatch(spark, state, c, "text", "doc_id"))
    assert(inc == fullAssign(corpus),
      "three incremental batches must equal the one-shot assignment")
    // structure sanity on the known corpus
    assert(inc(201L) == 1L && inc(101L) == 1L, "1/101/201 are one cluster")
    assert(inc(103L) == 3L, "3/103 are one cluster")
    assert(inc(2L) == 2L && inc(4L) == 4L, "2 and the shingle-less 4 are singletons")
  }

  test("a later batch can MERGE two previously-separate clusters") {
    // a and b are not near-dups of each other, but bridge is a near-dup
    // of both (first half ≈ a's text, tail mutated toward b) — adding it
    // last must fuse the components, which only works because star edges
    // carry prior connectivity into the new CC.
    val a = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    val b = Seq((20L, "nu xi omicron pi rho sigma tau upsilon phi chi psi omega")).toDF("doc_id", "text")
    val bridgeA = Seq((30L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu")).toDF("doc_id", "text")
    val full = a.unionByName(b).unionByName(bridgeA)
    val state = tmpDir("inc-dedup-merge")
    IncrementalDedup.addBatch(spark, state, a, "text", "doc_id")
    IncrementalDedup.addBatch(spark, state, b, "text", "doc_id")
    val inc = assignOf(IncrementalDedup.addBatch(spark, state, bridgeA, "text", "doc_id"))
    assert(inc == fullAssign(full), "bridged incremental == one-shot")
    assert(inc(30L) == 10L, "bridge joins its near-dup's cluster")
  }

  test("an index persisted by the explode/stack plan matches kernel-hashed batches") {
    // The bands and assignment of batch A exactly as earlier versions of
    // the engine wrote them (LegacyShingles); batch B is signed by the
    // native kernel and probed against that stored index.
    val state = tmpDir("inc-dedup-legacy-index")
    val a = corpus.filter($"doc_id" <= 4L)
    val b = corpus.filter($"doc_id" > 4L)
    val oldBands = LegacyShingles.bandKeys(a, "text", "doc_id")
      .select($"doc_id".cast("long").as("id"), $"band", $"band_key")
    oldBands.write.parquet(s"$state/bands")
    val oldPairs = oldBands.as("l").join(oldBands.as("r"), Seq("band", "band_key"))
      .filter($"l.id" < $"r.id").select($"l.id".as("id_a"), $"r.id".as("id_b"))
    IncrementalDedup.step(spark.range(0).select($"id", $"id".as("comp")), oldPairs,
        a.select($"doc_id".as("id")))
      .write.parquet(s"$state/assign")
    val inc = assignOf(IncrementalDedup.addBatch(spark, state, b, "text", "doc_id"))
    assert(inc == fullAssign(corpus), "legacy index + new batch == one-shot recompute")
    assert(inc(101L) == 1L && inc(201L) == 1L && inc(103L) == 3L,
      "batch docs must find their stored near-dups through the legacy keys")
  }

  test("crash between the assign renames is healed by the next addBatch") {
    val state = tmpDir("inc-dedup-crash")
    val a = corpus.filter($"doc_id" <= 4L)
    IncrementalDedup.addBatch(spark, state, a, "text", "doc_id")
    // simulate the crash window: assign staged out to ._old, target gone
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val assign = new org.apache.hadoop.fs.Path(s"$state/assign")
    val old = new org.apache.hadoop.fs.Path(s"$state/assign._old")
    assert(fs.rename(assign, old))
    val b = corpus.filter($"doc_id" > 4L)
    val inc = assignOf(IncrementalDedup.addBatch(spark, state, b, "text", "doc_id"))
    assert(inc == fullAssign(corpus), "recovery must restore the prior state first")
  }

  test("bucketed index: the probe join never shuffles the stored bands") {
    val db = "incdedup"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the sort-merge path: at toy size the planner broadcasts (which
    // hides the bucketed read); at 100 TB neither side broadcasts and the
    // bucket layout is what kills the index-side shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val assignDir = tmpDir("inc-dedup-bucketed") + "/assign"
      val a = corpus.filter($"doc_id" <= 4L)
      val b = corpus.filter($"doc_id" > 4L)
      IncrementalDedup.addBatchBucketed(spark, s"$db.idx", assignDir, a, "text", "doc_id", numBuckets = 4)
      val inc = assignOf(
        IncrementalDedup.addBatchBucketed(spark, s"$db.idx", assignDir, b, "text", "doc_id", numBuckets = 4))
      assert(inc == fullAssign(corpus), "bucketed incremental == one-shot")

      // plan pin: the index side reads Bucketed: true and reaches the join
      // with no Exchange above the scan — only the batch side shuffles
      val batchBands = IncrementalDedup.bandIndex(b, "text", "doc_id").localCheckpoint(true)
      val plan = IncrementalDedup.probePlanBucketed(spark, s"$db.idx", batchBands)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"index scan must use the bucketed layout:\n$plan")
      val lines = plan.linesIterator.toVector
      val scanIdx = lines.indexWhere(l => l.contains("FileScan") && l.contains("Bucketed: true"))
      assert(scanIdx > 0, s"bucketed scan not found:\n$plan")
      // the index is the join's RIGHT child: its parent chain is the lines
      // between the join and the scan WITHOUT the ':' left-subtree marker
      // (the left/batch side legitimately shuffles to the bucket layout)
      val joinIdx = lines.lastIndexWhere(_.contains("Join"), scanIdx)
      assert(joinIdx >= 0, s"join above the bucketed scan not found:\n$plan")
      val indexChain = lines.slice(joinIdx + 1, scanIdx)
        .filterNot(_.takeWhile(_ != '+').contains(":"))
      assert(indexChain.forall(!_.contains("Exchange")),
        s"no Exchange may sit between the join and the bucketed index scan:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      ()
    }
  }
}

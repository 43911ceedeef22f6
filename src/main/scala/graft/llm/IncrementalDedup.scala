package graft.llm

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus dedup against a PERSISTED MinHash band-key index.
  *
  * A production training-data pipeline dedups a NEW batch daily against a
  * corpus it has already signed — it must never re-shingle, re-minhash, or
  * re-LSH the 100 TB it already processed (the reference's analog is its
  * staged upsert: new rows land in staging and merge against the stored
  * table, `/root/reference/SharedCode/PGHelperFunction.py:74-75` — here
  * the "stored table" is the dedup index, not the data).
  *
  * Persisted state under `stateDir`:
  *  - `bands/`  — (id, band, band_key): the MinHash-LSH band keys of every
  *    document ever added. APPEND-ONLY: signatures are per-document and
  *    corpus-independent, so an old doc's rows never change.
  *  - `assign/` — (id, comp): current duplicate-cluster assignment, comp =
  *    min id of the component. REWRITTEN each batch via a staged swap
  *    (same two-rename discipline as `ops/Upsert.run` — the new
  *    assignment fully materializes before the old one is touched).
  *
  * Per-batch work (`addBatch`):
  *  1. Sign the BATCH only: shingle → 16 minhashes → 4 band keys
  *     (`Dedup.bandKeys`, the same function the batch path uses, so keys
  *     persisted by any earlier batch match). Cost O(|batch|).
  *  2. Append the batch's band rows to the index, then equi-join the
  *     batch's bands against the FULL index on (band, band_key). Cost is
  *     Σ bucket-pair volume touching the batch — never corpus², and the
  *     corpus side is only ever probed by band key, not re-signed.
  *  3. Connected components over (new candidate pairs ∪ STAR EDGES of the
  *     stored assignment). The star edges (id → comp, for id ≠ comp)
  *     carry exactly the prior connectivity: replacing a component's
  *     internal pair set with its star preserves components (every member
  *     stays reachable from the representative), so
  *     CC(star(A) ∪ pairs(A×B) ∪ pairs(B×B)) ≡ CC(pairs(A∪B)) — the
  *     incremental law `batch(A then B) == full(A ∪ B)`, proved in
  *     IncrementalDedupSpec and hash-checked against the DuckDB closure
  *     oracle by `q_dedup_incremental`.
  *  4. Staged-swap the new assignment; every id ever added keeps a row
  *     (docs with < 3 tokens produce no shingles → no bands → permanent
  *     singletons, comp = id).
  *
  * Batches must be id-disjoint from the corpus already added (append-only
  * corpus semantics — re-adding an id is an upsert, not a dedup-add).
  *
  * 100 TB: the parquet-dir layout re-shuffles the stored band side on
  * each batch join; `addBatchBucketed` stores the index as a metastore
  * table BUCKETED by the probe-join keys (band, band_key), so the batch
  * probe shuffles only the BATCH side to the bucket layout and the corpus
  * index is read in place (plan pinned in IncrementalDedupSpec — zero
  * Exchange above the index scan).
  */
object IncrementalDedup {

  /** Band-key relation of a batch: (id, band, band_key). */
  def bandIndex(batch: DataFrame, textCol: String, idCol: String): DataFrame =
    Dedup.bandKeys(batch, textCol, idCol)
      .select(col(idCol).cast("long").as("id"), col("band"), col("band_key"))

  /** Canonical new candidate pairs: the batch's bands probed against the
    * full index (which already contains the batch — so this yields both
    * batch×stored and batch×batch pairs in ONE join).
    */
  private def probePairs(batchBands: DataFrame, fullIndex: DataFrame): DataFrame =
    batchBands.select(col("id").as("id_l"), col("band"), col("band_key"))
      .join(fullIndex.select(col("id").as("id_r"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("id_l") =!= col("id_r"))
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"))
      .distinct()

  /** Pure incremental step (no IO): resolve the new assignment from the
    * prior assignment, the new candidate pairs, and the batch's id set.
    */
  def step(storedAssign: DataFrame, newPairs: DataFrame,
      batchIds: DataFrame): DataFrame = {
    val star = storedAssign.filter(col("id") =!= col("comp"))
      .select(col("id").as("id_a"), col("comp").as("id_b"))
    // Eager lineage break before CC: the iterative CC plan over a raw
    // Union trips Catalyst's union-constraint rewrite (projection
    // pushdown re-keys the children's attributes out from under
    // InferFiltersFromConstraints → NoSuchElementException at
    // optimization time), and CC re-reads its input every round anyway —
    // one small materialization of the pair relation buys both.
    val edges = newPairs.unionByName(star).localCheckpoint(true)
    val cc = Dedup.connectedComponents(edges)
    val allIds = storedAssign.select(col("id"))
      .unionByName(batchIds).distinct()
    allIds.join(cc.select(col("id"), col("comp").as("__c")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("comp"))
  }

  /** Add one batch to the parquet-dir state; returns the NEW full
    * assignment (read back from the persisted state, so the caller's
    * result is exactly what the next batch will see).
    */
  def addBatch(spark: SparkSession, stateDir: String, batch: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val bandsPath = s"$stateDir/bands"
    val assignPath = s"$stateDir/assign"
    val fs = new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ops.Upsert.recover(fs, assignPath) // heal a crash mid-swap

    // Sign the batch ONCE (the signature feeds both the index append and
    // the probe join — localCheckpoint stops the minhash recomputing).
    val batchBands = bandIndex(batch, textCol, idCol).localCheckpoint(true)
    val batchIds = batch.select(col(idCol).cast("long").as("id")).distinct()

    batchBands.write.mode("append").parquet(bandsPath)
    // Fresh read AFTER the append: includes the batch's own bands, so one
    // probe join covers batch×stored and batch×batch.
    val fullIndex = spark.read.parquet(bandsPath)
    val storedAssign =
      if (fs.exists(new Path(assignPath))) spark.read.parquet(assignPath)
      else spark.range(0).select(col("id"), col("id").as("comp"))

    val next = step(storedAssign, probePairs(batchBands, fullIndex), batchIds)
    swapWrite(spark, fs, next, assignPath)
    spark.read.parquet(assignPath)
  }

  /** Bucketed-index variant: bands live in metastore table
    * `<prefix>_bands` bucketed by band_key — the 100 TB path where the
    * corpus index never shuffles on a batch probe. Assignment keeps the
    * parquet staged-swap at `assignDir` (it is rewritten wholesale each
    * batch; bucketing buys nothing there).
    */
  def addBatchBucketed(spark: SparkSession, tablePrefix: String,
      assignDir: String, batch: DataFrame, textCol: String, idCol: String,
      numBuckets: Int = 32): DataFrame = {
    val bandsTable = s"${tablePrefix}_bands"
    val fs = new Path(assignDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ops.Upsert.recover(fs, assignDir)

    val batchBands = bandIndex(batch, textCol, idCol).localCheckpoint(true)
    val batchIds = batch.select(col(idCol).cast("long").as("id")).distinct()

    if (!spark.catalog.tableExists(bandsTable))
      batchBands.write.bucketBy(numBuckets, "band", "band_key")
        .sortBy("band", "band_key").saveAsTable(bandsTable)
    else
      // Append restates the SAME bucket spec (Spark validates it against
      // the table): each new file is bucket-tagged, so future probe joins
      // still skip the index shuffle.
      batchBands.write.mode("append").format("parquet")
        .bucketBy(numBuckets, "band", "band_key")
        .sortBy("band", "band_key").saveAsTable(bandsTable)

    val fullIndex = spark.table(bandsTable)
    val storedAssign =
      if (fs.exists(new Path(assignDir))) spark.read.parquet(assignDir)
      else spark.range(0).select(col("id"), col("id").as("comp"))

    val next = step(storedAssign, probePairs(batchBands, fullIndex), batchIds)
    swapWrite(spark, fs, next, assignDir)
    spark.read.parquet(assignDir)
  }

  /** The probe join's physical plan against the bucketed index — exposed
    * so the spec can pin "zero Exchange above the index scan" without
    * reproducing the join internals.
    */
  def probePlanBucketed(spark: SparkSession, tablePrefix: String,
      batchBands: DataFrame): DataFrame =
    probePairs(batchBands, spark.table(s"${tablePrefix}_bands"))

  /** Staged overwrite: new data fully lands at `._staging` before the old
    * dir is renamed out (the `ops/Upsert.run` swap discipline; a crash
    * between the renames is healed by `Upsert.recover`).
    */
  private[graft] def swapWrite(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      df: DataFrame, path: String): Unit = {
    val staging = path + "._staging"
    df.write.mode("overwrite").parquet(staging)
    val tgt = new Path(path)
    val old = new Path(path + "._old")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(tgt) && !fs.rename(tgt, old))
      throw new java.io.IOException(s"Error - could not stage out old state at $path")
    if (!fs.rename(new Path(staging), tgt)) {
      if (fs.exists(old)) fs.rename(old, tgt) // roll back
      throw new java.io.IOException(s"Error - could not swap staging into $path")
    }
    fs.delete(old, true)
  }
}

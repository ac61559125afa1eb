package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.{Analysis, TextOps}

/** End-to-end corpus curation — the composition a 100 TB training-data
  * pipeline actually runs over raw documents: language-ID → quality
  * gates → exact dedup (keep-first) → token budgeting. One operator so
  * the whole pre-training funnel is a single declarative plan.
  *
  * Scale shape: every stage up to dedup is per-row Catalyst (codegen'd
  * with the scan, filters collapse into one predicate — the corpus
  * shrinks BEFORE anything shuffles). The only shuffle is the dedup
  * window, and it moves the slim scored projection (16-byte md5 + a
  * few ints per row), never the document text. Near-dup removal at
  * scale chains [[Dedup.minhashLshPairsDocs]] on the survivors.
  */
object Curation {

  /** Curate `docs`: keep `keepLang` documents with ≥ `minTokens`
    * whitespace tokens and type-token ratio ≥ `minTtr`, drop exact
    * duplicates keeping the lowest id, and report whitespace + BPE-ish
    * token counts (the cost-estimate columns) plus the content
    * fingerprint.
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             keepLang: String = "en", minTokens: Int = 20,
             minTtr: Double = 0.35): DataFrame = {
    // bind the token array once: langId alone reads it per marker
    // list, and a raw Column expression is re-inlined (re-split) at
    // every reference — same fix as Dedup.shingles
    val toks = col("__toks")
    val scored = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"),
        TextOps.tokenize(col(textCol)).as("__toks"))
      .select(
        col("doc_id"),
        Analysis.langId(toks).as("lang_pred"),
        Analysis.tokenCount(toks).as("n_tokens"),
        Analysis.typeTokenRatio(toks).as("ttr"),
        size(regexp_extract_all(col("__text"), lit(Analysis.BpeIshRe),
          lit(0))).as("bpe_tokens"),
        Analysis.fingerprint(col("__text")).as("fp"))
      .filter(col("lang_pred") === keepLang &&
        col("n_tokens") >= minTokens && col("ttr") >= minTtr)
    // exact dedup, keep-first: one shuffle of the slim projection
    val byContent = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    scored
      .withColumn("rk", row_number().over(byContent))
      .filter(col("rk") === 1)
      .drop("rk")
  }

  /** Incremental corpus upsert — the MERGE that folds a change batch
    * into a base snapshot: the latest delta version of a key replaces
    * the base row, a tombstone (`deleteCol` = true) at the latest
    * version drops the key, untouched base rows pass through. `delta`
    * carries the base schema plus `versionCol` and `deleteCol`;
    * versions must be unique per key (the tie is otherwise
    * non-deterministic).
    *
    * Scale shape: the obvious plan — window over base ∪ delta —
    * re-shuffles the whole 100 TB snapshot to apply a GB-scale batch.
    * Here base is touched only by a LEFT ANTI against the delta's key
    * set, explicitly broadcast: base rows stream through their scan
    * unshuffled, and the latest-version window runs on the delta
    * alone. When a delta outgrows broadcast size, drop the hint and
    * the same plan degrades gracefully to a shuffled anti join of the
    * slim key projection.
    */
  def upsert(base: DataFrame, delta: DataFrame, keyCol: String,
      versionCol: String, deleteCol: String): DataFrame = {
    val latest = delta
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col(versionCol).desc)))
      .filter(col("__rk") === 1)
      .drop("__rk")
    val untouched = base.join(broadcast(latest.select(col(keyCol))),
      Seq(keyCol), "left_anti")
    untouched.unionByName(
      latest.filter(!col(deleteCol)).drop(versionCol, deleteCol))
  }

  /** Slowly-changing-dimension type 2: turn a change log (one row per
    * key per effective time) into a validity-interval history — each
    * version carries `valid_from` (its own effective time),
    * `valid_to` (the NEXT version's effective time, null while
    * current) and `is_current`. Where [[upsert]] keeps only the
    * latest state, scd2 keeps every state with the interval it held —
    * the shape an as-of join (aj01) probes and an audit replays.
    *
    * One window over the change-log's key partitioning is the whole
    * plan: a single shuffle of the log (never a snapshot), lead() per
    * key, no joins. Ties on `tsCol` within a key would make the
    * interval chain non-deterministic, so they are rejected at plan
    * level: the caller guarantees unique (key, ts) — same contract as
    * upsert's unique versions.
    */
  def scd2(changes: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(byKey))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Salt for the snapshot's key→bucket layout. Fixed: the layout is
    * part of the on-disk contract.
    */
  private val SnapshotSalt = "graft-snapshot"

  def snapshotBucket(key: Column, buckets: Int): Column =
    pmod(Splits.hash60(key, SnapshotSalt), lit(buckets.toLong))
      .cast("int") // partition-value inference reads ints back

  /** Seed a bucket-partitioned snapshot for [[upsertSnapshot]]. */
  def writeSnapshot(rows: DataFrame, keyCol: String, dir: String,
      buckets: Int): Unit =
    rows.withColumn("bucket", snapshotBucket(col(keyCol), buckets))
      .write.partitionBy("bucket").mode("overwrite").parquet(dir)

  /** Apply one change batch to a bucket-partitioned parquet snapshot
    * — [[upsert]] at maintenance scale. The snapshot is
    * hash-bucketed by key; the batch's touched buckets (a tiny
    * driver-side set) are the ONLY partitions read, merged, and
    * rewritten, via dynamic partition overwrite — per-batch cost is
    * O(delta + touched buckets), never O(snapshot). Re-running the
    * same batch overwrites the same partitions with the same bytes,
    * so the streaming wrapper's foreachBatch retries are idempotent.
    */
  def upsertSnapshot(dir: String, delta: DataFrame, keyCol: String,
      versionCol: String, deleteCol: String, buckets: Int): Unit = {
    val spark = delta.sparkSession
    val withBkt = delta
      .withColumn("bucket", snapshotBucket(col(keyCol), buckets))
    val touched = withBkt.select(col("bucket")).distinct()
      .collect().map(_.getInt(0))
    if (touched.nonEmpty) {
      val base = spark.read.parquet(dir)
        .filter(col("bucket").isin(touched: _*))
      // materialize the merge BEFORE writing: the sink overwrites
      // the very partitions the merge reads (Spark otherwise refuses
      // the cycle). localCheckpoint holds only the touched buckets;
      // on a cluster with a checkpoint dir, checkpoint() — same
      // contract, off-heap-safe. The checkpoint is fully consumed by
      // the write, so its blocks are freed here (loan pattern) — a
      // streaming caller upserting every batch would otherwise pin
      // one touched-bucket copy per batch, monotonically.
      val merged = upsert(base, withBkt, keyCol, versionCol, deleteCol)
        .localCheckpoint()
      try merged.write.partitionBy("bucket").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(dir)
      finally graft.core.Pinned.unpin(merged)
    }
  }

  /** Per-key mergeable rollup fragment: count, sum, and an HLL
    * distinct-fingerprint sketch as binary state — everything a
    * serving rollup needs while staying INCREMENTALLY maintainable
    * (c09). count/sum merge by addition; count-distinct does not
    * merge, which is exactly what the sketch column is for.
    */
  def sketchRollup(f: DataFrame, keyCol: String, sumCol: String,
                   fp: Column): DataFrame =
    f.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col(sumCol)).as("sum_chars"),
      hll_sketch_agg(fp).as("fp_sketch"))

  /** Merge any union of [[sketchRollup]] fragments (persisted or
    * fresh) back into one serving rollup per key: additive merges for
    * count/sum, lossless HLL union for the sketch, estimate surfaced
    * as `est`. Equality of the additive columns with a full recompute
    * is the c09 oracle's claim.
    */
  def mergeRollups(parts: DataFrame, keyCol: String): DataFrame =
    parts.groupBy(col(keyCol)).agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("sum_chars")).as("sum_chars"),
      hll_sketch_estimate(hll_union_agg(col("fp_sketch"))).as("est"))

  /** Snapshot diff between two corpus epochs: rows added, removed, or
    * content-changed, by primary key + content fingerprint. Input
    * frames carry (pk, fingerprint) — the caller picks the
    * fingerprint (md5 of the content columns is the portable choice).
    * Unchanged rows are DROPPED: the result is churn-sized, never
    * corpus-sized. One full-outer equi-join on the pk; only
    * fingerprints shuffle. At 100 TB, write both snapshot manifests
    * bucketed by pk ([[graft.operators.Layout.writeBucketed]]) and
    * this plans with no Exchange at all (bk01).
    */
  def snapshotDiff(prev: DataFrame, cur: DataFrame,
                   pkCol: String): DataFrame = {
    // normalize each side's fingerprint to a fixed output name, so
    // the two sides may carry the SAME column name without the join
    // turning ambiguous
    def side(df: DataFrame, outName: String): DataFrame =
      df.columns.filter(_ != pkCol) match {
        case Array(fp) =>
          df.select(col(pkCol), col(fp).as(outName))
        case other => throw new IllegalArgumentException(
          s"snapshotDiff side must be ($pkCol, fingerprint), got " +
            other.mkString(","))
      }
    side(prev, "old_fp").join(side(cur, "new_fp"),
        Seq(pkCol), "full_outer")
      .withColumn("status",
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") =!= col("new_fp"), "changed"))
      .filter(col("status").isNotNull)
      .select(col(pkCol), col("status"), col("old_fp"), col("new_fp"))
  }
}

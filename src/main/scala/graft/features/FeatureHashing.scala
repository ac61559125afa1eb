package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashing-trick term frequencies (Weinberger et al. 2009, "Feature
  * Hashing for Large Scale Multitask Learning" — the `HashingTF`
  * alternative to vocabulary-based counting).
  *
  * Why it matters at corpus scale: [[Vocabulary.topK]]-style
  * featurization needs a full corpus aggregation to build the
  * dictionary *before* any document can be vectorized, plus a
  * broadcast of that dictionary into the transform. Feature hashing
  * needs neither — the token→index map is a pure hash expression, so
  * vectorization is a single stateless pass that starts on the first
  * row and never synchronizes. The price is hash collisions (two
  * tokens sharing a bucket add their counts), which is the standard,
  * well-understood trade at LLM-corpus scale.
  *
  * Two hash profiles, the d03/d05 discipline:
  *  - [[bucketOracle]]: md5-prefix → long — reproducible in DuckDB
  *    (`CAST('0x'||substring(md5(w),1,8) AS BIGINT)`), anchors the
  *    oracle row-for-row;
  *  - `SpecSupport.bucketFast` in the specs: xxhash64 — one 64-bit
  *    hash per token, the profile a deployment would run. Same
  *    pipeline, swapped expression; Round6OpsSpec proves the two
  *    profiles agree on everything hash-independent (per-doc token
  *    mass, bucket range).
  */
object FeatureHashing {

  /** md5-prefix bucket: first 8 hex chars → long → mod. Always
    * non-negative (32-bit prefix of an unsigned hash).
    */
  def bucketOracle(tok: Column, numBuckets: Int): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % numBuckets

  /** Sparse hashed-TF rows `(doc_id, bucket, tf)` — explode, hash,
    * count. One gram... one token-key shuffle ((doc, bucket) hash
    * aggregate with map-side partials); no dictionary pass, no
    * broadcast, no driver state.
    */
  def hashedTf(docs: DataFrame, idCol: String, tokens: Column,
               numBuckets: Int,
               bucket: (Column, Int) => Column = bucketOracle)
      : DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(tokens).as("tok"))
      .groupBy(col("doc_id"),
        bucket(col("tok"), numBuckets).as("bucket"))
      .agg(count(lit(1)).as("tf"))
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for large joins (the 100 TB toolbox, alongside
  * AQE's runtime skew splitting which `Sessions.local` enables).
  *
  * Salting decomposes one hot join key into `salt` sub-keys: the big
  * side tags each row with a deterministic salt in [0, salt), the
  * small side replicates `salt`×, and the join runs on (key, salt) —
  * a hot key's rows now land on `salt` different reducers instead of
  * one. Semantics are exactly those of the plain join (verified by
  * the sk01 oracle); only the partitioning changes.
  *
  * Use when ONE side is modest (replication cost = |small| × salt)
  * but too big to broadcast, and the key histogram is too skewed for
  * hash partitioning — the classic "one customer owns half the
  * events" shape. For map-side-only fixes prefer broadcast; for
  * runtime-detected skew AQE's skew-join split handles most cases
  * without replication.
  */
object SkewJoin {

  /** Inner equi-join of `big` ⋈ `small` on `key`, salted `salt` ways.
    * The salt is derived from a hash of the big side's full row
    * (xxhash64 over all columns) — deterministic across retries, no
    * RNG in the data path, uniform even when `key` itself is
    * constant.
    */
  def saltedInnerJoin(big: DataFrame, small: DataFrame, key: String,
                      salt: Int): DataFrame = {
    require(salt > 0)
    val bigCols = big.columns.map(col).toSeq
    val salted = big.withColumn("_salt",
      pmod(xxhash64(bigCols: _*), lit(salt.toLong)).cast("int"))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}

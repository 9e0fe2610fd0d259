package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation utilities (SURVEY.md §7.4.2: the co-occurrence
  * generator's hot entities are the engine's main skew hazard — a
  * stopword-like entity appearing in most chunks lands every pair on
  * one reducer).
  *
  * Two standard remedies, both deterministic:
  *  - [[saltedCount]]: two-phase aggregation — salt the group key
  *    with a deterministic per-row shard, aggregate partials on
  *    (key, salt), then aggregate the partials on (key). The first
  *    shuffle spreads a hot key over `shards` reducers; the second
  *    handles only #keys × shards rows.
  *  - [[withRelativeDfCap]]: drop keys whose document frequency
  *    exceeds a share of the corpus before a pairwise join (the
  *    DedupQ relative df-cap pattern).
  *
  * AQE's skew-join splitting (`spark.sql.adaptive.skewJoin`) covers
  * sort-merge joins at runtime; these utilities cover aggregations
  * and generator-side blowups, which AQE does not rebalance.
  */
object Skew {

  /** Deterministic salt in [0, shards): hash of tie-break columns —
    * NOT random, so results are reproducible and retries are safe.
    */
  def salt(shards: Int, tieBreak: Column*): Column =
    pmod(hash(tieBreak: _*), lit(shards))

  /** Two-phase salted count per key. Equivalent to
    * `df.groupBy(key).count()` but a hot key spreads across `shards`
    * partial aggregations before the final combine.
    */
  def saltedCount(df: DataFrame, key: String, shards: Int, tieBreak: String): DataFrame = {
    require(!df.columns.contains("_salt"),
      "input already has a _salt column — withColumn would silently overwrite it")
    df.withColumn("_salt", salt(shards, col(tieBreak)))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col(key))
      .agg(sum(col("_partial")).as("n"))
  }

  /** SALTED EQUI JOIN — the skew remedy for a shuffle join whose
    * probe side is hot on a few key values and whose build side is
    * too large to broadcast. The probe side gets a deterministic salt
    * in [0, shards); the build side is replicated once per salt value
    * (explode of a `shards`-element sequence — build×shards rows, the
    * price of the technique); the join key becomes (key, salt), so a
    * hot key's rows spread over `shards` reducers instead of one.
    * Exactly the rewrite AQE's skew-join performs at runtime for
    * sort-merge joins, available here as an explicit operator for
    * plans AQE can't rebalance (e.g. a join feeding a co-partitioned
    * downstream stage, or non-SMJ shapes). Inner and left joins only:
    * each probe row carries exactly one salt, so join multiplicity is
    * unchanged.
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
                 shards: Int, tieBreak: String,
                 joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      s"saltedJoin supports inner/left (probe-side multiplicity), got $joinType")
    // A pre-existing _salt would be silently replaced on the probe
    // side and become ambiguous/duplicated after the build explode.
    require(!probe.columns.contains("_salt") && !build.columns.contains("_salt"),
      "an input already has a _salt column — rename it before saltedJoin")
    val p = probe.withColumn("_salt", salt(shards, col(tieBreak)))
    val b = build.withColumn("_salt",
      explode(sequence(lit(0), lit(shards - 1))))
    p.join(b, Seq(key, "_salt"), joinType).drop("_salt")
  }

  /** The pre-join hot-key cap, RELATIVE to the corpus: keys in more
    * than `frac` of all distinct `docCol` values are dropped. The
    * right form at scale — an absolute cap tuned at one SF silently
    * keeps everything (or nothing) at 100×; a fraction tracks the
    * corpus. The total stays in-plan (broadcast scalar),
    * no driver collect.
    */
  def withRelativeDfCap(df: DataFrame, key: String, docCol: String,
                        frac: Double): DataFrame = {
    val total = df.agg(countDistinct(col(docCol)).as("_total"))
    val keep = df.groupBy(col(key))
      .agg(countDistinct(col(docCol)).as("_df"))
      .crossJoin(broadcast(total))
      .filter(col("_df") <= col("_total") * frac)
      .select(col(key))
    df.join(keep, Seq(key), "left_semi")
  }
}

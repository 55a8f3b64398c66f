package graft.candidates

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocking-quality evaluation for candidate generation (the standard
  * record-linkage measures; see e.g. Christen, "Data Matching", 2012 —
  * public): given a blocking key and a ground-truth match key,
  *
  *  - reduction ratio  = 1 − |blocked pairs| / |cross pairs|
  *  - pair completeness = |true matches retained by blocking| / |true matches|
  *
  * This is the measurement that justifies (or indicts) a J3 blocking
  * scheme before anyone pays for the join. The 100 TB point: none of
  * the four pair counts requires materializing a single pair — each is
  * Σ c·(c−1)/2 over group cardinalities, so the whole census is three
  * partial-aggregated count shuffles (by block key, by truth key, by
  * both) plus constant-size arithmetic. A naive implementation joins
  * the table with itself to count candidates; this one never does.
  *
  * Ratios are quantized to 1e-9 longs via exact-integer double
  * division (counts and pair counts stay below 2^53 for inputs up to
  * ~9×10^7 rows — far above any single blocking census — so the
  * doubles are exact and the IEEE division is bit-identical across
  * engines, the q40 portability rule).
  */
object Blocking {

  // c·(c−1) is even, so a right shift of the long product IS the
  // exact pair count — pure integer arithmetic (Spark's `/` is double
  // division, which loses exactness once c·(c−1) exceeds 2^53, i.e.
  // ~9.5e7 rows sharing one key; the shift is exact to c ≈ 3e9,
  // matching the oracle's `//` semantics)
  private[candidates] def pairs(c: Column): Column =
    shiftright(c.cast("long") * (c.cast("long") - 1L), 1)

  private def ratioQ(num: Column, den: Column): Column =
    when(den === 0L, lit(0L)).otherwise(
      floor(num.cast("double") / den.cast("double") * lit(1e9)).cast("long"))

  /** One-row census: n_rows, cross_pairs, block_pairs, truth_pairs,
    * covered_matches, reduction_ratio_q, pair_completeness_q.
    */
  def blockingQuality(df: DataFrame, blockCol: String, truthCol: String): DataFrame = {
    val n = df.agg(count(lit(1)).as("n_rows"))
    val block = df.groupBy(col(blockCol)).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(pairs(col("c"))), lit(0L)).as("block_pairs"))
    val truth = df.groupBy(col(truthCol)).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(pairs(col("c"))), lit(0L)).as("truth_pairs"))
    val covered = df.groupBy(col(blockCol), col(truthCol)).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(pairs(col("c"))), lit(0L)).as("covered_matches"))
    n.crossJoin(block).crossJoin(truth).crossJoin(covered)
      .withColumn("cross_pairs", pairs(col("n_rows")))
      .withColumn("reduction_ratio_q",
        ratioQ(col("cross_pairs") - col("block_pairs"), col("cross_pairs")))
      .withColumn("pair_completeness_q",
        ratioQ(col("covered_matches"), col("truth_pairs")))
      .select(col("n_rows"), col("cross_pairs"), col("block_pairs"),
        col("truth_pairs"), col("covered_matches"),
        col("reduction_ratio_q"), col("pair_completeness_q"))
  }

  /** Row cap of [[orPairCompleteness]]'s driver-collected input. */
  val maxCensusRows: Int = 1 << 20

  /** Pair completeness of an OR-of-block-keys scheme (LSH bands: a pair
    * is retained when ANY band key matches) on a truth-keyed frame —
    * the multi-key generalization [[blockingQuality]]'s single-key
    * Σc(c−1)/2 census cannot express (summing per-key group pairs would
    * double-count pairs colliding in several bands). Covered pairs come
    * from per-key equi-joins RESTRICTED to within-truth-group pairs,
    * deduplicated by pair id — so this is for BOUNDED truth sets
    * (sampled recall probes, labeled eval sets): cost is
    * Σ_key |within-group key collisions|, never corpus pairs. The
    * corpus-scale reduction-ratio side stays with [[blockingQuality]].
    * The input is collected to the driver, at most [[maxCensusRows]]
    * rows.
    *
    * Output one row: n_rows, truth_pairs, covered_matches,
    * pair_completeness_q (1e-9-quantized).
    */
  def orPairCompleteness(df: DataFrame, blockCols: Seq[String],
      truthCol: String, idCol: String): DataFrame = {
    require(blockCols.nonEmpty, "at least one block-key column required")
    // base is BOUNDED by this method's contract (sampled truth sets) but
    // its lineage usually carries the caller's sketch pass (minhash
    // band keys) — and it sits under SIX branch executions below (the
    // truth census, both sides of each per-band covered join, n_rows).
    // Collecting it to a LocalRelation computes the sketch once, every
    // branch re-reads rows (the q128/q136 multi-branch rule), and
    // nothing stays pinned in the block manager afterwards.
    val base = graft.operators.Local(df.select(col(truthCol).as("__t") +:
      col(idCol).as("__i") +: blockCols.map(col): _*).limit(maxCensusRows + 1))
    require(graft.operators.Local.count(base) <= maxCensusRows,
      s"orPairCompleteness collects its input to the driver and takes at " +
        s"most $maxCensusRows rows: pass a sampled or labelled truth set " +
        "(LshBlockingGenerator.selfRecallCensus samples one), or measure " +
        "a whole corpus with blockingQuality")
    val truth = base.groupBy(col("__t")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(pairs(col("c"))), lit(0L)).as("truth_pairs"))
    val right = base.select(col("__t").as("__t2") +: col("__i").as("__i2") +:
      blockCols.map(c => col(c).as(s"${c}_2")): _*)
    val covered = blockCols.map { bc =>
        base.join(right, col("__t") === col("__t2") &&
            col("__i") < col("__i2") && col(bc) === col(s"${bc}_2"))
          .select(col("__t"), col("__i"), col("__i2"))
      }.reduce(_ unionByName _)
      .distinct()
      .agg(count(lit(1)).as("covered_matches"))
    base.agg(count(lit(1)).as("n_rows"))
      .crossJoin(truth).crossJoin(covered)
      .withColumn("pair_completeness_q",
        ratioQ(col("covered_matches"), col("truth_pairs")))
  }
}

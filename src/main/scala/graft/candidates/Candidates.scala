package graft.candidates

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextSim
import graft.matcher.ERModel
import graft.operators.Local
import graft.schema.PairSchema

/** Support-pair search (reference local_explain.py:82-197): find records
  * of the opposite source that the model pairs with the probe record at
  * the wanted polarity, similarity-ordered so the search terminates
  * early.
  *
  * Spark-first re-expression of the reference's batched driver loop
  * (local_explain.py:112-128): instead of predicting 4k-row pandas
  * slices until k qualify, we
  *   1. cap the candidate space to the reference's total prediction
  *      budget (`batch × 20`) with TakeOrderedAndProject (no full sort,
  *      no full shuffle) and collect it,
  *   2. score the collected capped set in one pass (job-free for
  *      column-program scorers, which fold into the local rows),
  *   3. compute per-batch qualifying counts (≤ 20 tiny rows on the
  *      driver) and keep exactly the batches the reference would have
  *      consumed.
  * Result set matches the reference's early-exit semantics while doing
  * one job per probe side instead of ≤ 20 sequential ones. At 100 TB
  * the crossJoin candidate generator swaps for an LSH blocking join
  * (see graft.dedup.MinHashLsh) — the scoring/early-exit pipeline is
  * unchanged.
  */
object Candidates {

  /** Deterministic stand-in for a seeded random shuffle order. */
  def shuffleKey(a: Column, b: Column, seed: Long): Column =
    xxhash64(a.cast("string"), b.cast("string"), lit(seed))

  /** The J3+A7+O1 candidate-pair frame and its similarity ordering for
    * one probe side — shared by [[findCandidates]] and [[support]]'s
    * fused two-side search.
    *
    * J3, pluggable (SURVEY §4's scale swap): the default
    * CrossJoinGenerator replicates the (single-record) probe against
    * every source record — one BroadcastNestedLoopJoin pass with the
    * probe side explicitly broadcast (without the hint the planner sees
    * only "filtered frame × frame" and picks a CartesianProduct whose
    * task count is |partsL| × |partsR|). LshBlockingGenerator swaps the
    * full scan for a minhash-band collision filter; SampleGenerator
    * bounds it — the scoring/early-exit pipeline is unchanged.
    */
  private def candidatePairs(
      probe: DataFrame,
      source: DataFrame,
      probeIsLeft: Boolean,
      findPositives: Boolean,
      numCandidates: Int,
      maxPredict: Int,
      seed: Long,
      schema: PairSchema,
      gen: CandidateGenerator): (DataFrame, Seq[Column]) = {
    val pairs0 = gen.pairs(probe, source, probeIsLeft, schema)
    // O7 prediction cap: seeded pseudo-random subset. xxhash64 of the
    // ids replaces the reference's unseeded sample(frac=1) — same
    // "uniform random order" effect but deterministic across retries
    // and engines (SURVEY.md §7 determinism requirement).
    val pairs =
      if (maxPredict > 0)
        pairs0.orderBy(shuffleKey(col(schema.lid), col(schema.rid), seed)).limit(maxPredict)
      else pairs0

    // A7 similarity of probe text vs the varied side's text.
    val (probeCols, variedCols) = {
      val l = pairs.columns.filter(c => c.startsWith(schema.lprefix) && c != schema.lid)
      val r = pairs.columns.filter(c => c.startsWith(schema.rprefix) && c != schema.rid)
      if (probeIsLeft) (l, r) else (r, l)
    }
    val score = TextSim.tokenCosine(
      TextSim.recordText(probeCols.map(col).toIndexedSeq),
      TextSim.recordText(variedCols.map(col).toIndexedSeq))

    // O1 similarity order: descending when hunting positives
    // (reference ascending = not find_positives). Ties broken by ids for
    // determinism (pandas relies on stable sort of the input order).
    val ordCols: Seq[Column] =
      (if (findPositives) score.desc else score.asc) +:
        Seq(col(schema.lid).cast("string").asc, col(schema.rid).cast("string").asc)
    (pairs, ordCols)
  }

  /** J3 + A7 + O1 + O2 + P5: candidates for `probe` against `source`.
    *
    * @param probeIsLeft true when the probe is the left record and
    *                    `source` supplies right candidates (reference
    *                    lj=True), false for the dual.
    */
  def findCandidates(
      probe: DataFrame,
      source: DataFrame,
      probeIsLeft: Boolean,
      findPositives: Boolean,
      model: ERModel,
      numCandidates: Int,
      maxPredict: Int = -1,
      seed: Long = 42L,
      batched: Boolean = true,
      schema: PairSchema = PairSchema.default,
      gen: CandidateGenerator = CrossJoinGenerator): DataFrame = {
    val (pairs, ordCols) = candidatePairs(probe, source, probeIsLeft,
      findPositives, numCandidates, maxPredict, seed, schema, gen)
    val batch = numCandidates * 4
    if (!batched) {
      val scored = model.predict(pairs)
      val qual = if (findPositives) col("match_score") > 0.5 else col("match_score") < 0.5
      scored.filter(qual)
    } else {
      // O2 early-exit batching over the budget-capped, scored set
      // (rankedScored); the walk keeps exactly the batches the reference
      // would have consumed, and the result is a LocalRelation
      val scored = rankedScored(pairs, ordCols, batch * 20, model)
      val kept = earlyExitKept(scored.collect(), batch, numCandidates, findPositives)
      Local.fromRows(probe.sparkSession, kept.toIndexedSeq, scored.schema)
    }
  }

  /** The candidate pairs capped to the reference's total prediction
    * budget (it never predicts more than 20 batches) in similarity
    * order, scored, as a local frame whose row order IS the similarity
    * rank. The cap is one TakeOrderedAndProject job — no full sort, no
    * shuffle — or none when the pairs are local ([[Local.takeOrdered]]);
    * scoring the collected rows folds into the LocalRelation for
    * column-program scorers (a costly scorer still runs one job), and
    * ERModel appends scores row by row, so the order survives it.
    */
  private def rankedScored(pairs: DataFrame, ordCols: Seq[Column],
      budget: Int, model: ERModel): DataFrame =
    model.predict(Local.fromRows(pairs.sparkSession,
      Local.takeOrdered(pairs, ordCols, budget).toIndexedSeq, pairs.schema))

  /** The reference's early-exit batch walk over the budget-capped,
    * similarity-ordered scored rows: consume `batch`-sized windows until
    * `numCandidates` qualify, keep the consumed prefix's qualifying rows.
    * Splits = min(20, n/batch) with a final partial batch kept
    * (max(1, ...)) so sub-batch-sized sources still yield support —
    * the reference degenerates to empty there.
    */
  private def earlyExitKept(rows: Array[org.apache.spark.sql.Row], batch: Int,
      numCandidates: Int, findPositives: Boolean): Array[org.apache.spark.sql.Row] = {
    def qual(r: org.apache.spark.sql.Row): Boolean = {
      val ms = r.getAs[Double]("match_score")
      if (findPositives) ms > 0.5 else ms < 0.5
    }
    val splits = math.min(20L, math.max(1L, rows.length.toLong / batch)).toInt
    // consume batches until numCandidates qualify (reference
    // while len(result) < k && i < splits)
    var cum = 0
    var consumed = 0
    while (cum < numCandidates && consumed < splits) {
      val lo = consumed * batch
      val hi = math.min(rows.length, lo + batch)
      var i = lo
      while (i < hi) { if (qual(rows(i))) cum += 1; i += 1 }
      consumed += 1
    }
    rows.take(math.min(rows.length, consumed * batch)).filter(qual)
  }

  /** get_support (reference local_explain.py:162-197): symmetric
    * candidate search for both probe records, balanced to equal size,
    * shuffled (seeded), composite-id tagged, polarity-filtered.
    */
  def support(
      lRecord: DataFrame,
      rRecord: DataFrame,
      lsource: DataFrame,
      rsource: DataFrame,
      classToExplain: Int,
      model: ERModel,
      numTriangles: Int,
      maxPredict: Int = -1,
      useLeft: Boolean = true,
      useRight: Boolean = true,
      useAll: Boolean = false,
      seed: Long = 42L,
      schema: PairSchema = PairSchema.default,
      gen: CandidateGenerator = CrossJoinGenerator): (Boolean, DataFrame) = {

    val findPositives = classToExplain == 0
    val numCandidates = numTriangles / 2
    val spark = lsource.sparkSession

    def empty: DataFrame = {
      import org.apache.spark.sql.types.StructType
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], new StructType())
    }

    if (useAll) {
      // the rare useAll path returns a lazy distributed frame; its ≤3
      // recomputations (counts + final consumption) are accepted over
      // pinning an unbounded cache across EvalDriver's per-row explain
      // loop.
      val c4r1 = if (useRight)
        findCandidates(lRecord, rsource, probeIsLeft = true, findPositives, model,
          numCandidates, maxPredict, seed, batched = false, schema, gen)
      else empty
      val c4r2 = if (useLeft)
        findCandidates(rRecord, lsource, probeIsLeft = false, findPositives, model,
          numCandidates, maxPredict, seed, batched = false, schema, gen)
      else empty

      val n1 = if (useRight) Local.count(c4r1) else 0L
      val n2 = if (useLeft) Local.count(c4r2) else 0L
      val both = math.min(n1, n2)
      val maxLen = if (both == 0) math.max(n1, n2) else both

      // O6 balance via seeded sample-to-n (reference sample(n=max_len))
      def cap(df: DataFrame, n: Long, have: Long): DataFrame =
        if (have > n)
          df.orderBy(shuffleKey(col(schema.lid), col(schema.rid), seed)).limit(n.toInt)
        else df

      val parts = Seq(
        if (n1 > 0) Some(cap(c4r1, maxLen, n1)) else None,
        if (n2 > 0) Some(cap(c4r2, maxLen, n2)) else None).flatten
      if (parts.isEmpty) return (findPositives, empty)

      // O5 seeded shuffle of the union (reference sample(frac=1))
      val candidates = parts.reduce(_ unionByName _)
        .withColumn("id", schema.pairId(col(schema.lid), col(schema.rid)))
        .withColumn("__shuffle", shuffleKey(col("id"), lit(""), seed + 1))

      val neighborhood =
        if (findPositives) candidates.filter(col("match_score") >= 0.5)
        else candidates.filter(col("match_score") < 0.5)
      return (findPositives, neighborhood)
    }

    // Batched (default) path. Per side, the budget-capped similarity
    // ranking is one job (none over local pairs, as in the G2 augmented
    // search) and its scoring folds into the collected rows
    // (rankedScored). Everything after — the reference's early-exit
    // batch walk, the O6 balance cap, the O5 shuffle keys and the
    // polarity filter — is driver arithmetic over ≤ 2·batch·20 rows, and
    // the result is a LocalRelation (downstream counts are job-free).
    // The cap and shuffle keys are computed in-frame by the same
    // expressions (xxhash64, pairId) the lazy path evaluates, so no
    // Spark semantics are re-implemented on the driver.
    val batch = numCandidates * 4
    val sides: Seq[(DataFrame, DataFrame, Boolean)] = Seq(
      if (useRight) Some((lRecord, rsource, true)) else None,
      if (useLeft) Some((rRecord, lsource, false)) else None).flatten
    if (sides.isEmpty) return (findPositives, empty)
    val ranked = sides.map { case (probe, src, isL) =>
      val (pairs, ordCols) = candidatePairs(probe, src, isL, findPositives,
        numCandidates, maxPredict, seed, schema, gen)
      rankedScored(pairs, ordCols, batch * 20, model)
    }
    val scoredSchema = ranked.head.schema
    val keyed = ranked.map(_
      .withColumn("__capkey", shuffleKey(col(schema.lid), col(schema.rid), seed))
      .withColumn("__supid", schema.pairId(col(schema.lid), col(schema.rid)))
      .withColumn("__supshuffle", shuffleKey(
        schema.pairId(col(schema.lid), col(schema.rid)), lit(""), seed + 1)))
    val keptBySide = keyed.map(df =>
      earlyExitKept(df.collect(), batch, numCandidates, findPositives))
    // O6 balance semantics, exactly as before: n1 is the right-search
    // count when enabled else 0, n2 the left-search count; both = min,
    // maxLen = max when one side is empty/disabled.
    def sideN(isRightSearch: Boolean): Long =
      sides.zipWithIndex.collectFirst {
        case ((_, _, isL), i) if isL == isRightSearch => keptBySide(i).length.toLong
      }.getOrElse(0L)
    val n1 = sideN(true)
    val n2 = sideN(false)
    val both = math.min(n1, n2)
    val maxLen = if (both == 0) math.max(n1, n2) else both
    val keySchema = keyed.head.schema
    val capIdx = keySchema.fieldIndex("__capkey")
    val capped = keptBySide.map { rows =>
      if (rows.length > maxLen) rows.sortBy(_.getLong(capIdx)).take(maxLen.toInt)
      else rows
    }
    val candidateRows = capped.flatten
    if (candidateRows.isEmpty && n1 == 0 && n2 == 0) return (findPositives, empty)
    // polarity filter (O5 keys already ride the rows) + projection back
    // to the neighborhood schema: scored columns + id + __shuffle
    val msIdx = scoredSchema.fieldIndex("match_score")
    val keepRow: org.apache.spark.sql.Row => Boolean =
      if (findPositives) r => r.getDouble(msIdx) >= 0.5
      else r => r.getDouble(msIdx) < 0.5
    val supIdIdx = keySchema.fieldIndex("__supid")
    val supShufIdx = keySchema.fieldIndex("__supshuffle")
    val nScored = scoredSchema.length
    val outRows = candidateRows.filter(keepRow).map { r =>
      org.apache.spark.sql.Row.fromSeq(
        (0 until nScored).map(r.get) ++ Seq(r.get(supIdIdx), r.get(supShufIdx)))
    }
    val outSchema = org.apache.spark.sql.types.StructType(
      scoredSchema.fields.toIndexedSeq ++ Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("__shuffle",
          org.apache.spark.sql.types.LongType, nullable = true)))
    (findPositives, Local.fromRows(spark, outRows.toIndexedSeq, outSchema))
  }
}

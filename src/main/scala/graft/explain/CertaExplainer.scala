package graft.explain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.candidates.Candidates
import graft.matcher.ERModel
import graft.operators.Local
import graft.perturb.Perturb
import graft.schema.PairSchema
import graft.triangles.Triangles

/** The explanation result (reference explain.py:155's return tuple).
  *
  * @param saliency   one row per pair attribute: (attribute, saliency)
  * @param pss        probability of sufficiency per attribute set:
  *                   (alteredAttributes: array, attrSet: "a/b"-joined, pos)
  * @param cfSummary  the antichain of minimal max-probability sets
  * @param cfExamples counterfactual pair rows ⊕ bookkeeping ⊕ attr_count
  * @param triangles  the open triangles used: (u, v, w)
  */
final case class Explanation(
    saliency: DataFrame,
    pss: DataFrame,
    cfSummary: DataFrame,
    cfExamples: DataFrame,
    triangles: DataFrame)

/** CERTA explainer (reference explain.py:34-158, §3.1 of SURVEY.md),
  * Spark-native: the driver orchestrates the stage sequence and the
  * per-depth lattice loop (with the reference's monotonicity shortcut,
  * triangles_method.py:301-327). Stages that read the sources — the
  * support search's ranked scan, vertex resolution — and the per-depth
  * perturb-and-predict are DataFrame programs; the probe side (the two
  * records, their pair, the G2-generated records) is local from the
  * first stage on ([[graft.operators.Local]]), so its steps fold into
  * LocalRelations and run no job. No per-triangle driver loops anywhere.
  */
/** @param candidateGen J3 strategy for the support search (SURVEY §4):
  *   the default [[graft.candidates.AutoSelect]] resolves cost-based at
  *   the first `explain` call — the reference-exact
  *   [[graft.candidates.CrossJoinGenerator]] full-source scan for a
  *   single explanation under a cheap column-program scorer, the
  *   prekeyed [[graft.candidates.LshBlockingGenerator]] when the scorer
  *   is expensive or `expectedBatch ≥ 2` AND the sources clear `auto`'s
  *   corpus-size gate (small corpora always cross-scan — cheap by
  *   definition, and blocking's recall loss there can empty the
  *   support set);
  *   [[graft.candidates.SampleGenerator]] bounds it explicitly.
  * @param expectedBatch how many explanations this instance is expected
  *   to serve over the same sources — the amortization signal the
  *   cost-based resolution needs (a library cannot observe future
  *   calls). Callers looping explanations should pass their batch size
  *   (or use [[graft.eval.EvalDriver]], which does) and `close()` the
  *   explainer when done to release any prekeyed band caches.
  */
class CertaExplainer(
    lsource: DataFrame,
    rsource: DataFrame,
    schema: PairSchema = PairSchema.default,
    seed: Long = 42L,
    candidateGen: graft.candidates.CandidateGenerator =
      graft.candidates.AutoSelect,
    expectedBatch: Int = 1) extends Serializable with AutoCloseable {

  private val spark: SparkSession = lsource.sparkSession

  // lazy cost-based resolution of AutoSelect, shared by every explain
  // call on this instance and keyed by the model's cost class — one
  // instance can serve a cheap scorer with the cross scan and a costly
  // one with the blocked path without either reusing the wrong regime.
  // Each Selection owns any prekeyed caches; close() releases them all
  // (no-op for the cross path / explicit gens).
  @transient private lazy val selections = scala.collection.mutable
    .Map.empty[Boolean, graft.candidates.CandidateGenerator.Selection]
  private def resolvedGen(model: ERModel): graft.candidates.CandidateGenerator =
    candidateGen match {
      case graft.candidates.AutoSelect =>
        synchronized {
          selections.getOrElseUpdate(model.costlyScorer,
            graft.candidates.CandidateGenerator.auto(
              Seq(lsource, rsource), expectedBatch, model.costlyScorer))
            .generator
        }
      case g => g
    }

  override def close(): Unit = synchronized {
    selections.valuesIterator.foreach(_.close())
    selections.clear()
  }

  /** Both source maxima in ONE job — the only full-source aggregates in
    * the G2 fallback. The sources never change for one explainer, so
    * this runs at most once per instance, whatever the batch size.
    */
  private lazy val maxIds: (Long, Long) = staged("source max ids") {
    val r = lsource.agg(max(col("id")).as("m"))
      .crossJoin(rsource.agg(max(col("id")).as("m2"))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Tag the Spark jobs of one explainer stage (shows up in listeners /
    * the UI; stage-level attribution is how the 100 TB tuning loop
    * finds its bottleneck).
    */
  private def staged[T](name: String)(f: => T): T = {
    spark.sparkContext.setJobDescription(s"certa: $name")
    try f finally spark.sparkContext.setJobDescription(null)
  }

  // Every frame made Local below is powerset-, num_triangles- or
  // record-bounded — the same sets the reference holds in pandas — so
  // downstream consumers re-read rows instead of re-deriving lineage,
  // and counts over them are job-free.

  /** Explain the model's prediction on (lRecord, rRecord): 1-row
    * un-prefixed entity frames, as in reference explain(l_tuple, r_tuple).
    * Pass local frames ([[graft.operators.Local]], as
    * [[graft.eval.EvalDriver]] does) to skip the one collect per record
    * that localizes any other input at entry.
    */
  /** @param check      score the 12 invariant probes per triangle
    *                    (identity/symmetry/transitivity) and return the
    *                    flags on the triangles frame (reference
    *                    explain_samples `check`,
    *                    triangles_method.py:204-207, 280-283)
    * @param discardBad  with `check`: drop non-transitive triangles
    *                    before perturbation (reference `discard_bad`)
    */
  def explain(
      lRecord: DataFrame,
      rRecord: DataFrame,
      model: ERModel,
      numTriangles: Int = 100,
      attrLengthOpt: Int = -1,
      maxPredict: Int = -1,
      useLeft: Boolean = true,
      useRight: Boolean = true,
      check: Boolean = false,
      discardBad: Boolean = false): Explanation = {
    // every cache taken below is registered here and released in the
    // finally — explain() leaves nothing pinned in the block manager
    // (EvalDriver loops explanations; leaked caches accumulate without
    // bound — the round-3 q25 regression)
    val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cached(df: DataFrame): DataFrame = { df.cache(); tracked += df; df }
    try explainImpl(lRecord, rRecord, model, numTriangles, attrLengthOpt,
      maxPredict, useLeft, useRight, check, discardBad, cached)
    finally tracked.foreach(_.unpersist(false))
  }

  private def explainImpl(
      lRecord: DataFrame,
      rRecord: DataFrame,
      model: ERModel,
      numTriangles: Int,
      attrLengthOpt: Int,
      maxPredict: Int,
      useLeft: Boolean,
      useRight: Boolean,
      check: Boolean,
      discardBad: Boolean,
      cached: DataFrame => DataFrame): Explanation = {

    val gen = resolvedGen(model)
    val lAttrs = lRecord.columns.filter(_ != "id").toIndexedSeq
    val rAttrs = rRecord.columns.filter(_ != "id").toIndexedSeq
    val attrLength =
      if (attrLengthOpt > 0) attrLengthOpt else math.min(lAttrs.size, rAttrs.size)

    // stage 2: original prediction (driver argmax O8). The records are
    // localized first (no job when they already are), so the pair
    // assembly is a driver-side product — its first row is the pair
    // under explanation — and a column-program scorer's prediction folds
    // into it: no job at all for local records.
    val (lRec, rRec, pairUnderExplanation, orig) = staged("original prediction") {
      val l = Local(lRecord)
      val r = Local(rRecord)
      val pair = schema.assemblePair(l, r).limit(1)
      (l, r, pair, model.predict(pair).head())
    }
    val pc = if (orig.getAs[Double]("match_score") >
      orig.getAs[Double]("nomatch_score")) 1 else 0

    // stage 3: support search (bounded LocalRelation result: per probe
    // side one ranked scan of the opposite source, scored on the driver)
    val (_, neighborhood0) = staged("support search")(Candidates.support(
      lRec, rRec, lsource, rsource, pc, model, numTriangles,
      maxPredict, useLeft, useRight, seed = seed, schema = schema,
      gen = gen))
    if (neighborhood0.columns.isEmpty) return emptyExplanation()

    // G2 fallback (reference local_explain.py:51-60): when support is
    // short, search again among prefix/suffix-perturbed copies of the
    // probe records; generated records extend the sources the triangle
    // stages resolve against (explain.py:67). The generated frames are
    // tiny (2·Σ(tokens-1) rows per probe attribute) and local, so the
    // counts, the augmented search over them and the extended-source
    // unions replay nothing.
    //
    // The support rows live driver-side from here on (the search
    // returns true LocalRelations, so the collect is job-free) — the
    // count, the G2 union, the O3 truncation sort and the F9 labeling
    // below are driver arithmetic over ≤ 2·numTriangles bounded rows.
    var nbRows: IndexedSeq[org.apache.spark.sql.Row] =
      neighborhood0.collect().toIndexedSeq
    val nbSchema = neighborhood0.schema
    var extendedL = lsource
    var extendedR = rsource
    val n0 = nbRows.size.toLong
    if (n0 < numTriangles) {
      val (maxLid, maxRid) = maxIds
      // variants of the left probe serve as right-side candidates & v.v.
      val genFromL = staged("augment")(graft.perturb.Augment
        .generateSubsequences(lRec, startId = maxRid + 1))
      val genFromR = staged("augment")(graft.perturb.Augment
        .generateSubsequences(rRec, startId = maxLid + 1))
      if (Local.count(genFromL) > 0 && Local.count(genFromR) > 0) {
        val (_, support2) = staged("augmented support search")(Candidates.support(
          lRec, rRec, genFromR, genFromL, pc, model, numTriangles,
          maxPredict, useLeft, useRight, seed = seed, schema = schema,
          gen = gen))
        if (support2.columns.nonEmpty) {
          val rows2 = support2.collect() // LocalRelation — job-free
          if (rows2.nonEmpty) {
            nbRows = nbRows ++ rows2
            extendedL = lsource.unionByName(genFromR)
            extendedR = rsource.unionByName(genFromL)
          }
        }
      }
    }

    val nSupport = nbRows.size.toLong
    if (nSupport == 0) return emptyExplanation()

    // O3 head+tail truncation in the seeded shuffle order (reference
    // local_explain.py:63-64), driver-side: sort by (__shuffle, id) with
    // Spark's exact ordering (long asc; the id tie-break — reachable
    // only on an xxhash64 collision — compares the UTF-8 bytes unsigned,
    // UTF8String's binary order).
    val half = numTriangles / 2
    val shufIdx = nbSchema.fieldIndex("__shuffle")
    val idIdx = nbSchema.fieldIndex("id")
    val sortedRows = nbRows.sortWith { (x, y) =>
      val sx = x.getLong(shufIdx); val sy = y.getLong(shufIdx)
      if (sx != sy) sx < sy
      else {
        val ix = x.getString(idIdx); val iy = y.getString(idIdx)
        if (ix == null) iy != null
        else if (iy == null) false
        else java.util.Arrays.compareUnsigned(
          ix.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          iy.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      }
    }
    val truncatedRows =
      if (nSupport > numTriangles)
        sortedRows.zipWithIndex.collect {
          case (r, i) if i < half || i >= nSupport - half => r
        }
      else sortedRows

    // F9 label from score; pair under explanation labeled with pc
    val pairCols = pairUnderExplanation.columns.toIndexedSeq
    val msIdx = nbSchema.fieldIndex("match_score")
    val pairIdxs = pairCols.map(nbSchema.fieldIndex)
    val supportRows = truncatedRows.map { r =>
      org.apache.spark.sql.Row.fromSeq(
        pairIdxs.map(r.get) ++ Seq(r.get(idIdx),
          if (r.getDouble(msIdx) >= 0.5) 1 else 0))
    }
    // firstRow's id/label via the same expressions over the LOCAL pair
    // row (Catalyst folds deterministic projections over LocalRelation,
    // so this collect is job-free too)
    val firstRowRows = pairUnderExplanation
      .withColumn("id", schema.pairId(col(schema.lid), col(schema.rid)))
      .withColumn("label", lit(pc))
      .collect()
    val supportPairsSchema = org.apache.spark.sql.types.StructType(
      pairUnderExplanation.schema.fields.toIndexedSeq ++ Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.IntegerType, nullable = false)))
    val supportPairs = spark.createDataFrame(
      java.util.Arrays.asList((firstRowRows.toIndexedSeq ++ supportRows): _*),
      supportPairsSchema)

    // stage 4: triangle discovery (pos×neg self-joins over the bounded
    // local support set; result localized — ≤ (numTriangles/2)² rows)
    val discovered = staged("triangle discovery")(
      Local(Triangles.discover(supportPairs, schema)))
    if (Local.count(discovered) == 0) return emptyExplanation()

    // G6 invariant probes (reference triangles_method.py:280-283): the
    // reference re-scores check_properties per triangle per depth; the
    // probes are depth-independent, so ONE distributed 12-probe pass
    // suffices. With discardBad, non-transitive triangles drop before
    // any perturbation is generated.
    val (triangles, flaggedTriangles) =
      if (!check) (discovered, discovered)
      else {
        val flags = staged("invariant checks")(Local(
          Invariants.checkAll(discovered, extendedL, extendedR, model, schema)))
        if (discardBad)
          (Local(flags.filter(col("transitivity"))
            .select(col("u"), col("v"), col("w"))),
            Local(flags.filter(col("transitivity"))))
        else (discovered, flags)
      }
    val nTriangles = Local.count(triangles)
    if (nTriangles == 0) return emptyExplanation()

    // stage 5: lattice-stratified perturb & predict with monotonicity
    // shortcut (reference perturb_predict, triangles_method.py:266-334).
    // Vertex-record resolution is depth-independent — resolve() scans
    // each source once with an id-IN pushdown filter and returns bounded
    // LocalRelations; each depth replays only its explode+project.
    val resolved = staged("vertex resolution")(
      Perturb.resolve(triangles, extendedL, extendedR, schema))
    val classScoreCol = if (pc == 1) "match_score" else "nomatch_score"
    var allGood = false
    var totalFlipped = 0L
    // per-set flip counts accumulate DRIVER-side (r12): every set is
    // powerset-bounded, depth-a sets have exactly a attributes, so the
    // old cross-depth union+groupBy re-grouped rows that were already
    // disjoint — the per-depth census below IS the final ranking.
    val rankingRows = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[String], Long)]
    val flippedParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var anyDepth = false

    for (a <- 1 until attrLength) {
      val perturbations = Perturb.forDepth(resolved, a, pc, schema)
      if (!allGood) {
        val preds = cached(model.predict(perturbations)
          .withColumn("__flip", col(classScoreCol) < 0.5))
        // ONE job per depth (r12): the per-set flip census is collected
        // directly — its marginals are the old nPert/nFlip aggregate,
        // and its rows are the ranking entries the old code re-derived
        // from the cache in a second distributed pass at stage 6.
        val sets = staged(s"perturb depth $a")(
          preds.groupBy(col("alteredAttributes"))
            .agg(count(lit(1)).as("n"),
              sum(when(col("__flip"), 1L).otherwise(0L)).as("cnt"))
            .collect())
        val nPert = sets.map(_.getLong(1)).sum
        val nFlip = sets.map(_.getLong(2)).sum
        if (nPert > 0) {
          anyDepth = true
          rankingRows ++= sets.map(r => (r.getSeq[String](0), r.getLong(2)))
          flippedParts += preds.filter(col("__flip")).drop("__flip")
          totalFlipped += nFlip
          if (nFlip == nPert) allGood = true
        }
      } else {
        // synthesize flipped scores for deeper levels without model calls
        val synth = cached(perturbations
          .withColumn("match_score", lit(if (pc == 1) 0.0 else 1.0))
          .withColumn("nomatch_score", lit(if (pc == 1) 1.0 else 0.0)))
        val sets = staged(s"perturb depth $a (synthesized)")(
          synth.groupBy(col("alteredAttributes"))
            .agg(count(lit(1)).as("cnt")).collect())
        anyDepth = true
        rankingRows ++= sets.map(r => (r.getSeq[String](0), r.getLong(1)))
        flippedParts += synth
        totalFlipped += sets.map(_.getLong(1)).sum
      }
    }
    if (!anyDepth) return emptyExplanation()

    // stage 6a: A2 aggregate rankings → probability of sufficiency.
    // The result is bounded by the attribute powerset (≤ Σ C(n,a) rows,
    // data-size independent) and already aggregated per depth, so it
    // assembles driver-side — exactly the reference's pandas Series —
    // with zero additional jobs (the old union+groupBy collect here was
    // a whole distributed pass over the per-depth prediction caches).
    // pos = cnt / nTriangles with the same double ops Spark's
    // Divide(cast(long), double) runs.
    val pssRows: IndexedSeq[org.apache.spark.sql.Row] =
      rankingRows.map { case (set, cnt) =>
        org.apache.spark.sql.Row(set, cnt.toDouble / nTriangles.toDouble,
          set.mkString("/"))
      }.toIndexedSeq
    val pssSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("alteredAttributes",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("attrSet",
        org.apache.spark.sql.types.StringType)))
    def localFrame(rows: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), pssSchema)
    val pss = localFrame(pssRows)

    // stage 6b: A3 saliency = base + per-attribute flip mass — driver
    // arithmetic over the same bounded ranking rows (r12; the old
    // explode+groupBy+join job re-read the per-depth caches a third
    // time). flipCnt is an exact long sum; base + flipCnt/flips are the
    // identical IEEE double ops the old column program ran.
    val flips = (totalFlipped + nTriangles).toDouble
    val base = nTriangles / flips
    val pairAttrNames =
      lAttrs.map(schema.lprefix + _) ++ rAttrs.map(schema.rprefix + _)
    val saliencyRows = pairAttrNames.map { attr =>
      var flipCnt = 0L
      rankingRows.foreach { case (set, cnt) =>
        if (set.contains(attr)) flipCnt += cnt
      }
      org.apache.spark.sql.Row(attr, base + flipCnt.toDouble / flips)
    }
    val saliencySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("attribute",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("saliency",
        org.apache.spark.sql.types.DoubleType)))
    val saliency = spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(saliencyRows).asJava), saliencySchema)

    // stage 6c: A4 cf_summary — max-probability sets, minimal antichain
    // (reference cf_summary, triangles_method.py:254-263). Driver-side
    // over the materialized pss, as the reference computes it — the set
    // count is powerset-bounded, and a distributed self-join here would
    // cost far more than it computes.
    val maxPos = pssRows.map(_.getDouble(1)).max
    val atMax = pssRows.filter(_.getDouble(1) == maxPos)
    val atMaxSets = atMax.map(r => r.getSeq[String](0).toSet)
    val cfSummaryRows = atMax.filter { r =>
      val s = r.getSeq[String](0).toSet
      !atMaxSets.exists(b => b.size < s.size && b.subsetOf(s))
    }
    val cfSummary = localFrame(cfSummaryRows)

    // stage 6d: CF examples — flipped rows restricted to summary sets
    // (literal key set — no join), deduplicated, ordered by set size
    // (reference explain.py:73-77)
    val summaryKeys = cfSummaryRows.map(_.getString(2))
    val flippedAll = flippedParts.reduce(_ unionByName _)
    // localized: all outputs survive the finally-unpersist of the
    // per-depth prediction caches they derive from (and, like the
    // reference's returned pandas frames, cost nothing to re-read)
    val cfExamples = staged("cf examples")(Local(flippedAll
      .filter(array_join(col("alteredAttributes"), "/")
        .isin(summaryKeys.toIndexedSeq: _*))
      .dropDuplicates("copiedValues", "alteredAttributes", "droppedValues")
      .withColumn("attr_count", size(col("alteredAttributes")))
      .orderBy(col("attr_count"))))

    Explanation(saliency, pss, cfSummary, cfExamples, flaggedTriangles)
  }

  private def emptyExplanation(): Explanation = {
    val e = spark.emptyDataFrame
    Explanation(e, e, e, e, e)
  }
}

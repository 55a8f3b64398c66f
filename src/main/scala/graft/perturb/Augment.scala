package graft.perturb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-augmentation generators (reference local_explain.py:144-215
  * G1 generate_modified / generate_subsequences): for each string
  * attribute of each record and each token cut point, emit two variants
  * with the prefix / suffix dropped.
  *
  * The reference loops rows on the driver; here each attribute
  * contributes one Generator stage — explode over the cut-point
  * sequence × the {suffix-dropped, prefix-dropped} pair — so fan-out
  * (2·Σ(tokens-1) rows per record per attribute) happens executor-side.
  * Fresh ids are `offset + rank` in a deterministic total order,
  * assigned with a range-partitioned sort + zipWithIndex (never a
  * single-partition global window), or on the driver when the source
  * is local.
  */
object Augment {

  /** The G1 variant frame WITHOUT fresh ids: every prefix/suffix
    * token-drop variant of every row, original `id` column untouched.
    * [[generateSubsequences]] layers the deterministic fresh-id
    * assignment on top; censuses that are id-assignment-independent
    * (q57's — its min/max are count-derived identities, asserted as
    * such by its oracle) aggregate this frame directly and skip the
    * global sort + zipWithIndex entirely (r12, guide §1.2).
    */
  def subsequenceVariants(source: DataFrame,
      attrs: Seq[String] = Nil): (DataFrame, Seq[String]) = {
    val targetAttrs =
      if (attrs.nonEmpty) attrs
      else source.schema.fields
        .filter(f => f.name != "id" &&
          f.dataType == org.apache.spark.sql.types.StringType)
        .map(_.name).toSeq

    val perAttr = targetAttrs.map { a =>
      val toks = split(col(a), " ")
      // cut ∈ [1, nTokens-1]; variant 0 = drop prefix (keep toks[cut:]),
      // variant 1 = drop suffix (keep toks[:cut]) — local_explain.py:207-209
      val variants = flatten(transform(
        sequence(lit(1), size(toks) - 1),
        cut => array(
          array_join(slice(toks, cut + 1, size(toks) - cut), " "),
          array_join(slice(toks, lit(1), cut), " "))))
      source
        .filter(size(toks) >= 2)
        .withColumn("__newval", explode(variants))
        .withColumn(a, col("__newval"))
        .drop("__newval")
    }
    (perAttr.reduceOption(_ unionByName _).getOrElse(source.limit(0)),
      targetAttrs)
  }

  /** G1 for one source table. `attrs` defaults to every non-id string
    * column. Output: same schema as `source`, only generated rows,
    * ids starting at `startId` (reference start_id = len(source)).
    */
  def generateSubsequences(source: DataFrame, startId: Long,
      attrs: Seq[String] = Nil): DataFrame = {
    val (generated, targetAttrs) = subsequenceVariants(source, attrs)
    // fresh deterministic ids: the row's rank in a total order, so ids
    // do not depend on partitioning. The primary sort key is an 8-byte
    // hash of the (attrs, old id) tuple, NOT the attribute strings
    // themselves — range-sorting millions of document-length strings
    // dominated the generator's cost (7 s → 1.5 s on the sf0.1 census);
    // the string columns remain as tiebreakers so the order stays total
    // even on hash collisions.
    val sortCols =
      xxhash64(targetAttrs.map(col) :+ col("id").cast("string"): _*) +:
        (targetAttrs.map(col) :+ col("id").cast("string"))
    val outSchema = org.apache.spark.sql.types.StructType(
      generated.schema.fields.map(f =>
        if (f.name == "id") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    val idIdx = generated.schema.fieldIndex("id")
    def withId(r: org.apache.spark.sql.Row, i: Long) =
      org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(idIdx, startId + i))
    if (graft.operators.Local.isLocal(source)) {
      // a local source (G2's probe records) generates ≤ 2·Σ(tokens-1)
      // rows: one single-partition sort job, ids assigned on the driver,
      // and the result stays local for the searches that read it
      val rows = generated.coalesce(1).sortWithinPartitions(sortCols: _*).collect()
      graft.operators.Local.fromRows(source.sparkSession,
        rows.toIndexedSeq.zipWithIndex.map { case (r, i) => withId(r, i.toLong) },
        outSchema)
    } else {
      // range-partitioned global sort + zipWithIndex — never a
      // single-partition global window
      val indexed = generated.orderBy(sortCols: _*).rdd.zipWithIndex()
        .map { case (r, i) => withId(r, i) }
      source.sparkSession.createDataFrame(indexed, outSchema)
    }
  }

  /** G2 expand_copies (reference local_explain.py:237-302): the same
    * prefix/suffix perturbation applied to just the two probe records,
    * emitting synthetic source records with fresh ids. Operates on two
    * 1-row frames — the fan-out is tiny, but the same generator is
    * reused so semantics stay aligned.
    */
  def expandCopies(lRecord: DataFrame, rRecord: DataFrame,
      lStartId: Long, rStartId: Long): (DataFrame, DataFrame) = {
    val genLeft = generateSubsequences(lRecord, lStartId)
    val genRight = generateSubsequences(rRecord, rStartId)
    (genLeft, genRight)
  }
}

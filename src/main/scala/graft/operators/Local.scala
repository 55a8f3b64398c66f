package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LocalRelation, Sort}
import org.apache.spark.sql.types.StructType

/** Driver-resident frames. A frame whose optimized plan is a
  * LocalRelation — rows handed to `createDataFrame`, plus whatever
  * projections, filters and limits Catalyst's ConvertToLocalRelation
  * folds into them — is read without a Spark job. An explanation is a
  * chain of small steps over bounded frames, and every job such a step
  * skips removes a whole scheduler round trip.
  */
object Local {

  private def relation(df: DataFrame): Option[LocalRelation] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l)
      case _ => None
    }

  def isLocal(df: DataFrame): Boolean = relation(df).isDefined

  def fromRows(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** `df` as a LocalRelation: `df` itself when it already folds to one,
    * else its collected rows (one job). Bounded frames only.
    */
  def apply(df: DataFrame): DataFrame =
    if (isLocal(df)) df
    else fromRows(df.sparkSession, df.collect().toIndexedSeq, df.schema)

  /** Exactly `df.count()`, with no job when `df` is local. */
  def count(df: DataFrame): Long =
    relation(df).map(_.data.size.toLong).getOrElse(df.count())

  /** Exactly `df.orderBy(ord: _*).limit(n).collect()`. Over a local
    * frame the sort runs on the driver with Catalyst's own interpreted
    * ordering (the comparator the sort operator uses — no
    * re-implementation of Spark's null, NaN or string order), so no job
    * runs; anything else plans as TakeOrderedAndProject, one job.
    */
  def takeOrdered(df: DataFrame, ord: Seq[Column], n: Int): Array[Row] = {
    val q = df.orderBy(ord: _*).limit(n)
    val sort = q.queryExecution.optimizedPlan match {
      case GlobalLimit(_, LocalLimit(_, s: Sort)) => Some(s)
      case s: Sort => Some(s) // limit eliminated: the relation holds ≤ n rows
      case _ => None
    }
    sort.collect {
      case Sort(order, true, l: LocalRelation, _) if order.forall(_.deterministic) =>
        val toRow = CatalystTypeConverters.createToScalaConverter(l.schema)
        l.data.sorted(new InterpretedOrdering(order, l.output)).take(n)
          .map(r => toRow(r).asInstanceOf[Row]).toArray
    }.getOrElse(q.collect())
  }
}

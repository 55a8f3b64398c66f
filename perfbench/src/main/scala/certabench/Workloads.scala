package certabench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.explain.CertaExplainer
import graft.matcher.TokenCosineModel
import graft.sources.Tables

/** One measured operation: its wall time, the items it completed, the
  * input it ran on (`key`), the digest of its outputs, the invariant
  * violations found, and workload-specific counts for the per-layer
  * split.
  */
final case class Op(wallNs: Long, items: Long, key: String, digest: String,
    violations: Seq[String], extras: Map[String, Double] = Map.empty)

/** A benchmark workload. `stage` writes the seeded inputs into a fresh
  * directory and is repeated by the set-up rounds; `prepare` loads the
  * last staged inputs and warms up; `op(i)` runs the i-th operation
  * (inputs cycle) and checks its outputs after the timed region.
  */
abstract class Workload(val name: String, val entry: String) {
  def stage(spark: SparkSession, seed: Long, dir: String): Unit
  def prepare(spark: SparkSession, seed: Long, dir: String, work: String,
      tracer: Tracer): Unit
  def op(i: Int, tracer: Tracer, opId: Long): Op
  def close(): Unit = ()

  protected def timed[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t0)
  }
}

object Workloads {
  val numTriangles = 100
  val explainPairs = 8
  val evalPairs = 6
  val funnelReplicas = 2
  val streamChunks = 4

  def byName(name: String, nproc: Int): Workload = name match {
    case "explain_single" => new ExplainSingle
    case "explain_eval" => new ExplainEval(nproc)
    case "corpus_funnel" => new CorpusFunnel
    case "stream_dedup" => new StreamDedup
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected explain_single, explain_eval, " +
        "corpus_funnel or stream_dedup")
  }

  private[certabench] def partSource(spark: SparkSession, dir: String): DataFrame =
    Inputs.erSource(Tables.load(spark, dir, "part"))

  /** Every pair attribute the explainer scores, with the default prefixes. */
  private[certabench] val pairAttributes: Set[String] =
    Seq("name", "brand", "ptype", "psize").flatMap(a => Seq(s"ltable_$a", s"rtable_$a")).toSet
}

/** One interactive explanation per operation, on a shared explainer. */
final class ExplainSingle extends Workload("explain_single", "explain") {
  import Workloads._
  private var src: DataFrame = _
  private var explainer: CertaExplainer = _
  private var pairs: IndexedSeq[(Long, Long, Int)] = _
  private val model = TokenCosineModel()

  def stage(spark: SparkSession, seed: Long, dir: String): Unit =
    Inputs.writePart(spark, seed, dir)

  def prepare(spark: SparkSession, seed: Long, dir: String, work: String,
      tracer: Tracer): Unit = {
    src = partSource(spark, dir)
    explainer = new CertaExplainer(src, src)
    pairs = Inputs.pairs(seed, explainPairs)
    val (a, _, _) = Inputs.pairs(seed, 1, salt = 100)(0)
    explain(a, a)
  }

  private def explain(a: Long, b: Long) = {
    val e = explainer.explain(src.filter(col("id") === a), src.filter(col("id") === b),
      model, numTriangles)
    def rows(df: DataFrame): Seq[Row] = if (df.columns.isEmpty) Nil else df.collect().toSeq
    (rows(e.saliency), rows(e.pss), rows(e.cfSummary), rows(e.cfExamples), rows(e.triangles))
  }

  def op(i: Int, tracer: Tracer, opId: Long): Op = {
    val (a, b, _) = pairs(i % pairs.size)
    val (out, wall) = timed(tracer.span(entry, opId)(explain(a, b)))
    val (saliency, pss, cfSummary, cfExamples, triangles) = out
    val v = ExplainChecks.check(saliency, pss)
    Op(wall, 1L, s"pair${i % pairs.size}",
      Checks.digestLines(Seq(saliency, pss, cfSummary, cfExamples, triangles)
        .map(Checks.digest)),
      v, Map("triangles" -> triangles.size.toDouble))
  }

  override def close(): Unit = if (explainer != null) explainer.close()
}

private[certabench] object ExplainChecks {
  /** Saliency has one finite row per pair attribute; every pos is in [0,1]. */
  def check(saliency: Seq[Row], pss: Seq[Row]): Seq[String] = {
    val v = new Checks.Violations
    val attrs = saliency.map(_.getAs[String]("attribute"))
    v.check(attrs.sorted == Workloads.pairAttributes.toSeq.sorted,
      s"saliency attributes ${attrs.sorted.mkString(",")} are not one per pair attribute")
    v.check(saliency.forall(r => Checks.finite(r.getAs[Double]("saliency"))),
      "a saliency value is not finite")
    v.check(pss.nonEmpty, "no probability-of-sufficiency rows")
    v.check(pss.forall { r => val p = r.getAs[Double]("pos"); p >= 0.0 && p <= 1.0 },
      "a pos value is outside [0,1]")
    v.all
  }
}

/** One batch evaluation (reference eval.py's loop) per operation. */
final class ExplainEval(parallelism: Int) extends Workload("explain_eval", "eval") {
  import Workloads._
  private var src: DataFrame = _
  private var spark: SparkSession = _
  private var pairs: IndexedSeq[(Long, Long, Int)] = _
  private var work: String = _
  private val model = TokenCosineModel()

  def stage(spark: SparkSession, seed: Long, dir: String): Unit =
    Inputs.writePart(spark, seed, dir)

  def prepare(spark: SparkSession, seed: Long, dir: String, work: String,
      tracer: Tracer): Unit = {
    this.spark = spark
    this.work = work
    src = partSource(spark, dir)
    pairs = Inputs.pairs(seed, evalPairs)
    val warm = Inputs.pairs(seed, 3, salt = 100)
    evalCf(Seq(warm(0), warm(2)), s"$work/eval-warmup")
  }

  private def evalCf(ps: Seq[(Long, Long, Int)], outDir: String): Seq[Row] = {
    val session = spark
    import session.implicits._
    try graft.eval.EvalDriver.evalCf(src, src,
      ps.toDF("ltable_id", "rtable_id", "label"), model, outDir,
      numTriangles = numTriangles, maxRows = ps.size, parallelism = parallelism)
      .collect().toSeq
    finally Files.deleteTree(new java.io.File(outDir))
  }

  def op(i: Int, tracer: Tracer, opId: Long): Op = {
    val (rows, wall) = timed(tracer.span(entry, opId)(evalCf(pairs, s"$work/eval-$opId")))
    val v = new Checks.Violations
    v.check(rows.map(r => (r.getAs[Long]("ltableId"), r.getAs[Long]("rtableId"))) ==
      pairs.map(p => (p._1, p._2)), "evalCf rows do not match the input pairs in order")
    val metrics = Seq("validity", "proximity", "sparsity", "diversity")
    v.check(rows.forall(r => metrics.forall(m => Checks.finite(r.getAs[Double](m)))),
      "a CF metric is not finite")
    v.check(rows.forall(r => r.getAs[Long]("nCf") >= 0L && r.getAs[Double]("latencySec") > 0.0),
      "a row has a negative CF count or a non-positive latency")
    val stable = rows.map(r => Row.fromSeq(r.toSeq.patch(r.fieldIndex("latencySec"), Nil, 1)))
    Op(wall, rows.size.toLong, "pairs", Checks.digest(stable), v.all,
      rows.map(r => s"latency_s.${r.getAs[Long]("ltableId")}_${r.getAs[Long]("rtableId")}" ->
        r.getAs[Double]("latencySec")).toMap)
  }
}

/** One q196 corpus funnel per operation, over a replicated corpus. */
final class CorpusFunnel extends Workload("corpus_funnel", "queries") {
  import Workloads._
  private var spark: SparkSession = _
  private var docs: DataFrame = _
  private var embs: DataFrame = _
  private var nDocs = 0L

  def stage(spark: SparkSession, seed: Long, dir: String): Unit = {
    Inputs.writeCorpus(spark, seed, funnelReplicas, s"$dir/corpus")
    Inputs.writeCorpus(spark, seed, 1, s"$dir/warmup", maxDocuments = 200)
  }

  def prepare(spark: SparkSession, seed: Long, dir: String, work: String,
      tracer: Tracer): Unit = {
    this.spark = spark
    funnel(Tables.loadFanned(spark, s"$dir/warmup", "documents"),
      Tables.loadFanned(spark, s"$dir/warmup", "embeddings"))
    docs = Tables.loadFanned(spark, s"$dir/corpus", "documents")
    embs = Tables.loadFanned(spark, s"$dir/corpus", "embeddings")
    nDocs = Inputs.documentRows.toLong * funnelReplicas
  }

  private def funnel(d: DataFrame, e: DataFrame): Seq[Row] =
    graft.queries.PipelineQueries.pipelineFunnel(spark, d, e).collect().toSeq

  def op(i: Int, tracer: Tracer, opId: Long): Op = {
    val (ledger, wall) = timed(tracer.span(entry, opId)(funnel(docs, embs)))
    val v = new Checks.Violations
    val stages = ledger.map(r => (r.getAs[Int]("stage"), r.getAs[Long]("n_in"), r.getAs[Long]("n_out")))
    v.check(stages.map(_._1) == (1 to 7), s"ledger stages ${stages.map(_._1)} are not 1..7")
    v.check(stages.headOption.exists(_._2 == nDocs),
      s"first stage n_in ${stages.headOption.map(_._2)} is not the $nDocs input documents")
    v.check(stages.forall { case (_, in, out) => out <= in }, "a stage has n_out > n_in")
    v.check(stages.sliding(2).forall {
      case Seq(a, b) => b._2 == a._3
      case _ => true
    }, "a stage's n_in differs from the previous stage's n_out")
    def keep(stage: Int): Double = stages.find(_._1 == stage)
      .map { case (_, in, out) => if (in == 0) 0.0 else out.toDouble / in }.getOrElse(0.0)
    Op(wall, nDocs, "corpus", Checks.digest(ledger), v.all, Map(
      "dedup.exact_keep" -> keep(1), "dedup.minhash_keep" -> keep(2),
      "similarity.semdedup_keep" -> keep(3), "text.gopher_keep" -> keep(4),
      "text.decontam_keep" -> keep(5)))
  }
}

/** One drained near-duplicate dedup stream per operation. */
final class StreamDedup extends Workload("stream_dedup", "streaming") {
  import Workloads._
  private var spark: SparkSession = _
  private var inDir: String = _
  private var work: String = _
  private val staged = Inputs.documentRows.toLong

  def stage(spark: SparkSession, seed: Long, dir: String): Unit = {
    Inputs.stageStream(spark, seed, streamChunks, s"$dir/in")
    Inputs.stageStream(spark, seed, 2, s"$dir/warmup", maxDocuments = 400)
  }

  def prepare(spark: SparkSession, seed: Long, dir: String, work: String,
      tracer: Tracer): Unit = {
    this.spark = spark
    this.work = work
    stream(s"$dir/warmup", s"$work/history-warmup", tracer, -1L)
    inDir = s"$dir/in"
  }

  private final case class Drained(ids: Seq[Long], progress: Seq[Map[String, Long]])

  /** Start the stream, block until it has drained its input, stop it. */
  private def stream(in: String, history: String, tracer: Tracer, opId: Long): (Drained, Long) = {
    val ids = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    val source = spark.readStream.schema(Inputs.streamSchema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val t0 = System.nanoTime()
    val q = graft.streaming.StreamingOps.nearDupDedupStream(source, "text", "doc_id",
        history, threshold = 0.7) { (survivors, _) =>
      tracer.span("sink", opId) {
        survivors.select(col("doc_id")).collect().foreach(r => ids.add(r.getLong(0)))
      }
    }
    val wall = try { q.processAllAvailable(); System.nanoTime() - t0 } finally q.stop()
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
      .map { p =>
        Map("trigger_ms" -> p.durationMs.get("triggerExecution").longValue,
          "addbatch_ms" -> p.durationMs.get("addBatch").longValue)
      }
    import scala.jdk.CollectionConverters._
    (Drained(ids.asScala.toSeq, progress), wall)
  }

  def op(i: Int, tracer: Tracer, opId: Long): Op = {
    val history = s"$work/history-$opId"
    val (d, wall) = tracer.span(entry, opId)(stream(inDir, history, tracer, opId))
    val historyRows = spark.read.parquet(history).count()
    Files.deleteTree(new java.io.File(history))
    val v = new Checks.Violations
    v.check(d.ids.distinct.size == d.ids.size, "survivor ids are not unique")
    v.check(d.ids.size <= staged, s"${d.ids.size} survivors exceed the $staged staged documents")
    v.check(d.progress.size == streamChunks,
      s"${d.progress.size} micro-batches ran, expected $streamChunks")
    val triggers = d.progress.map(_("trigger_ms") / 1e3)
    Op(wall, staged, "stream",
      Checks.digestLines(d.ids.sorted.map(_.toString) :+ s"batches=${d.progress.size}"),
      v.all, Map(
        "streaming.batches" -> d.progress.size.toDouble,
        "streaming.addbatch_s" -> d.progress.map(_("addbatch_ms")).sum / 1e3,
        "streaming.fixed_s" -> d.progress.map(p => p("trigger_ms") - p("addbatch_ms")).sum / 1e3,
        "streaming.batch_p50_s" -> (if (triggers.isEmpty) 0.0 else Stats.median(triggers)),
        "streaming.survivor_ratio" -> d.ids.size.toDouble / staged,
        "dedup.history_rows" -> historyRows.toDouble))
  }
}

package certabench

/** The per-layer metrics of a traced run, derived from the recorded
  * spans, the jobs attributed to them and the operations' own counts.
  * Every metric is printed on every workload; a layer the workload does
  * not run reads 0.
  */
object Layers {
  /** Entry modules: the span name each workload opens around its call. */
  val entries: Seq[String] = Seq("explain", "eval", "queries", "streaming")

  private val engine: Seq[(String, String)] = Seq(
    "jobs" -> "count", "job_busy_s" -> "s", "gap_s" -> "s", "task_cpu_s" -> "s",
    "gc_s" -> "s", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB")

  /** Every per-layer metric with its unit, in print order. */
  val units: Seq[(String, String)] =
    entries.flatMap(e => engine.map { case (m, u) => s"$e.$m" -> u }) ++ Seq(
      "candidates.support_s" -> "s", "candidates.support_jobs" -> "count",
      "perturb.augment_s" -> "s", "perturb.augment_calls" -> "count",
      "matcher.original_prediction_s" -> "s", "triangles.discovery_s" -> "s",
      "triangles.found_ratio" -> "ratio", "perturb.resolve_s" -> "s",
      "perturb.depth_s" -> "s", "perturb.depth_jobs" -> "count",
      "explain.cf_examples_s" -> "s", "explain.untagged_s" -> "s",
      "eval.untagged_s" -> "s", "eval.concurrency" -> "ratio", "eval.jobs_per_pair" -> "count",
      "dedup.exact_keep" -> "ratio", "dedup.minhash_keep" -> "ratio",
      "similarity.semdedup_keep" -> "ratio", "text.gopher_keep" -> "ratio",
      "text.decontam_keep" -> "ratio",
      "streaming.batches" -> "count", "streaming.addbatch_s" -> "s",
      "streaming.fixed_s" -> "s", "streaming.jobs_per_batch" -> "count",
      "streaming.batch_p50_s" -> "s", "dedup.history_rows" -> "count",
      "streaming.survivor_ratio" -> "ratio",
      "trace.overhead_s" -> "s", "residue.rdds" -> "count")

  /** Explainer stage buckets, by the `certa: <stage>` job description. */
  private def bucket(description: String): Option[String] = {
    val stage = description.stripPrefix("certa: ")
    if (stage == description) None
    else Some(stage match {
      case "support search" | "augmented support search" => "support"
      case "augment" | "source max ids" => "augment"
      case "original prediction" => "original"
      case "triangle discovery" => "discovery"
      case "vertex resolution" => "resolve"
      case s if s.startsWith("perturb depth") => "depth"
      case "cf examples" => "cf"
      case _ => "other"
    })
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def sec(ns: Long): Double = ns / 1e9

  /** @param ops traced operations with their op ids
    * @param pairsPerEval explanations inside one eval operation
    * @param numTriangles triangles each explanation asks for
    */
  def compute(spans: Seq[Span], jobs: Seq[JobRecord], ops: Seq[(Long, Op)],
      pairsPerEval: Int, numTriangles: Int): Map[String, Double] = {
    val tree = TraceMath.subtrees(spans)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    units.foreach { case (n, _) => out(n) = 0.0 }

    val entrySpans = entries.map(e => e -> spans.filter(_.name == e)).toMap
    def under(s: Span) = TraceMath.jobsUnder(s, tree, jobs)
    for (e <- entries; ss = entrySpans(e) if ss.nonEmpty) {
      val per = ss.map { s =>
        val js = under(s)
        val busy = TraceMath.busy(s, js)
        Seq(js.size.toDouble, sec(busy), sec(s.end - s.start - busy),
          js.map(_.cpuNs).sum / 1e9, js.map(_.gcMs).sum / 1e3,
          js.map(_.shuffleWriteBytes).sum / 1048576.0, js.map(_.spillBytes).sum / 1048576.0)
      }
      engine.map(_._1).zipWithIndex.foreach { case (m, k) => out(s"$e.$m") = mean(per.map(_(k))) }
    }

    // explainer stages: per explanation, summed job time by stage
    val explainSpans = entrySpans("explain")
    val evalSpans = entrySpans("eval")
    val nExplanations = explainSpans.size + evalSpans.size * pairsPerEval
    if (nExplanations > 0) {
      val explainJobs = explainSpans.flatMap(under)
      val evalJobs = evalSpans.flatMap(under)
      val byStage = (explainJobs ++ evalJobs).groupBy(j => bucket(j.description))
      def stageS(b: String) = byStage.getOrElse(Some(b), Nil).map(_.duration).sum / 1e9 / nExplanations
      def stageJobs(b: String) = byStage.getOrElse(Some(b), Nil).size.toDouble / nExplanations
      out("candidates.support_s") = stageS("support")
      out("candidates.support_jobs") = stageJobs("support")
      out("perturb.augment_s") = stageS("augment")
      // one "source max ids" query per explanation that takes the fallback
      out("perturb.augment_calls") = (explainJobs ++ evalJobs)
        .filter(_.description == "certa: source max ids").map(_.execution)
        .distinct.size.toDouble / nExplanations
      out("matcher.original_prediction_s") = stageS("original")
      out("triangles.discovery_s") = stageS("discovery")
      out("perturb.resolve_s") = stageS("resolve")
      out("perturb.depth_s") = stageS("depth")
      out("perturb.depth_jobs") = stageJobs("depth")
      out("explain.cf_examples_s") = stageS("cf")
      if (explainSpans.nonEmpty)
        out("explain.untagged_s") = explainJobs.filter(j => bucket(j.description).isEmpty)
          .map(_.duration).sum / 1e9 / explainSpans.size
    }
    val found = ops.flatMap(_._2.extras.get("triangles"))
    if (found.nonEmpty) out("triangles.found_ratio") = found.sum / (found.size * numTriangles)

    if (evalSpans.nonEmpty) {
      out("eval.untagged_s") = mean(evalSpans.map(s =>
        under(s).filter(j => bucket(j.description).isEmpty).map(_.duration).sum / 1e9))
      out("eval.concurrency") = mean(evalSpans.map(s =>
        under(s).map(_.duration).sum.toDouble / (s.end - s.start)))
      out("eval.jobs_per_pair") = mean(evalSpans.map(s => under(s).size.toDouble / pairsPerEval))
    }

    // counts the operations report themselves (funnel ledger, stream progress)
    val extraNames = units.map(_._1).toSet
    ops.flatMap(_._2.extras.toSeq).filter { case (k, _) => extraNames(k) }
      .groupBy(_._1).foreach { case (k, vs) => out(k) = mean(vs.map(_._2)) }
    val streamSpans = entrySpans("streaming")
    if (streamSpans.nonEmpty) {
      val batches = ops.flatMap(_._2.extras.get("streaming.batches")).sum
      if (batches > 0) out("streaming.jobs_per_batch") = streamSpans.map(under(_).size).sum / batches
    }
    out.toMap
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.candidates.{CandidateGenerator, CrossJoinGenerator, LshBlockingGenerator}
import graft.explain.{CertaExplainer, Explanation}
import graft.matcher.TokenCosineModel
import graft.operators.Local
import graft.perturb.Augment

/** The probe side of an explanation is local: records, their pair, the
  * G2-generated records and every output are LocalRelations, the
  * probe-side stages run no Spark job, and none of this changes an
  * output.
  */
class LocalProbeSpec extends SparkSpec {

  import spark.implicits._

  // parquet-backed, so `filter(id === x)` is a filtered scan
  private lazy val src: DataFrame = {
    val w = Seq("alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa",
      "lambda", "theta", "zeta", "rho", "tau", "phi", "chi", "psi", "mu")
    val dir = java.nio.file.Files.createTempDirectory("localprobe").resolve("src").toString
    (0 until 48).map { i =>
      (i.toLong, s"${w(i % 7)} ${w(i % 5 + 7)} ${w(i % 3 + 12)}",
        s"brand${i % 4}", s"${w(i % 6)} steel", (i % 9).toString)
    }.toDF("id", "name", "brand", "ptype", "psize")
      .repartition(3).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def rec(id: Long): DataFrame = src.filter(col("id") === id)

  private def rows(df: DataFrame): Seq[String] =
    if (df.columns.isEmpty) Nil else df.collect().map(_.toString).toSeq.sorted

  private def fingerprint(e: Explanation): Seq[Seq[String]] =
    Seq(e.saliency, e.pss, e.cfSummary, e.cfExamples, e.triangles).map(rows)

  /** Runs `f` and returns its result with the job descriptions of every
    * Spark job it started (tagged through an inherited local property,
    * so jobs of anything else running in this JVM do not count).
    */
  private def jobsOf[T](f: => T): (T, Seq[String]) = {
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.tag") == tag)
          seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.tag", tag)
    try {
      val r = f
      assert(org.apache.spark.GraftCoreBridge.flushListenerBus(sc))
      (r, scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq)
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  private val selfPair = (5L, 5L)
  private val nonMatchPair = (0L, 15L) // token cosine 0.38: a non-match

  test("explain gives the same outputs over filtered-scan and local records") {
    val model = TokenCosineModel()
    val prekeyed = LshBlockingGenerator.forBatch(Seq(src, src))
    try {
      for (gen <- Seq(CrossJoinGenerator, prekeyed.generator)) {
        val ex = new CertaExplainer(src, src, candidateGen = gen)
        for ((l, r) <- Seq(selfPair, nonMatchPair)) {
          val (scanned, jobs) = jobsOf(ex.explain(rec(l), rec(r), model, numTriangles = 100))
          val local = ex.explain(Local(rec(l)), Local(rec(r)), model, numTriangles = 100)
          assert(fingerprint(scanned) === fingerprint(local), s"$gen ($l, $r)")
          if ((l, r) == nonMatchPair) {
            assert(jobs.contains("certa: augment"), s"$gen ($l, $r) took no G2 fallback")
            assert(scanned.saliency.columns.nonEmpty, s"$gen ($l, $r) explained nothing")
          }
        }
      }
    } finally prekeyed.close()
  }

  test("every output of a non-empty explanation is a LocalRelation") {
    val ex = new CertaExplainer(src, src)
    for ((l, r) <- Seq(selfPair, nonMatchPair)) {
      val e = ex.explain(rec(l), rec(r), TokenCosineModel(), numTriangles = 100)
      assert(e.saliency.columns.nonEmpty)
      Seq(e.saliency, e.pss, e.cfSummary, e.cfExamples, e.triangles).foreach { df =>
        assert(df.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
          df.queryExecution.optimizedPlan)
      }
    }
  }

  test("an explanation over local records runs no probe-side jobs") {
    val ex = new CertaExplainer(src, src, candidateGen = CrossJoinGenerator)
    for ((l, r) <- Seq(selfPair, nonMatchPair)) {
      val (lr, rr) = (Local(rec(l)), Local(rec(r)))
      val (_, jobs) = jobsOf(ex.explain(lr, rr, TokenCosineModel(), numTriangles = 100))
      assert(jobs.count(_ == "certa: original prediction") === 0, jobs)
      assert(jobs.count(_ == "certa: support search") <= 3, jobs)
      // the G2 records and the search over them stay on the driver
      assert(jobs.count(_ == "certa: augmented support search") === 0, jobs)
    }
  }

  test("generateSubsequences: local and multi-partition inputs give the same ids") {
    val recs = Seq((7L, "a b c d", "x y"), (3L, "e f", "z"), (9L, "g h i", "u v w"))
      .toDF("id", "name", "city")
    val local = Augment.generateSubsequences(Local(recs), startId = 100L)
    val spread = Augment.generateSubsequences(recs.repartition(3), startId = 100L)
    assert(Local.isLocal(local) && !Local.isLocal(spread))
    def byId(df: DataFrame): Seq[Row] = df.collect().sortBy(_.getAs[Long]("id")).toSeq
    assert(byId(local).nonEmpty)
    assert(byId(local) === byId(spread))
    assert(local.schema === spread.schema)
  }

  test("forBatch and auto key and count a frame passed twice once") {
    val sc = spark.sparkContext
    val s = src
    val (one, jobsOne) = jobsOf(LshBlockingGenerator.forBatch(Seq(s)))
    one.close()
    val (twice, jobsTwice) = jobsOf(LshBlockingGenerator.forBatch(Seq(s, s)))
    try {
      assert(jobsTwice.size === jobsOne.size)
      assert(sc.getPersistentRDDs.size === 1)
    } finally twice.close()
    assert(sc.getPersistentRDDs.isEmpty)
    // auto's size gate as well (the census is off here)
    def auto(sources: Seq[DataFrame]) = jobsOf(CandidateGenerator.auto(sources, 8,
      costlyScorer = true, minCorpusForBlocking = 1L, minPairCompleteness = 0.0))
    val (autoOne, autoJobsOne) = auto(Seq(s))
    autoOne.close()
    val (autoTwice, autoJobsTwice) = auto(Seq(s, s))
    try {
      assert(autoTwice.isPrekeyed && autoJobsTwice.size === autoJobsOne.size)
      assert(sc.getPersistentRDDs.size === 1)
    } finally autoTwice.close()
    assert(sc.getPersistentRDDs.isEmpty)
  }
}

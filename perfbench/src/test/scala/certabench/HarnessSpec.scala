package certabench

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private val tmp = new java.io.File("target/spec-data")

  override def afterAll(): Unit = {
    spark.stop()
    Files.deleteTree(tmp)
  }

  test("a percentile is reported only with at least ten samples beyond it") {
    def samples(n: Int) = (1 to n).map(_.toDouble)
    assert(Stats.tail(samples(19)).isEmpty)
    assert(Stats.tail(samples(20)) == Some((50.0, 10.0)))
    assert(Stats.tail(samples(99)).map(_._1) == Some(50.0))
    assert(Stats.tail(samples(100)) == Some((90.0, 90.0)))
    assert(Stats.tail(samples(200)).map(_._1) == Some(95.0))
    assert(Stats.tail(samples(1000)).map(_._1) == Some(99.0))
    assert(Stats.tail(samples(10000)).map(_._1) == Some(99.9))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time subtracts the union of the child intervals inside the span") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Nil) == 0L)
    // overlapping children count once; a child running past the span is clipped
    assert(Stats.selfTime(0L, 100L, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50L)
    assert(Stats.selfTime(0L, 100L, Nil) == 100L)
    val spans = Seq(Span(1, "op", -1, 1, 0L, 100L), Span(2, "a", 1, 1, 10L, 40L),
      Span(3, "b", 2, 1, 20L, 30L), Span(4, "c", 1, 1, 60L, 70L))
    assert(TraceMath.selfTime(spans.head, spans) == 60L)
    assert(TraceMath.selfTime(spans(1), spans) == 20L)
    assert(TraceMath.subtrees(spans)(1L) == Set(1L, 2L, 3L, 4L))
  }

  test("jobs from pool threads created inside a span are attributed to it") {
    val tracer = new Tracer(spark.sparkContext)
    tracer.enable()
    spark.range(10).count() // outside every span
    tracer.span("outer", 1L) {
      val pool = Executors.newFixedThreadPool(3)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence((1 to 6).map { i =>
        Future(tracer.span("inner", 1L)(spark.range(i * 100).count()))
      }), Duration.Inf)
      finally pool.shutdown()
      spark.range(5).count()
    }
    tracer.disable()
    val spans = tracer.recorded
    val outer = spans.find(_.name == "outer").get
    val inner = spans.filter(_.name == "inner")
    assert(inner.size == 6 && inner.forall(_.parent == outer.id))
    val jobs = tracer.jobs
    val tree = TraceMath.subtrees(spans)
    val (before, during) = jobs.partition(_.start < outer.start)
    assert(before.nonEmpty && before.forall(_.span == -1L))
    assert(TraceMath.jobsUnder(outer, tree, jobs).map(_.id) == during.map(_.id))
    assert(inner.forall(s => jobs.exists(_.span == s.id)))
    assert(jobs.forall(j => j.end >= j.start && j.tasks > 0))
    assert(TraceMath.busy(outer, TraceMath.jobsUnder(outer, tree, jobs)) <= outer.end - outer.start)
  }

  test("the same seed gives the same inputs and the same output digests") {
    def partDigest(dir: String) = {
      Inputs.writePart(spark, 7L, dir)
      Checks.digest(spark.read.parquet(s"$dir/part.parquet").collect().toSeq)
    }
    assert(partDigest(s"$tmp/a") == partDigest(s"$tmp/b"))
    assert(Inputs.pairs(7L, 6) == Inputs.pairs(7L, 6))
    assert(Inputs.pairs(7L, 6) != Inputs.pairs(8L, 6))

    val src = Workloads.partSource(spark, s"$tmp/a").filter(col("id") < 400)
    def explained(): String = {
      val e = new graft.explain.CertaExplainer(src, src)
        .explain(src.filter(col("id") === 3), src.filter(col("id") === 3),
          graft.matcher.TokenCosineModel(), numTriangles = 10)
      val outs = Seq(e.saliency, e.pss, e.cfSummary, e.cfExamples, e.triangles)
        .map(df => df.collect().toSeq)
      assert(ExplainChecks.check(outs(0), outs(1)).isEmpty)
      Checks.digestLines(outs.map(Checks.digest))
    }
    assert(explained() == explained())
  }

  test("digests ignore row order and last-place float differences only") {
    val a = Seq(Row(1L, 0.1 + 0.2), Row(2L, 1.0))
    val b = Seq(Row(2L, 1.0), Row(1L, 0.3))
    assert(Checks.digest(a) == Checks.digest(b))
    assert(Checks.digest(a) != Checks.digest(Seq(Row(2L, 1.0), Row(1L, 0.30001))))
  }
}

package certabench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, run the workload's operations
  * as a closed loop (one client, the next operation starts when the last
  * one returns) for the requested seconds, check every output, and print
  * one `CERTABENCH ` line of JSON for `run.py` to finish.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> [--trace-out <file>]
  */
object Main {
  /** Set-up rounds whose median is reported. */
  val setupRounds = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = new java.io.File(need("work")).getAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"certabench-$name")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      // the status store keeps a record of every job, stage and query it
      // saw; bounding it keeps that bookkeeping out of retained_heap_mb
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bootS = (System.currentTimeMillis() - jvmStart) / 1e3
    var code = 0
    try {
      val result = run(spark, Workloads.byName(name, nproc), seed, seconds, trace, work,
        opt.get("trace-out"), bootS, nproc)
      println("CERTABENCH " + Json.write(result))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  private def run(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
      trace: Boolean, work: String, traceOut: Option[String], bootS: Double,
      nproc: Int): Map[String, Any] = {
    val tracer = new Tracer(spark.sparkContext)

    // set-up: stage the inputs several times, keep the last, warm up once
    val rounds = (1 to setupRounds).map { r =>
      val dir = s"$work/inputs-$r"
      val t0 = System.nanoTime()
      w.stage(spark, seed, dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (r < setupRounds) Files.deleteTree(new java.io.File(dir))
      s
    }
    val t0 = System.nanoTime()
    w.prepare(spark, seed, s"$work/inputs-$setupRounds", work, tracer)
    val warmupS = (System.nanoTime() - t0) / 1e9
    val setupS = bootS + Stats.median(rounds) + warmupS

    // measure: a closed loop until the time is up. A traced run runs
    // every input twice, traced and untraced, so the difference is the
    // tracing overhead; which goes first alternates with the input and
    // the seed, so a JVM still warming up does not favour one side.
    final case class Done(opId: Long, traced: Boolean, op: Op, error: Option[String],
        residue: Seq[String])
    val done = mutable.ArrayBuffer.empty[Done]
    var opId = 0L
    def once(i: Int, traced: Boolean): Unit = {
      if (traced) tracer.enable() else tracer.disable()
      opId += 1
      val (op, error) =
        try (w.op(i, tracer, opId), None)
        catch {
          case e: Throwable =>
            (Op(0L, 0L, s"input$i", "", Nil), Some(s"${e.getClass.getName}: ${e.getMessage}"))
        }
      val sc = spark.sparkContext
      val residue = sc.getPersistentRDDs.values.toSeq.map(r => s"rdd ${r.id} ${r.name}") ++
        spark.streams.active.toSeq.map(q => s"query ${q.id} ${q.name}")
      done += Done(opId, traced, op, error, residue)
    }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (done.isEmpty || System.nanoTime() < deadline) {
      if (!trace) once(i, traced = false)
      else (if ((i + seed) % 2 == 0) Seq(true, false) else Seq(false, true)).foreach(once(i, _))
      i += 1
    }
    tracer.disable()
    w.close()

    val ok = done.toSeq.filter(d => d.error.isEmpty && d.op.violations.isEmpty)
    val walls = ok.filter(!_.traced).map(_.op.wallNs / 1e9)
    val failures = done.flatMap(d => d.error.toSeq ++ d.op.violations.map(v => s"${d.op.key}: $v"))

    val heapMb = retainedHeapMb(spark)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        require(walls.nonEmpty, "no operation succeeded: " + failures.take(3).mkString("; "))
        val items = ok.map(_.op.items).sum
        Seq(("setup_s", setupS, "s"),
          ("op_p50_s", Stats.median(walls), "s"),
          ("items_per_s", items / walls.sum, "1/s"),
          ("retained_heap_mb", heapMb, "MB"))
      } else {
        val spans = tracer.recorded
        val jobs = tracer.jobs
        val traced = ok.filter(_.traced)
        val untraced = ok.filter(!_.traced)
        val layers = Layers.compute(spans, jobs, traced.map(d => d.opId -> d.op),
          Workloads.evalPairs, Workloads.numTriangles) ++ Map(
          "trace.overhead_s" -> (if (traced.isEmpty || untraced.isEmpty) 0.0
            else Stats.median(traced.map(_.op.wallNs / 1e9)) -
              Stats.median(untraced.map(_.op.wallNs / 1e9))),
          "residue.rdds" -> done.last.residue.size.toDouble)
        traceOut.foreach(f => writeTrace(f, spans, jobs))
        Layers.units.map { case (n, u) => (n, layers(n), u) }
      }

    val tail = Stats.tail(walls)
    Map(
      "workload" -> w.name, "seed" -> seed, "trace" -> trace,
      "attempted" -> done.size, "failed" -> done.count(d => d.error.nonEmpty || d.op.violations.nonEmpty),
      "failures" -> failures.take(20),
      "ops" -> done.map(d => Map("id" -> d.opId, "key" -> d.op.key, "digest" -> d.op.digest,
        "wall_s" -> d.op.wallNs / 1e9, "traced" -> d.traced, "counts" -> d.op.extras,
        "ok" -> (d.error.isEmpty && d.op.violations.isEmpty))),
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "diagnostics" -> Map(
        "nproc" -> nproc,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "setup" -> Map("jvm_and_session_s" -> bootS, "stage_rounds_s" -> rounds,
          "warmup_s" -> warmupS),
        "op_samples" -> walls.size,
        "op_tail" -> tail.map { case (p, v) => Map("percentile" -> p, "value_s" -> v) }.orNull,
        "residue" -> done.last.residue,
        "residue_after_op" -> done.map(_.residue.size)))
  }

  /** Heap still reachable after the run: the least used heap seen after
    * each of several full collections. Spark releases broadcast blocks
    * and shuffle bookkeeping from a cleaner thread once a collection has
    * found their handles unreachable, so each collection is followed by
    * a pause for that thread.
    */
  private def retainedHeapMb(spark: SparkSession): Double = {
    org.apache.spark.GraftCoreBridge.flushListenerBus(spark.sparkContext)
    val memory = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      memory.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** The trace file: every span with its self time, and every job. */
  private def writeTrace(path: String, spans: Seq[Span], jobs: Seq[JobRecord]): Unit = {
    val doc = Map(
      "spans" -> spans.sortBy(_.start).map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.opId, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_s" -> TraceMath.selfTime(s, spans) / 1e9)),
      "jobs" -> jobs.map(j => Map("id" -> j.id, "span" -> j.span, "description" -> j.description,
        "execution" -> j.execution, "start_ns" -> j.start, "end_ns" -> j.end, "tasks" -> j.tasks, "cpu_s" -> j.cpuNs / 1e9,
        "gc_s" -> j.gcMs / 1e3, "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "spill_bytes" -> j.spillBytes)))
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, Json.write(doc).getBytes("UTF-8"))
  }
}

/** A minimal JSON encoder for maps, sequences, strings, numbers and booleans. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

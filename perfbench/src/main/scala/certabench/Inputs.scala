package certabench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Seeded generators for the benchmark's inputs. They follow the shape
  * of the sf0.1 fixture tables the catalog runs on (row counts, value
  * domains, duplicate rates), so the library sees the same kind of data
  * without the benchmark reading anything outside its own checkout.
  * The same seed always gives the same rows.
  */
object Inputs {
  val partRows = 20000
  val documentRows = 5000
  val embeddingRows = 2000
  val embeddingDim = 64

  private val adjectives = Seq("large", "hot", "blue", "red", "new", "cold", "old", "small")
  private val nouns = Seq("ring", "bolt", "anvil", "rod", "plate", "gear", "gizmo", "widget")
  private val types = Seq("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
  private val vocabulary = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  /** Tokens the funnel's quality gate counts as English stop words; the
    * replica salt leaves them intact so replicas pass the gate as the
    * original documents do.
    */
  private val stopWords = Set("the", "a")
  private val languages = Seq("en", "en", "zh", "es", "fr", "de")

  private def rng(seed: Long, stream: Long) = new SplittableRandom(seed * 1000003L + stream)

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.mode("overwrite").parquet(path)

  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType), StructField("p_name", StringType),
    StructField("p_brand", StringType), StructField("p_type", StringType),
    StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))

  /** `part`: TPC-H-style parts, 64 names x 25 brands x 6 types x 50 sizes. */
  def partTable(seed: Long): IndexedSeq[Row] = {
    val r = rng(seed, 1)
    (0 until partRows).map { i =>
      Row(i.toLong, s"${adjectives(r.nextInt(8))} ${nouns(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.size)),
        1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)
    }
  }

  def writePart(spark: SparkSession, seed: Long, dir: String): Unit =
    write(spark, partTable(seed), partSchema, s"$dir/part.parquet")

  /** The q25 entity projection of `part`: string records keyed by id. */
  def erSource(part: DataFrame): DataFrame = part.select(
    col("p_partkey").as("id"), col("p_name").as("name"), col("p_brand").as("brand"),
    col("p_type").as("ptype"), col("p_size").cast("string").as("psize"))

  /** The lower-cased tokens of a part's projected attributes. */
  private def tokens(r: Row): Set[String] =
    Seq(r.getString(1), r.getString(2), r.getString(3), r.getInt(4).toString)
      .flatMap(_.toLowerCase.split(" ")).toSet

  /** `k` record pairs: even positions are self-pairs (a, a) labelled 1;
    * odd positions pair `a` with a record `b` drawn uniformly among those
    * sharing no token with it, labelled 0. Such a pair is a non-match to
    * the token matcher, so every random pair takes the same explanation
    * path; a random pair that happens to share tokens may be predicted a
    * match and explain in a fraction of the time, which would make the
    * cost of a pair set depend on how many such pairs the seed drew.
    */
  def pairs(seed: Long, k: Int, salt: Long = 0L): IndexedSeq[(Long, Long, Int)] = {
    val part = partTable(seed)
    val r = rng(seed, 2 + salt)
    (0 until k).map { i =>
      val a = r.nextInt(partRows)
      if (i % 2 == 0) (a.toLong, a.toLong, 1)
      else {
        var b = r.nextInt(partRows)
        while ((tokens(part(a)) & tokens(part(b))).nonEmpty) b = r.nextInt(partRows)
        (a.toLong, b.toLong, 0)
      }
    }
  }

  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** `documents` texts: 10-100 tokens from a 30-word vocabulary; 5% are
    * an earlier document with one token appended (near duplicates) and
    * 0.2% an exact copy of an earlier document.
    */
  def documentTexts(seed: Long): IndexedSeq[(String, String)] = {
    val r = rng(seed, 3)
    val texts = new Array[String](documentRows)
    (0 until documentRows).map { i =>
      val u = r.nextDouble()
      texts(i) =
        if (i > 0 && u < 0.05) texts(r.nextInt(i)) + " dup"
        else if (i > 0 && u < 0.052) texts(r.nextInt(i))
        else Seq.fill(10 + r.nextInt(91))(vocabulary(r.nextInt(vocabulary.size))).mkString(" ")
      (texts(i), languages(r.nextInt(languages.size)))
    }
  }

  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** `embeddings`: unit-norm Gaussian vectors with a label in 0..9. */
  def embeddingVectors(seed: Long): IndexedSeq[(Array[Float], Int)] = {
    val r = rng(seed, 4)
    (0 until embeddingRows).map { _ =>
      val v = Array.fill(embeddingDim)(gaussian(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      (v.map(x => (x / norm).toFloat), r.nextInt(10))
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u1 = r.nextDouble().max(1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** `documents` and `embeddings` replicated `replicas` times into
    * `dir`. Replica `j` of document `d` has id `d * replicas + j`. Its
    * text salts every non-stop-word token with `r<j>`, so replicas share
    * no content shingles, and its embedding permutes the dimensions with
    * a per-replica permutation, so replicas are not semantic duplicates.
    * With one replica the tables are the unsalted originals.
    */
  def writeCorpus(spark: SparkSession, seed: Long, replicas: Int, dir: String,
      maxDocuments: Int = documentRows): Unit = {
    val texts = documentTexts(seed).take(maxDocuments)
    val docs = for {
      (t, d) <- texts.zipWithIndex; j <- 0 until replicas
    } yield {
      val text =
        if (replicas == 1) t._1
        else t._1.split(" ").map(w => if (stopWords(w)) w else s"${w}r$j").mkString(" ")
      Row(d.toLong * replicas + j, text, t._2, s"src${d % 20}", text.length.toLong)
    }
    write(spark, docs, documentSchema, s"$dir/documents.parquet")

    val r = rng(seed, 5)
    val perms = (0 until replicas).map { j =>
      if (j == 0) (0 until embeddingDim).toArray
      else shuffled(r, embeddingDim)
    }
    val vecs = embeddingVectors(seed).take(maxDocuments)
    val embs = for {
      ((v, label), d) <- vecs.zipWithIndex; j <- 0 until replicas
    } yield Row(d.toLong * replicas + j, perms(j).map(v(_)).toSeq, label)
    write(spark, embs, embeddingSchema, s"$dir/embeddings.parquet")
  }

  private def shuffled(r: SplittableRandom, n: Int): Array[Int] = {
    val a = (0 until n).toArray
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** The streamed `documents` columns. */
  val streamSchema: StructType = StructType(documentSchema.fields.take(4))

  /** Stage `documents` (doc_id, text, lang, source) for a file stream:
    * a seeded permutation of the documents split into `chunks` parts,
    * each one parquet file `chunk-<i>.parquet` in `inDir`, with
    * increasing modification times so the stream reads them in order.
    * Returns the number of staged documents.
    */
  def stageStream(spark: SparkSession, seed: Long, chunks: Int, inDir: String,
      maxDocuments: Int = documentRows): Long = {
    val texts = documentTexts(seed).take(maxDocuments)
    val order = shuffled(rng(seed, 6), texts.size)
    val per = (texts.size + chunks - 1) / chunks
    val dir = new java.io.File(inDir)
    dir.mkdirs()
    order.grouped(per).zipWithIndex.foreach { case (ids, i) =>
      val rows = ids.toSeq.sorted.map { d =>
        Row(d.toLong, texts(d)._1, texts(d)._2, s"src${d % 20}")
      }
      val tmp = s"$inDir-tmp$i"
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), streamSchema)
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet"))
      require(part.length == 1, s"chunk $i staged as ${part.length} files, expected 1")
      val dest = new java.io.File(dir, f"chunk-$i%03d.parquet")
      java.nio.file.Files.move(part.head.toPath, dest.toPath)
      dest.setLastModified(1000000000000L + i * 1000L)
      Files.deleteTree(new java.io.File(tmp))
    }
    texts.size.toLong
  }
}

/** Small file-system helpers. */
object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

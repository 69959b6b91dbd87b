package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's own seeded input generator: the text corpus and the
  * embedding table the training-data queries read, with the shapes and
  * value ranges of the library's documents/embeddings tables, one parquet
  * file per table (the activity-event stream is generated beside its
  * workload). Nothing here calls into the library, so a change to the
  * program can never change the benchmark's inputs: the same seed always
  * gives the same row content.
  */
object Gen {
  val Vocab: Array[String] = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "en", "zh", "es", "fr", "de", "zh", "es", "fr", "de")
  val EventTypes = Array("signup", "purchase", "view", "click", "error")
  val EmbedDim = 64

  /** Independent, reproducible stream per (seed, purpose). */
  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong * 0xC2B2AE3D27D4EB4FL)

  /** Write `rows` as ONE parquet file at `dir/name.parquet`. */
  def writeTable(spark: SparkSession, dir: String, name: String, schema: StructType,
      rows: Seq[Row]): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $name"))
    Files.move(part, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    deleteTree(tmp)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
  }

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)

  case class Doc(id: Long, text: String, lang: String, source: String)
  case class Emb(id: Long, vec: Array[Float], label: Int)

  /** Base corpus: word texts of 10..100 tokens over a 30-word vocabulary,
    * 5% planted near-duplicates (a copy of another doc plus " dup"). */
  def documents(seed: Long, n: Int): Array[Doc] = {
    val r = rng(seed, "documents")
    val texts = Array.fill(n) {
      val len = 10 + r.nextInt(91)
      Array.fill(len)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    }
    for (i <- 0 until n if r.nextInt(20) == 0) texts(i) = texts(r.nextInt(n)) + " dup"
    Array.tabulate(n)(i => Doc(i, texts(i), Langs(r.nextInt(Langs.length)), s"src${i % 20}"))
  }

  /** Unit vectors with a weak per-label offset, like sentence embeddings
    * of ten topics. */
  def embeddings(seed: Long, n: Int): Array[Emb] = {
    val r = rng(seed, "embeddings")
    val centers = Array.fill(10, EmbedDim)(r.nextGaussian() * 0.009)
    Array.tabulate(n) { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(EmbedDim)(d => r.nextGaussian() / 8 + centers(label)(d))
      Emb(i, normalize(v), label)
    }
  }

  private def normalize(v: Array[Double]): Array[Float] = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  val DocSchema: StructType = StructType(Seq(f("doc_id", LongType), f("text", StringType),
    f("lang", StringType), f("source", StringType), f("n_chars", LongType)))
  val EmbSchema: StructType = StructType(Seq(f("vec_id", LongType),
    f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType)))

  def writeCorpus(spark: SparkSession, dir: String, docs: Seq[Doc], embs: Seq[Emb]): Unit = {
    Files.createDirectories(Paths.get(dir))
    writeTable(spark, dir, "documents", DocSchema,
      docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)))
    writeTable(spark, dir, "embeddings", EmbSchema,
      embs.map(e => Row(e.id, e.vec.toSeq, e.label)))
  }

  /** A fresh corpus snapshot: every base doc and vector twice, each copy
    * independently jittered (3% of tokens swapped, gaussian noise on the
    * vector), drawn from `key` alone. */
  def snapshot(base: (Array[Doc], Array[Emb]), key: Long): (Seq[Doc], Seq[Emb]) = {
    val r = rng(key, "snapshot")
    val docs = for (d <- base._1.toSeq; c <- 0 until 2) yield {
      val toks = d.text.split(" ").map(t =>
        if (r.nextInt(100) < 3) Vocab(r.nextInt(Vocab.length)) else t)
      Doc(d.id * 2 + c, toks.mkString(" "), d.lang, d.source)
    }
    val embs = for (e <- base._2.toSeq; c <- 0 until 2) yield
      Emb(e.id * 2 + c, normalize(e.vec.map(x => x + r.nextGaussian() * 0.02)), e.label)
    (docs, embs)
  }
}

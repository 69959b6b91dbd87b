package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result fingerprint: row count plus the exact sum of
  * one 64-bit hash per row. Addition commutes, so neither row order nor
  * partitioning can change it, while any changed, missing or extra row
  * does. Map columns are hashed through their JSON form (Spark cannot
  * hash maps directly). */
object Fingerprint {
  private def hashable(c: StructField) =
    if (containsMap(c.dataType)) to_json(col(s"`${c.name}`")) else col(s"`${c.name}`")

  private def containsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => containsMap(a.elementType)
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): String = {
    val h = if (df.schema.isEmpty) lit(0L) else xxhash64(df.schema.fields.map(hashable).toIndexedSeq: _*)
    val row = df.select(h.as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast(DecimalType(38, 0))).as("s"))
      .head()
    val s = if (row.isNullAt(1)) "0" else row.getDecimal(1).toBigInteger.toString
    s"${row.getLong(0)}:$s"
  }

  /** Rows in a fingerprint (its count part). */
  def rows(fp: String): Long = fp.takeWhile(_ != ':').toLong
}

/** Phase timings on stderr, for reading a run's set-up cost. */
object Log {
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[perfbench] $name%s ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}

/** Minimal JSON writer/reader for the benchmark's own files. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** A flat JSON object of string values. */
  def readStringMap(path: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(path), classOf[java.util.Map[String, Object]])
    m.asScala.map { case (k, v) => k -> String.valueOf(v) }.toMap
  }
}

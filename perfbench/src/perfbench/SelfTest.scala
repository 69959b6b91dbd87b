package perfbench

import graft.Tables
import org.apache.spark.sql.functions._

/** JVM-side self-tests, run by `run.py --self-test`: the result
  * fingerprint ignores row order and partitioning but not content, and
  * the tracer counts each planner phase once although the noop write
  * re-measures the tracker of the DataFrame it writes. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession(args.headOption.getOrElse("2"))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rows = (0 until 500).map(i => (i.toLong, s"w$i", i * 0.5, Seq(i, i + 1), Map("k" -> i)))
    val df = rows.toDF("id", "s", "x", "arr", "m")
    val base = Fingerprint.of(df)
    val checks = Seq(
      "reversed order" -> (Fingerprint.of(rows.reverse.toDF("id", "s", "x", "arr", "m")) == base),
      "repartitioned" -> (Fingerprint.of(df.repartition(7, col("s"))) == base),
      "sorted descending" -> (Fingerprint.of(df.orderBy(col("x").desc)) == base),
      "one value changed" -> (Fingerprint.of(df.withColumn("x",
        when(col("id") === 3, lit(9.0)).otherwise(col("x")))) != base),
      "one row dropped" -> (Fingerprint.of(df.filter(col("id") =!= 3)) != base),
      "one row duplicated" -> (Fingerprint.of(df.union(df.filter(col("id") === 3))) != base),
      "row count" -> (Fingerprint.rows(base) == 500L),
      "empty frame" -> (Fingerprint.of(df.limit(0)) == "0:0")).map { case (n, ok) => s"fingerprint $n" -> ok }
    val all = checks ++ plannerPhases(spark)
    spark.stop()
    all.foreach { case (n, ok) => System.err.println(s"${if (ok) "ok  " else "FAIL"} $n") }
    if (all.exists(!_._2)) sys.exit(1)
  }

  /** A query is constructed, analysed and collected once (as an eager
    * builder may do with its own result), then 300 ms later written to
    * the noop sink, as the traced pass does it. The listener reports the
    * collect with the result's tracker, and the pass records that tracker
    * again after construction; the write's command has a tracker of its
    * own, though Spark also merges the write's analysis into the
    * result's, across the gap. Each phase must be recorded once, and none
    * across the gap. */
  def plannerPhases(spark: org.apache.spark.sql.SparkSession): Seq[(String, Boolean)] = {
    import spark.implicits._
    val tr = new Tracer
    spark.listenerManager.register(tr.queryListener)
    val gapUs = 300000L
    val cStart = tr.nowUs()
    val q = (0 until 100).toDF("x").groupBy(col("x") % 7).count()
    q.collect()
    org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
    tr.phases(q.queryExecution.tracker, -1)
    val cEnd = tr.nowUs()
    Thread.sleep(gapUs / 1000)
    val eStart = tr.nowUs()
    q.write.format("noop").mode("overwrite").save()
    org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(tr.queryListener)
    val merged = q.queryExecution.tracker.phases("analysis")
    val plan = tr.spans.filter(_.name.startsWith("plan."))
    def count(name: String, lo: Long, hi: Long) =
      plan.count(s => s.name == s"plan.$name" && s.startUs >= lo - 1000 && s.endUs <= hi + 1000)
    Seq(
      "planner: Spark merged the write's analysis into the result's" ->
        ((merged.endTimeMs - merged.startTimeMs) * 1000L >= gapUs),
      "planner: no phase recorded across the gap" -> plan.forall(s => s.endUs - s.startUs < gapUs),
      "planner: each construct-time phase recorded once" ->
        Seq("analysis", "optimization", "planning").forall(n => count(n, cStart, cEnd) == 1),
      "planner: each write phase recorded once" ->
        Seq("analysis", "optimization", "planning").forall(n => count(n, eStart, tr.nowUs()) == 1))
  }
}

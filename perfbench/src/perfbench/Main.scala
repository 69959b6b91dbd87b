package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.{Memo, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: one process, one SparkSession from
  * `Tables.localSession(cpus)`, all load from this one thread. It runs
  * set-up, then whole passes of the workload until `--seconds` of timed
  * work are done, then checks every timed result, and writes the raw
  * samples (and, traced, all spans) as JSON for run.py to reduce.
  *
  * Traced runs alternate untraced and traced passes, so one run gives
  * both the layer split and the tracing overhead.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, expected: Option[String], cpus: String, t0Ms: Long,
      record: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("out"), m.get("expected"), m("cpus"), m("t0-ms").toLong, m.get("record"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = Log.phase("session")(Tables.localSession(o.cpus))
    spark.sparkContext.setLogLevel("ERROR")
    val expected = o.expected.filter(p => Files.exists(Paths.get(p)))
      .map(Json.readStringMap).getOrElse(Map.empty)
    o.record match {
      case Some(path) => record(spark, o, path)
      case None => run(spark, o, expected)
    }
    spark.stop()
  }

  private def workload(o: Opts, ctx: Ctx): Workload = o.workload match {
    case "corpus_fresh" => new CorpusFresh(ctx)
    case "event_stream" => new EventStreamWl(ctx)
    case other => sys.error(s"unknown workload $other")
  }

  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def run(spark: SparkSession, o: Opts, expected: Map[String, String]): Unit = {
    val tracer = if (o.trace) Some(new Tracer) else None
    val ctx = Ctx(spark, o.seed, o.work, expected)
    val wl = workload(o, ctx)
    wl.setup()
    val setupS = (System.currentTimeMillis() - o.t0Ms) / 1000.0

    val ops = ArrayBuffer.empty[Op]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var timed = 0.0
    var p = 0
    // traced runs go untraced, traced, untraced, ... so the traced passes
    // can be compared with untraced ones on either side
    val minPasses = if (o.trace) 3 else 1
    while (timed < o.seconds || p < minPasses) {
      val passTracer = tracer.filter(_ => p % 2 == 1)
      val traced = passTracer.isDefined
      val storage0 = storageBytes(spark)
      val passSpan = passTracer.map { tr =>
        spark.sparkContext.addSparkListener(tr.sparkListener)
        spark.listenerManager.register(tr.queryListener)
        tr.open()
      }.getOrElse(-1L)
      val passStartUs = passTracer.map(_.nowUs()).getOrElse(0L)
      val passOps = wl.pass(p, passTracer, passSpan)
      passTracer.foreach { tr =>
        tr.close(passSpan, -1, "pass", passStartUs, Map("pass" -> p))
        org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tr.sparkListener)
        spark.listenerManager.unregister(tr.queryListener)
      }
      val runS = passOps.map(_.seconds).sum
      passes += Map("pass" -> p, "traced" -> traced, "run_s" -> runS, "ops" -> passOps.size,
        "cached_rdds" -> spark.sparkContext.getPersistentRDDs.size,
        "storage_bytes" -> storageBytes(spark),
        "retained_bytes" -> (storageBytes(spark) - storage0))
      ops ++= passOps
      timed += runS
      p += 1
    }

    val checked = Log.phase("check")(wl.check(ops.toSeq))
    val extra: Map[String, Any] = if (o.trace) layerExtras(spark, wl) else Map.empty
    val out = Map(
      "workload" -> o.workload, "seed" -> o.seed, "setup_s" -> setupS,
      "spark_version" -> spark.version,
      "heap_bytes" -> Runtime.getRuntime.maxMemory,
      "passes" -> passes.toSeq,
      "ops" -> checked.map(op => Map("pass" -> op.pass, "name" -> op.name, "key" -> op.key,
        "seconds" -> op.seconds, "error" -> op.error,
        "rows" -> op.rows)),
      "extra" -> extra,
      "spans" -> tracer.map(_.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs)))
        .getOrElse(Seq.empty))
    Files.write(Paths.get(o.out), Json.write(out).getBytes("UTF-8"))
  }

  /** Layer numbers that do not come from spans: the SQL-function
    * micro-timings and the streaming progress reports. */
  private def layerExtras(spark: SparkSession, wl: Workload): Map[String, Any] = {
    // per fed batch: durations summed over its micro-batches and both
    // queries, state as held after it
    val stream = wl match {
      case s: EventStreamWl => s.streamProgress.map { prs =>
        def d(k: String) = prs.map(pr => Option(pr.durationMs.get(k)).map(_.longValue()).getOrElse(0L)).sum
        val last = prs.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
        val ops = last.flatMap(_.stateOperators.toSeq)
        Map("rows" -> prs.map(_.numInputRows).sum, "add_batch_ms" -> d("addBatch"),
          "planning_ms" -> d("queryPlanning"), "wal_commit_ms" -> d("walCommit"),
          "state_commit_ms" -> prs.flatMap(_.stateOperators.map(_.commitTimeMs)).sum,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_bytes" -> ops.map { so =>
            val custom = Option(so.customMetrics).map(m =>
              Seq("rocksdbTotalMemoryUsage", "rocksdbSstFileSize")
                .map(k => Option(m.get(k)).map(_.longValue()).getOrElse(0L)).max).getOrElse(0L)
            math.max(so.memoryUsedBytes, custom)
          }.sum)
      }
      case _ => Seq.empty
    }
    Map("functions" -> functionTimings(spark), "stream_progress" -> stream,
      "batch_events" -> (if (stream.isEmpty) 0 else EventStreamWl.BatchSize))
  }

  /** ns per row of each registered SQL function over a generated corpus. */
  def functionTimings(spark: SparkSession): Map[String, Double] = {
    import spark.implicits._
    val docs = Gen.documents(Gen.rng(1, "fn").nextLong(), 5000).map(_.text).toSeq
    val text = (0 until 10).map(_ => docs.toDF("text")).reduce(_ union _).cache()
    val embs = Gen.embeddings(7, 500).map(_.vec.toSeq).toSeq
    val e = embs.toDF("v")
    val pairs = e.select(col("v").as("a")).crossJoin(e.select(col("v").as("b"))).cache()
    val nText = text.count(); val nPairs = pairs.count()
    def nsPerRow(df: org.apache.spark.sql.DataFrame, expression: String, n: Long): Double = {
      val ts = (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        df.agg(sum(expr(expression))).head()
        (System.nanoTime() - t0).toDouble
      }.sorted
      ts(2) / n
    }
    val res = Map(
      "shingle_hash32" -> nsPerRow(text, "size(shingle_hash32(text, 5))", nText),
      "cosine_sim" -> nsPerRow(pairs, "cosine_sim(a, b)", nPairs),
      "dot_prod" -> nsPerRow(pairs, "dot_prod(a, b)", nPairs))
    text.unpersist(); pairs.unpersist()
    res
  }

  /** Record expected fingerprints: every ladder query on every corpus
    * snapshot variant. */
  def record(spark: SparkSession, o: Opts, path: String): Unit = {
    def fp(q: String, dir: String) = Fingerprint.of(graft.SparkEntry.queries(q)(spark, dir))
    val fps: Seq[(String, String)] = o.workload match {
      case "corpus_fresh" =>
        val base = (Gen.documents(CorpusFresh.DataSeed, CorpusFresh.BaseDocs),
          Gen.embeddings(CorpusFresh.DataSeed, CorpusFresh.BaseVectors))
        (0 until CorpusFresh.Variants).flatMap { v =>
          val d = s"${o.work}/record/v$v"
          val (docs, embs) = Gen.snapshot(base, CorpusFresh.variantKey(v))
          Gen.writeCorpus(spark, d, docs, embs)
          val r = CorpusFresh.Queries.map(q => s"v$v/$q" -> fp(q, d))
          Memo.clear()
          System.err.println(s"[perfbench] recorded variant $v")
          r
        }
      case other => sys.error(s"$other has no recorded expectations")
    }
    Files.write(Paths.get(path), Json.write(scala.collection.immutable.ListMap(fps: _*))
      .getBytes("UTF-8"))
  }
}

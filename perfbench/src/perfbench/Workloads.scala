package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.SparkEntry
import graft.streaming.{Event, EventStream}
import org.apache.spark.perfbenchshim.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** One timed operation: a query run to a materialized result, or one
  * micro-batch. `key` names its expected fingerprint; `df` is kept so the
  * result can be checked after the timed window. */
final case class Op(pass: Int, name: String, key: String, seconds: Double,
    error: Option[String], df: Option[DataFrame] = None,
    rows: Option[Long] = None)

/** Shared context of one run. */
final case class Ctx(spark: SparkSession, seed: Long, work: String,
    expected: Map[String, String])

trait Workload {
  /** Input generation and warm-up; its time is `setup_s`. */
  def setup(): Unit
  /** One timed pass; traced passes get a tracer and their pass span. */
  def pass(p: Int, tr: Option[Tracer], passSpan: Long): Seq[Op]
  /** Check every timed result outside the timed region. */
  def check(ops: Seq[Op]): Seq[Op]
}

/** Closed loop, one client: the training-data ladder over a corpus
  * snapshot the session has never seen, so caches keyed on the input miss
  * while the JIT stays warm. */
final class CorpusFresh(ctx: Ctx) extends Workload {
  private val base = (Gen.documents(CorpusFresh.DataSeed, CorpusFresh.BaseDocs),
    Gen.embeddings(CorpusFresh.DataSeed, CorpusFresh.BaseVectors))
  /** Snapshot variants in the order this seed visits them. */
  private val variants = new Random(ctx.seed).shuffle((0 until CorpusFresh.Variants).toVector)
  private var used = 0
  private val ready = scala.collection.mutable.Queue.empty[(Int, String)]

  private def generate(): Unit = {
    val v = variants(used % variants.size)
    val d = s"${ctx.work}/corpus/s$used-v$v"
    used += 1
    val (docs, embs) = Gen.snapshot(base, CorpusFresh.variantKey(v))
    Gen.writeCorpus(ctx.spark, d, docs, embs)
    ready.enqueue(v -> d)
  }

  def setup(): Unit = {
    Log.phase("generate")((0 until 3).foreach(_ => generate()))
    // a cold pass, then a warm one on another snapshot. The JIT is still
    // compiling after them: the first timed pass reads 5-10% slower than
    // the next, and run_s, the median pass of a run, sets it aside
    for (w <- 0 until 2) {
      val (_, d) = ready.dequeue()
      CorpusFresh.Queries.foreach(q => Log.phase(s"warm$w $q")(SparkEntry.queries(q)(ctx.spark, d)
        .write.format("noop").mode("overwrite").save()))
    }
  }

  def pass(p: Int, tr: Option[Tracer], passSpan: Long): Seq[Op] = {
    if (ready.isEmpty) generate() // outside any timed query
    val (v, d) = ready.dequeue()
    CorpusFresh.Queries.map(q => timeQuery(tr, p, q, s"v$v/$q", d, passSpan))
  }

  /** Time one query from the `fn(spark, dir)` call until its result is
    * fully written to the `noop` sink. Traced, it records a query span
    * with construct and execute children; Spark's own events fill in
    * jobs, stages and planner phases underneath. */
  private def timeQuery(tracer: Option[Tracer], p: Int, name: String, key: String,
      dir: String, passSpan: Long): Op = {
    val fn = SparkEntry.queries(name)
    def write(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    tracer match {
      case None =>
        val t0 = System.nanoTime()
        try {
          val df = fn(ctx.spark, dir)
          write(df)
          Op(p, name, key, (System.nanoTime() - t0) / 1e9, None, Some(df))
        } catch { case e: Throwable => Op(p, name, key, 0, Some(e.toString)) }
      case Some(tr) =>
        val q = tr.open(); val qStart = tr.nowUs()
        val t0 = System.nanoTime()
        val res = try {
          val c = tr.open(); val cStart = tr.nowUs()
          val df = try fn(ctx.spark, dir) finally tr.close(c, q, "construct", cStart)
          // the result's own analysis ran inside construction
          tr.phases(df.queryExecution.tracker, c)
          val e = tr.open(); val eStart = tr.nowUs()
          try write(df) finally tr.close(e, q, "execute", eStart)
          Op(p, name, key, (System.nanoTime() - t0) / 1e9, None, Some(df))
        } catch { case e: Throwable => Op(p, name, key, 0, Some(e.toString)) }
        tr.close(q, passSpan, "query", qStart, Map("name" -> name))
        Bus.drain(ctx.spark.sparkContext)
        res
    }
  }

  /** Fingerprint every timed query result and compare it with the
    * recorded expectation. */
  def check(ops: Seq[Op]): Seq[Op] = ops.map { op =>
    if (op.error.isDefined) op
    else try {
      val fp = Fingerprint.of(op.df.get)
      val err = ctx.expected.get(op.key) match {
        case Some(want) if want == fp => None
        case Some(want) => Some(s"fingerprint $fp != expected $want")
        case None => Some(s"no expected fingerprint for ${op.key} (got $fp)")
      }
      op.copy(error = err, rows = Some(Fingerprint.rows(fp)), df = None)
    } catch { case e: Throwable => op.copy(error = Some("check: " + e), df = None) }
  }
}

object CorpusFresh {
  val DataSeed = 42L
  val BaseDocs = 250
  val BaseVectors = 100
  /** Distinct snapshots a seed can draw; each has recorded expectations. */
  val Variants = 32
  def variantKey(v: Int): Long = 7919L * (v + 1)
  /** The ladder's rungs that exercise distinct kernels: exact and
    * minhash dedup, containment, the shingle-hash fingerprint, TF-IDF,
    * token counts, and brute-force and LSH-banded embedding similarity. */
  val Queries: Seq[String] = Seq(
    "q_dedup_exact", "q_dedup_minhash_pairs", "q_containment", "q_fingerprint",
    "q_tfidf", "q_token_count", "q_ann_brute", "q_embed_neardup")
}

/** One event of the generated stream (the events-table schema). */
final case class StreamEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** Closed loop of fixed-size micro-batches through the two RocksDB
  * stateful operators: transformWithState sessionization and sharded
  * Space-Saving top resources. Each timed operation adds one batch and
  * waits until both queries have processed it. The timed queries write to
  * memory sinks, so the check reads exactly the rows they produced. */
final class EventStreamWl(ctx: Ctx) extends Workload {
  import EventStreamWl._
  private val spark = ctx.spark
  import spark.implicits._

  private val batches: IndexedSeq[Seq[StreamEvent]] =
    Log.phase("generate")((0 until MaxBatches).map(b => gen(ctx.seed, b)))
  private var fed = 0
  private var pair: Pair = _
  /** Micro-batch progress of the timed queries, per fed batch. */
  private val progress = ArrayBuffer.empty[Seq[StreamingQueryProgress]]

  private final class Pair(name: String, sink: String) {
    val mSess = MemoryStream[Event](spark)
    val mTop = MemoryStream[(Long, Timestamp, String)](spark)
    private def start(ds: org.apache.spark.sql.Dataset[_], q: String) = {
      val w = ds.writeStream.format(sink).outputMode("append")
        .option("checkpointLocation", s"${ctx.work}/ckpt/$name-$q")
      (if (sink == "memory") w.queryName(s"${name}_$q") else w).start()
    }
    val qSess: StreamingQuery = start(EventStream.sessionizeTws(mSess.toDS()), "sess")
    val qTop: StreamingQuery = start(EventStream.topResourcesStream(
      mTop.toDF().toDF("event_id", "ts", "props")), "top")

    private var seen = Map(qSess.id -> -1L, qTop.id -> -1L)

    /** Adds one batch to both queries and waits until both have processed
      * it; returns the progress of every micro-batch that ran (a data
      * batch, and for the sessionizer a no-data batch that fires timers). */
    def feed(b: Seq[StreamEvent]): Seq[StreamingQueryProgress] = {
      mSess.addData(b.map(e => Event(e.event_id, e.ts, e.user_id, e.event_type, e.value)))
      mTop.addData(b.map(e => (e.event_id, e.ts, e.props)))
      qSess.processAllAvailable()
      qTop.processAllAvailable()
      Seq(qSess, qTop).flatMap { q =>
        val fresh = q.recentProgress.filter(_.batchId > seen(q.id)).toSeq
        fresh.lastOption.foreach(p => seen += q.id -> p.batchId)
        fresh
      }
    }
    def stop(): Unit = { qSess.stop(); qTop.stop() }
  }

  def setup(): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // a throw-away stream pair warms codegen, RocksDB and the JIT
    val warm = new Pair("warm", "noop")
    (0 until WarmBatches).foreach(b =>
      Log.phase(s"warm batch $b")(warm.feed(gen(ctx.seed ^ 0x5EED, b))))
    warm.stop()
    pair = new Pair("timed", "memory")
    while (fed < PrimeBatches) {
      progress += Log.phase(s"prime batch $fed")(pair.feed(batches(fed))); fed += 1
    }
  }

  def pass(p: Int, tr: Option[Tracer], passSpan: Long): Seq[Op] =
    (0 until BatchesPerPass).map(_ => batch(p, tr, passSpan))

  private def batch(p: Int, tr: Option[Tracer], passSpan: Long): Op = {
    require(fed < MaxBatches, s"stream ran out of pre-generated batches ($MaxBatches)")
    val b = batches(fed)
    val id = tr.map(_.open()).getOrElse(-1L)
    val startUs = tr.map(_.nowUs()).getOrElse(0L)
    val t0 = System.nanoTime()
    val res = try {
      val pr = pair.feed(b)
      progress += pr
      Op(p, "batch", s"b$fed", (System.nanoTime() - t0) / 1e9, None,
        rows = Some(pr.map(_.sink.numOutputRows).sum))
    } catch { case e: Throwable => Op(p, "batch", s"b$fed", 0, Some(e.toString)) }
    tr.foreach { t =>
      t.close(id, passSpan, "batch", startUs, Map("events" -> b.size))
      Bus.drain(spark.sparkContext)
    }
    fed += 1
    res
  }

  /** Checks the rows the timed queries wrote: the emitted sessions
    * against an offline sessionization of the same events, and the final
    * top-k summaries against Space-Saving's guarantees over the exact
    * resource counts. A wrong output fails every timed batch. */
  def check(ops: Seq[Op]): Seq[Op] = {
    pair.stop()
    val sessions = spark.table("timed_sess").as[(Long, Timestamp, Timestamp, Long, Long)]
      .collect().toSeq
    val topk = spark.table("timed_top")
      .selectExpr("shard", "item", "est", "err", "n_seen").as[(Long, String, Long, Long, Long)]
      .collect().toSeq
    val fedEvents = batches.take(fed).flatten
    val err = checkSessions(fedEvents, sessions).orElse(checkTopK(fedEvents, topk))
    ops.map(op => if (op.error.isDefined) op else op.copy(error = err))
  }

  def streamProgress: Seq[Seq[StreamingQueryProgress]] = progress.toSeq
}

object EventStreamWl {
  val BatchSize = 2000
  val Users = 800
  val BatchesPerPass = 4
  // the first users' last sessions leave the state at about batch 11
  // (30-minute gap plus the 2-hour watermark). With 12 priming batches a
  // run's first timed pass was still 15-20% slower than its last, and
  // run_s spread more from run to run than with 16
  val PrimeBatches = 16
  val WarmBatches = 3
  val MaxBatches = 120
  val HotResources = 5
  val TailResources = 4096
  // the sessionizer's documented contract (30-minute gap, 2-hour
  // watermark), restated here so the reference does not move with the code
  private val GapMs = 30 * 60 * 1000L
  private val WatermarkMs = 2 * 3600 * 1000L

  /** Batch `b`: a 15-minute slice of event time with a sliding window of
    * active users (the front advances Users/8 per batch, the tail goes
    * quiet and its sessions close) and a hot-head/long-tail resource mix
    * (30% of events on five hot resources). */
  def gen(seed: Long, b: Int): Seq[StreamEvent] = {
    val r = Gen.rng(seed, s"stream-$b")
    val t0 = 86400000L + b * 900000L
    val ts = Array.fill(BatchSize)(t0 + r.nextLong(900000L)).sorted
    ts.indices.map { i =>
      val user = b.toLong * Users / 8 + r.nextInt(Users)
      val res = if (r.nextInt(10) < 3) r.nextInt(HotResources)
        else HotResources + (math.pow(r.nextDouble(), 2) * TailResources).toInt
      StreamEvent(b.toLong * BatchSize + i, new Timestamp(ts(i)), user,
        Gen.EventTypes(r.nextInt(Gen.EventTypes.length)),
        r.nextInt(10000) / 100.0, s"""{"k":"res$res"}""")
    }
  }

  type Sess = (Long, Timestamp, Timestamp, Long, Long)

  /** Every emitted session must be a complete session of the offline
    * sessionization; every session that was provably closed before the
    * last batch (followed by a later session, or quiet past the final
    * watermark) must have been emitted exactly once. */
  def checkSessions(events: Seq[StreamEvent], got: Seq[Sess]): Option[String] = {
    val ref = events.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
      val sorted = es.map(_.ts.getTime).sorted
      val out = ArrayBuffer.empty[(Long, Long, Long, Long)]
      var start = sorted.head; var last = start; var n = 1L
      sorted.tail.foreach { t =>
        if (t - last <= GapMs) { last = t; n += 1 }
        else { out += ((u, start, last, n)); start = t; last = t; n = 1 }
      }
      val closedByGap = out.toSeq.map(s => (s, true))
      closedByGap :+ (((u, start, last, n), false))
    }
    val emitted = got.map(s => (s._1, s._2.getTime, s._3.getTime, s._4))
    if (emitted.distinct.size != emitted.size) return Some("a session was emitted twice")
    val refSet = ref.map(_._1).toSet
    emitted.find(s => !refSet.contains(s)).foreach(s => return Some(s"spurious session $s"))
    // the watermark in force for the last batch: max event time of the
    // batches before it, minus the 2-hour delay
    val lastBatchStart = events.last.event_id / BatchSize * BatchSize
    val wm = events.filter(_.event_id < lastBatchStart).map(_.ts.getTime).max - WatermarkMs
    val must = ref.collect { case (s, true) => s; case (s, false) if s._3 + GapMs + 1000 < wm => s }
    val emittedSet = emitted.toSet
    must.find(s => !emittedSet.contains(s)).map(s => s"missing closed session $s")
  }

  /** Space-Saving per shard: est >= true count >= est - err, and every
    * item with more than n_seen/capacity occurrences in its shard is held. */
  def checkTopK(events: Seq[StreamEvent], got: Seq[(Long, String, Long, Long, Long)],
      shards: Int = 8, capacity: Int = 64): Option[String] = {
    val truth = events.map(e => e.props.drop(6).dropRight(2)).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val finalSnap = got.groupBy(_._1).map { case (shard, rows) =>
      val maxSeen = rows.map(_._5).max
      shard -> rows.filter(_._5 == maxSeen)
    }
    if (finalSnap.keySet != (0L until shards).toSet)
      return Some(s"top-k snapshots for shards ${finalSnap.keySet.toSeq.sorted}")
    for ((shard, rows) <- finalSnap) {
      val inShard = truth.filter { case (k, _) => math.floorMod(k.hashCode, shards) == shard }
      if (rows.head._5 != inShard.values.sum)
        return Some(s"shard $shard saw ${rows.head._5} of ${inShard.values.sum} events")
      for ((_, item, est, err, _) <- rows) {
        val t = inShard.getOrElse(item, 0L)
        if (est < t || est - err > t) return Some(s"item $item est=$est err=$err true=$t")
      }
      val held = rows.map(_._2).toSet
      inShard.find { case (k, c) => c > rows.head._5 / capacity && !held.contains(k) }
        .foreach { case (k, c) => return Some(s"heavy item $k ($c) missing from shard $shard") }
    }
    None
  }
}

package perfbench

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, explode, lit, split}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.SparkEntry
import graft.sql.{SpjCompiler, SpjParser}
import graft.streaming.CorpusStream

/** Shared bookkeeping: timed operations and captured outputs. */
abstract class Base(spark: SparkSession, a: Main.Args, res: Result) extends Workload {
  protected val resultsDir = new File(a.work, "results")
  resultsDir.mkdirs()

  /** Writes a frame's rows (one JSON object per line, after a header line
    * with the column names) for the correctness checks in run.py. */
  protected def capture(name: String, df: DataFrame): Unit = {
    val rows = df.collect()
    val w = Files.newBufferedWriter(new File(resultsDir, s"$name.jsonl").toPath)
    try {
      w.write(Main.mapper.writeValueAsString(df.columns)); w.newLine()
      rows.foreach { r => w.write(r.json); w.newLine() }
    } finally w.close()
  }

  protected val setupFailures = new java.util.ArrayList[String]()
  res.put("setup_failures", setupFailures)

  protected def attempt(name: String)(body: => Unit): Unit =
    try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        setupFailures.add(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** A timed operation: latency, outcome, and the spans around it. */
  protected def timedOp(ops: java.util.ArrayList[Any], name: String,
      req: String, tracer: Tracer)(body: => Unit): Unit = {
    val t0 = Clock.nowNs()
    val err = try { tracer.span(spark, "request", req)(body); null } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        s"${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    val o = new JMap[String, Any]()
    o.put("name", name); o.put("start_ns", t0); o.put("end_ns", Clock.nowNs())
    o.put("ok", err == null); if (err != null) o.put("error", err)
    ops.add(o)
  }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Drops RDD blocks a job left behind (localCheckpoint, persist), so one
    * job's debt is not billed to the next. */
  protected def hygiene(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }
}

/** Closed loop, one client: generated SPJ-dialect queries, each parse ->
  * SpjCompiler.run -> noop write. Setup runs every query of the pool once,
  * capturing its rows for the DuckDB check; the window then runs whole
  * cycles through the pool, each in a seeded order. */
final class SpjAdhoc(spark: SparkSession, a: Main.Args, plan: JsonNode, res: Result)
    extends Base(spark, a, res) {
  private val queries = node(plan.get("queries")).map(q => q.get("id").asText -> q.get("spj").asText)
  private val order = node(plan.get("order")).map(_.asInt)
  private var cursor = 0

  def setup(): Unit = queries.foreach { case (id, sql) =>
    attempt(id) {
      val df = SpjCompiler.run(spark, a.dir, sql)
      capture(id, df)
    }
  }

  def run(seconds: Double, tracer: Tracer, probe: Option[LayerProbe]): Result = {
    val w = new Result
    val ops = new java.util.ArrayList[Any]()
    val t0 = Clock.nowNs()
    // whole cycles through the pool, until the budget is spent, so every
    // query weighs the same in the window whatever the seeded order
    while (ops.isEmpty || (Clock.nowNs() - t0) / 1e9 < seconds) {
      (1 to queries.size).foreach { _ =>
        val (id, sql) = queries(order(cursor % order.size))
        val req = s"q$cursor"
        cursor += 1
        timedOp(ops, id, req, tracer) {
          tracer.span(spark, "sql.parse", req)(SpjParser.parse(sql))
          val df = tracer.span(spark, "sql.compile", req)(SpjCompiler.run(spark, a.dir, sql))
          probe.foreach(_.builtFrame(df.queryExecution, req))
          tracer.span(spark, "action", req)(noop(df))
        }
      }
    }
    w.put("ops", ops)
    w.put("ops_per_pass", queries.size)
    w
  }
}

/** One batch of corpus jobs in a fixed sequence, run by name through
  * SparkEntry.queries. Setup runs the sequence twice, capturing every output
  * the first time; the window runs whole passes. */
final class CorpusBatch(spark: SparkSession, a: Main.Args, plan: JsonNode, res: Result)
    extends Base(spark, a, res) {
  private val jobs = node(plan.get("jobs")).map(_.asText)

  private def build(job: String): DataFrame = SparkEntry.queries(job)(spark, a.dir)

  def setup(): Unit = {
    jobs.foreach(j => attempt(j) { capture(j, build(j)); hygiene() })
    // a second, untimed pass as the window runs it: one pass leaves the JIT
    // short of steady state (the next pass ran 13% faster)
    jobs.foreach(j => attempt(j) { noop(build(j)); hygiene() })
    val oracle = new JMap[String, Any]()
    jobs.foreach(j => SparkEntry.oracleSql.get(j).foreach(sql => oracle.put(j, sql)))
    res.put("oracle_sql", oracle)
  }

  def run(seconds: Double, tracer: Tracer, probe: Option[LayerProbe]): Result = {
    val w = new Result
    val ops = new java.util.ArrayList[Any]()
    val passes = new java.util.ArrayList[Any]()
    val t0 = Clock.nowNs()
    var pass = 0
    // whole passes, until the budget is spent
    while (pass == 0 || (Clock.nowNs() - t0) / 1e9 < seconds) {
      val p0 = Clock.nowNs()
      jobs.foreach { j =>
        val req = s"p$pass.$j"
        timedOp(ops, j, req, tracer) {
          val df = tracer.span(spark, "ops.build", req)(build(j))
          probe.foreach(_.builtFrame(df.queryExecution, req))
          tracer.span(spark, "action", req)(noop(df))
        }
        hygiene()
      }
      passes.add(Array(p0, Clock.nowNs()))
      pass += 1
    }
    w.put("ops", ops)
    w.put("passes", passes)
    w.put("ops_per_pass", jobs.size)
    w
  }
}

/** Open loop: a generator thread appends the seeded schedule to an
  * in-memory stream at a rung's fixed rate, stamping each document with
  * its due time as event time; CorpusStream.curateStream consumes it and a
  * foreachBatch sink records when each admitted document is emitted. */
final class StreamIngest(spark: SparkSession, a: Main.Args, plan: JsonNode, res: Result)
    extends Base(spark, a, res) {
  import spark.implicits._

  private val rungs = node(plan.get("rungs")).map(_.asDouble)
  private val refRung = plan.get("ref_rung").asInt
  private val langs = node(plan.get("langs")).map(_.asText)
  private val minQuality = plan.get("min_quality").asDouble
  private val settleMs = plan.get("settle_ms").asLong
  private val triggerMs = plan.get("trigger_ms").asLong
  private var texts: Map[Long, String] = Map.empty
  private var schedule: Map[Int, Array[(Long, Long)]] = Map.empty // rung -> (due_ms, doc_id)
  private var counts: DataFrame = _
  private var nextId = 0L
  // per rung of the last window: the rows offered and the ids admitted
  private val lastRuns =
    mutable.ArrayBuffer.empty[(Int, Long, Array[(Long, Long, String)], Set[Long])]

  private val progress = new ConcurrentLinkedQueue[(java.util.UUID, org.apache.spark.sql.streaming.StreamingQueryProgress)]()
  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((e.progress.id, e.progress))
  }

  def setup(): Unit = {
    spark.streams.addListener(progressListener)
    val docs = spark.read.parquet(s"${a.dir}/documents.parquet")
    texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    schedule = spark.read.parquet(s"${a.dir}/schedule.parquet").collect()
      .groupBy(_.getInt(0)).map { case (r, rows) =>
        r -> rows.map(x => (x.getLong(1), x.getLong(2))).sortBy(_._1)
      }
    // the standing unigram table the scorer reads, built once from the
    // corpus and held as a local relation
    val local = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt")).collect()
    counts = spark.createDataFrame(local.toSeq.asJava, local.head.schema)
    // warm-up: the lowest rung's first rows, untimed
    val warmMs = plan.get("warm_ms").asLong
    runRung(0, rungs.head, 0L, warmMs, new Tracer(false))
  }

  /** Offers one rung's rows for `settleMs + ms` and waits until they are
    * processed. Latency is sampled only for rows due after `settleMs`: the
    * query's first micro-batch pays its start-up, and the backlog that
    * builds meanwhile takes several batches to drain, so the rung's first
    * seconds measure start-up rather than the steady rate. Returns the
    * rung's samples. */
  private def runRung(r: Int, rate: Double, settleMs: Long, ms: Long,
      tracer: Tracer): Result = {
    val rows = schedule(r).takeWhile(_._1 < settleMs + ms).map { case (due, doc) =>
      val id = nextId; nextId += 1
      (id, due, texts(doc))
    }
    val src = MemoryStream[(Long, Timestamp, String)](spark)
    val emitted = new ConcurrentLinkedQueue[(Long, Long)]()
    val sink: (DataFrame, Long) => Unit = (df, _) => {
      val out = df.collect()
      val t = Clock.nowNs()
      out.foreach(row => emitted.add((row.getLong(0), t)))
    }
    val q: StreamingQuery = CorpusStream.curateStream(
        src.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
        counts, langs = langs, minQuality = minQuality)
      .writeStream.foreachBatch(sink)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", new File(a.work, s"ckpt/rung-$nextId").getPath)
      .start()
    val adds = new java.util.ArrayList[Any]()
    val lags = new java.util.ArrayList[Any]()
    val dueNs = new Array[Long](rows.length)
    val t0Ms = System.currentTimeMillis() + 200
    val gen = new Thread(() => {
      var i = 0
      while (i < rows.length) {
        val now = System.currentTimeMillis() - t0Ms
        if (rows(i)._2 <= now) {
          var j = i
          while (j < rows.length && rows(j)._2 <= now) {
            dueNs(j) = (t0Ms + rows(j)._2) * 1000000L; j += 1
          }
          val batch = rows.slice(i, j).map { case (id, due, text) =>
            (id, new Timestamp(t0Ms + due), text)
          }
          lags.add((Clock.nowNs() - dueNs(i)) / 1e6)
          src.addData(batch.toSeq)
          adds.add(Array(Clock.nowNs(), j.toLong))
          i = j
        } else Thread.sleep(math.max(1L, math.min(5L, rows(i)._2 - now)))
      }
    }, "perfbench-generator")
    val w = new Result
    try {
      tracer.span(spark, "stream.rung", s"rung$r") {
        gen.start(); gen.join()
        q.processAllAvailable()
      }
    } finally q.stop()
    val idIndex = rows.zipWithIndex.map { case (row, i) => row._1 -> i }.toMap
    val lat = new java.util.ArrayList[Any]()
    emitted.asScala.foreach { case (id, t) =>
      val i = idIndex(id)
      if (rows(i)._2 >= settleMs) lat.add((t - dueNs(i)) / 1e6)
    }
    val prog = new java.util.ArrayList[Any]()
    progress.asScala.filter(_._1 == q.id).map(_._2).filter(_.numInputRows > 0).foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val o = new JMap[String, Any]()
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      o.put("start_ns", Clock.msToNs(startMs))
      d.foreach { case (k, v) => o.put(k, v) }
      o.put("input_rows", p.numInputRows)
      o.put("state_rows", p.stateOperators.map(_.numRowsTotal).sum)
      o.put("state_mb", p.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0)
      prog.add(o)
      val trig = d.getOrElse("triggerExecution", 0L)
      tracer.record("stream.trigger", Clock.msToNs(startMs),
        Clock.msToNs(startMs + trig), s"batch${p.batchId}")
    }
    w.put("rung", r); w.put("rate", rate); w.put("ms", ms)
    w.put("t0_ns", t0Ms * 1000000L)
    w.put("measure_ns", (t0Ms + settleMs) * 1000000L)
    w.put("offered", rows.length); w.put("admitted", emitted.size)
    w.put("last_emit_ns", emitted.asScala.map(_._2).maxOption.getOrElse(t0Ms * 1000000L))
    w.put("latency_ms", lat); w.put("adds", adds); w.put("gen_lag_ms", lags)
    w.put("progress", prog)
    lastRuns += ((r, t0Ms, rows, emitted.asScala.map(_._1).toSet))
    w
  }

  /** The untraced window runs the reference rung for the whole budget; the
    * traced window climbs the whole ladder, each rung for the budget. Each
    * rung first settles for `settle_ms`, unmeasured. */
  def run(seconds: Double, tracer: Tracer, probe: Option[LayerProbe]): Result = {
    val w = new Result
    lastRuns.clear()
    val ladder = if (probe.isEmpty) Seq(refRung) else rungs.indices
    val out = new java.util.ArrayList[Any]()
    ladder.foreach(r =>
      out.add(runRung(r, rungs(r), settleMs, (seconds * 1000).toLong, tracer).root))
    w.put("rungs", out)
    w
  }

  /** Batch replay: the reference rung's rows offered at once to a fresh
    * curateStream, three times; each time the admitted ids must equal the
    * streamed ones. The bursts are timed: they give the stream's processing
    * rate. */
  override def verify(): Unit = {
    val checks = new java.util.ArrayList[Any]()
    for ((r, t0Ms, rows, streamed) <- lastRuns if r == refRung; n <- 0 until 3) {
      val src = MemoryStream[(Long, Timestamp, String)](spark)
      val got = new ConcurrentLinkedQueue[Long]()
      val sink: (DataFrame, Long) => Unit =
        (df, _) => df.collect().foreach(row => got.add(row.getLong(0)))
      val q = CorpusStream.curateStream(
          src.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
          counts, langs = langs, minQuality = minQuality)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", new File(a.work, s"ckpt/replay-$r-$n").getPath)
        .start()
      val burst = rows.toSeq.map { case (id, due, text) =>
        (id, new Timestamp(t0Ms + due), text)
      }
      val burstMs = try {
        q.processAllAvailable() // the query is up before the burst is timed
        val t0 = Clock.nowNs()
        src.addData(burst)
        q.processAllAvailable()
        (Clock.nowNs() - t0) / 1e6
      } finally q.stop()
      val replay = got.asScala.toSet
      val o = new JMap[String, Any]()
      o.put("rung", r); o.put("streamed", streamed.size); o.put("replayed", replay.size)
      o.put("burst_rows", rows.length); o.put("burst_ms", burstMs)
      o.put("only_streamed", jlist((streamed -- replay).toSeq.sorted.take(10)))
      o.put("only_replayed", jlist((replay -- streamed).toSeq.sorted.take(10)))
      o.put("ok", streamed == replay)
      checks.add(o)
    }
    res.put("stream_checks", checks)
    spark.streams.removeListener(progressListener)
  }
}

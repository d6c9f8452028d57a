package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The benchmark's JVM side: sets up one workload against the generated
  * inputs under `--dir`, measures it for `--seconds`, captures outputs for
  * the correctness checks, and writes raw samples to `--out` as JSON.
  * Percentiles, rates and the ledger are computed by `perfbench/run.py`.
  *
  * {{{
  * java -cp <classes>:<spark jars> perfbench.Main --workload spj_adhoc \
  *   --dir <inputs> --work <scratch> --seconds 10 --trace 0 \
  *   --out result.json --launch-ms <epoch ms the process was started>
  * }}}
  */
object Main {
  val mapper = new ObjectMapper()

  final case class Args(
      workload: String, dir: String, work: String, seconds: Double,
      trace: Boolean, out: String, launchMs: Long)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("dir"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("out"), m("launch-ms").toLong)
    val mainEnteredNs = Clock.nowNs()
    val plan = mapper.readTree(new File(a.dir, "plan.json"))
    val spark = session(a.work, plan.path("cores").asInt(4))
    val sessionReadyNs = Clock.nowNs()
    val res = new Result
    res.put("jvm_start_ms", (mainEnteredNs / 1e6) - a.launchMs)
    res.put("session_ms", (sessionReadyNs - mainEnteredNs) / 1e6)
    val workload: Workload = a.workload match {
      case "spj_adhoc" => new SpjAdhoc(spark, a, plan, res)
      case "corpus_batch" => new CorpusBatch(spark, a, plan, res)
      case "stream_ingest" => new StreamIngest(spark, a, plan, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val t0 = Clock.nowNs()
      workload.setup()
      res.put("warmup_ms", (Clock.nowNs() - t0) / 1e6)
      if (!a.trace) measure(spark, workload, a.seconds, res, "e2e", None)
      else {
        // the traced run: an untraced half, then a traced half, so the
        // difference between them is the tracing overhead
        measure(spark, workload, a.seconds / 2, res, "untraced", None)
        val tracer = new Tracer(true)
        val probe = new LayerProbe(tracer)
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(probe)
        measure(spark, workload, a.seconds / 2, res, "traced", Some((tracer, probe)))
        spark.listenerManager.unregister(probe)
        spark.sparkContext.removeSparkListener(probe)
        writeSpans(tracer, new File(a.work, "spans.jsonl"))
        res.put("spans", new File(a.work, "spans.jsonl").getPath)
      }
      workload.verify()
    } catch {
      case e: Throwable =>
        res.error(s"${a.workload}: ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    }
    res.put("peak_rss_mb", peakRssMb())
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(a.out), res.root)
    spark.stop()
  }

  def session(work: String, cores: Int): SparkSession = {
    val local = new File(work, "spark-local"); local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "ckpt").getPath)
      .config("spark.sql.ui.retainedExecutions", "2")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One measurement window: the workload's `run` (under the layer probe
    * when traced), plus the process-wide GC and codegen counters read before
    * and after. */
  def measure(spark: SparkSession, w: Workload, seconds: Double, res: Result,
      label: String, traced: Option[(Tracer, LayerProbe)]): Unit = {
    val gc0 = gcMs()
    val cg0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val tracer = traced.map(_._1).getOrElse(new Tracer(false))
    val t0 = Clock.nowNs()
    val window = w.run(seconds, tracer, traced.map(_._2))
    val t1 = Clock.nowNs()
    // the listener bus is asynchronous: let it drain before reading counters
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext, 10000)
    window.put("start_ns", t0)
    window.put("end_ns", t1)
    window.put("jvm_gc_ms", gcMs() - gc0)
    window.put("codegen.compile_ms", (CodeGenerator.compileTime - cg0._1) / 1e6)
    window.put("codegen.compiles",
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._2)
    traced.foreach { case (_, probe) =>
      val (counts, perLayer, stragglers) = probe.snapshot()
      val c = new JMap[String, Any]()
      counts.foreach { case (k, v) => c.put(k, v) }
      perLayer.foreach { case ((layer, k), v) => c.put(s"layer.$layer.$k", v) }
      c.put("stage.straggler_ratio_samples", stragglers.asJava)
      window.put("counters", c)
    }
    res.windows.put(label, window.root)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  def writeSpans(tracer: Tracer, f: File): Unit = {
    val w = Files.newBufferedWriter(f.toPath)
    try tracer.all.foreach { s =>
      val o = new JMap[String, Any]()
      o.put("id", s.id); o.put("name", s.name); o.put("start", s.start)
      o.put("end", s.end); o.put("parent", s.parent); o.put("req", s.req)
      w.write(mapper.writeValueAsString(o)); w.newLine()
    } finally w.close()
  }
}

/** A JSON object under construction, written with Jackson at the end. */
final class Result {
  val root = new JMap[String, Any]()
  val windows = new JMap[String, Any]()
  private val errors = new JList[String]()
  root.put("windows", windows)
  root.put("errors", errors)
  def put(k: String, v: Any): Unit = root.put(k, v)
  def error(msg: String): Unit = synchronized { errors.add(msg) }
}

/** A workload: `setup` warms it up (and captures outputs for checking),
  * `run` measures it for a time budget and returns the window's samples,
  * `verify` runs the checks that need the JVM (stream replay). */
trait Workload {
  def setup(): Unit
  def run(seconds: Double, tracer: Tracer, probe: Option[LayerProbe]): Result
  def verify(): Unit = ()

  protected def jlist[T](xs: Iterable[T]): JList[Any] = {
    val l = new JList[Any](); xs.foreach(x => l.add(x)); l
  }

  protected def node(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}

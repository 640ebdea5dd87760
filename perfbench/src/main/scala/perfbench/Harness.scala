package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, Session, SparkEntry}

/** One benchmark JVM. `run.py` starts it, reads the JSON file it writes,
  * checks the query outputs it leaves behind and prints the metrics.
  *
  * Modes:
  *   - `cold`: build the session, report when it is ready, time one cold
  *     pass, exit;
  *   - `run`: the same, then run one untimed pass that writes every
  *     query's result as parquet for the independent checks (it is also
  *     the warm-up), then time steady passes for `--seconds`, and at least
  *     `--min-steady` of them.
  *
  * With `--trace 1` a [[Tracer]] is attached and each query runs under a
  * job group naming its pass, query and phase, so every job, stage and
  * task can be charged to the layer that caused it. Without it, nothing
  * but the harness's own clocks touches the timed passes.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = opt("cores")
    val work = opt("work")
    val spanStartNs = System.nanoTime()
    val built = Session.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    val buildS = (System.nanoTime() - spanStartNs) / 1e9
    // read by run.py as the end of set-up
    println(s"PERFBENCH_READY ${System.currentTimeMillis()}")
    System.out.flush()
    built.sparkContext.setLogLevel("WARN")
    val out = new Run(built, opt, buildS).apply()
    Files.writeString(Paths.get(opt("result")), out)
    built.stop()
  }

  /** Short ids of each workload's queries, drawn from `graft.Bench.headline`
    * (README.md says why these). */
  val workloads: Map[String, Seq[String]] = Map(
    "sql_bi" -> Seq("q1", "q5", "q20", "q50", "q125", "q246", "q272"),
    "pipeline_commit" -> Seq("q60", "q64", "q65", "q248", "q302"),
  )

  /** Full headline name of a short id (`q1` → `q1_agg`). */
  def resolve(id: String): String =
    Bench.headline.find(_.startsWith(id + "_"))
      .getOrElse(sys.error(s"$id is not a headline query"))
}

/** Process clocks read around each query and pass. */
private final case class Clocks(ns: Long, cpuNs: Long, gcMs: Long, jitMs: Long,
                                compiles: Long, compileNs: Long)

private final class Run(spark: SparkSession, opt: Map[String, String], buildS: Double) {
  private val sc = spark.sparkContext
  private val data = opt("data")
  private val seconds = opt("seconds").toDouble
  private val trace = opt("trace") == "1"
  private val queries = Harness.workloads(opt("workload")).map(Harness.resolve)
  private val minSteady = opt("min-steady").toInt
  private val coldOnly = opt("mode") == "cold"
  // One order per run, drawn from the seed, for every pass but the cold
  // one. With a fresh order per pass, which generated classes survive in
  // Spark's codegen cache between passes would change from pass to pass.
  private val seedOrder = new scala.util.Random(opt("seed").toLong).shuffle(queries)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans

  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val tracer: Option[Tracer] =
    if (trace) Some(new Tracer(spark)) else None
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private def span(id: String, traceId: String, name: String, start: Double,
                   end: Double, parent: String): Unit =
    spans += Map("id" -> id, "trace" -> traceId, "name" -> name,
      "start_ms" -> start, "end_ms" -> end, "parent" -> parent)

  private val failures = mutable.LinkedHashMap[String, String]()

  private def clocks(): Clocks = Clocks(System.nanoTime(), os.getProcessCpuTime,
    gcs.stream().mapToLong(_.getCollectionTime).sum(), jit.getTotalCompilationTime,
    if (trace) org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount else 0L,
    if (trace) org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime else 0L)

  private def noop(q: String, df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One pass: every query once, in the seed's order, through the noop
    * sink (as `graft.Bench` does), or with `save` writing each result as
    * one parquet file for run.py's checks. Returns the pass record. */
  private def pass(kind: String, index: Int, inOrder: Boolean = false,
                   save: (String, DataFrame) => Unit = noop): Map[String, Any] = {
    val passId = s"$kind$index"
    val order = if (inOrder) queries else seedOrder
    val perQuery = mutable.LinkedHashMap[String, Double]()
    val layerQ = mutable.LinkedHashMap[String, Map[String, Double]]()
    val p0 = clocks(); val passStart = nowMs
    order.foreach { q =>
      val qStart = nowMs
      val traceId = s"$passId/$q"
      tracer.foreach(_ => sc.setJobGroup(s"$traceId/construct", q, false))
      val c0 = clocks()
      try {
        val df = SparkEntry.queries(q)(spark, data)
        val c1 = clocks(); val mid = nowMs
        tracer.foreach(_ => sc.setJobGroup(s"$traceId/action", q, false))
        save(q, df)
        val c2 = clocks()
        perQuery(q) = (c2.ns - c0.ns) / 1e9
        if (trace) {
          span(s"$traceId/construct", traceId, "construct", qStart, mid, traceId)
          span(s"$traceId/action", traceId, "action", mid, nowMs, traceId)
          tracer.foreach(_.action(s"$traceId/action", mid, nowMs))
          layerQ(q) = Map(
            "operators.construct_s" -> (c1.ns - c0.ns) / 1e9,
            "exec.action_s" -> (c2.ns - c1.ns) / 1e9,
            "codegen.compiles" -> (c2.compiles - c0.compiles).toDouble,
            "codegen.compile_s" -> (c2.compileNs - c0.compileNs) / 1e9)
        }
      } catch { case e: Throwable =>
        failures.getOrElseUpdate(q, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
      }
      tracer.foreach(_ => sc.clearJobGroup())
      if (trace) span(traceId, traceId, "query", qStart, nowMs, passId)
    }
    val p1 = clocks()
    if (trace) span(passId, passId, "pass", passStart, nowMs, "")
    Map("id" -> passId, "kind" -> kind, "pass_s" -> (p1.ns - p0.ns) / 1e9,
      "cpu_s" -> (p1.cpuNs - p0.cpuNs) / 1e9,
      "gc_s" -> (p1.gcMs - p0.gcMs) / 1e3, "jit_s" -> (p1.jitMs - p0.jitMs) / 1e3,
      "compiles" -> (p1.compiles - p0.compiles),
      "compile_s" -> (p1.compileNs - p0.compileNs) / 1e9,
      "queries" -> perQuery.toMap,
      "layer_q" -> layerQ.toMap)
  }

  def apply(): String = {
    val load0 = Host.sample()
    // the cold pass runs the queries in their listed order, so that the
    // one-off cost the first query pays falls on the same query each run
    val cold = pass("cold", 0, inOrder = true)
    val rest = if (coldOnly) Seq.empty else {
      // untimed: writes every result for the checks, and is the warm-up
      val checked = pass("check", 0, save = (q, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"${opt("outputs")}/$q"))
      val steady = mutable.ArrayBuffer[Map[String, Any]]()
      val steadyStart = System.nanoTime()
      while (steady.size < minSteady || (System.nanoTime() - steadyStart) / 1e9 < seconds)
        steady += pass("steady", steady.size)
      checked +: steady.toSeq
    }
    val peakRssMb = Host.peakRssMb()
    val load1 = Host.sample()
    val all = cold +: rest
    val withLayers = tracer.fold(all)(_.finish(all))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(Map(
      "queries" -> queries,
      "oracle" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "session_build_s" -> buildS,
      "passes" -> withLayers,
      "peak_rss_mb" -> peakRssMb,
      "failures" -> failures.toMap,
      "host_start" -> load0, "host_end" -> load1,
      "spans" -> (spans.toSeq ++ tracer.fold(Seq.empty[Map[String, Any]])(_.spans))))
  }
}

/** Host readings, so a loaded window can be told from a slower program. */
private object Host {
  private def read(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path))) catch { case _: Throwable => "" }

  /** 1-minute load average and cumulative CPU steal share since boot. */
  def sample(): Map[String, Double] = {
    val load = read("/proc/loadavg").split(" ").headOption.flatMap(_.toDoubleOption)
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.split(" +").drop(1).map(_.toDouble)).getOrElse(Array.empty[Double])
    Map("load1" -> load.getOrElse(-1.0),
      "steal_ticks" -> (if (cpu.length > 7) cpu(7) else -1.0),
      "total_ticks" -> cpu.sum)
  }

  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split(" +")(1).toDouble / 1024).getOrElse(-1.0)
}

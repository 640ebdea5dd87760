package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener side of a traced run, on Spark's public listener APIs only.
  *
  * The harness runs each query's construction and its timed action under
  * a job group `<pass>/<query>/<construct|action>`. Jobs and stages carry
  * that group in their properties, so every job, stage and task is charged
  * to the query and phase that caused it; a query execution's planning
  * figures go to the timed action whose time window it began in. Events arrive on Spark's listener
  * bus after the fact; [[finish]] waits for the bus to go quiet, then
  * folds the sums into the per-query layer records.
  */
private final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sums = mutable.Map[(String, String), Double]().withDefaultValue(0.0)
  private val stageGroup = mutable.Map[Int, String]()
  private val stageJob = mutable.Map[Int, Int]()
  private val jobGroup = mutable.Map[Int, (String, Long)]()
  private val actions = mutable.ArrayBuffer[(String, Double, Double)]()
  private val plans = mutable.ArrayBuffer[(Long, Seq[(String, Double)])]()
  private val spanBuf = mutable.ArrayBuffer[Map[String, Any]]()
  private var events = 0L
  private var openJobs = 0

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def add(group: String, key: String, v: Double): Unit = sums((group, key)) += v

  /** `<pass>/<query>` of a `<pass>/<query>/<phase>` group. */
  private def traceOf(group: String): String = group.substring(0, group.lastIndexOf('/'))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    group(e.properties).foreach { g =>
      openJobs += 1
      jobGroup(e.jobId) = (g, e.time)
      e.stageInfos.foreach(s => stageJob.getOrElseUpdate(s.stageId, e.jobId))
      add(g, "jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobGroup.get(e.jobId).foreach { case (g, start) =>
      openJobs -= 1
      spanBuf += Map("id" -> s"job${e.jobId}", "trace" -> traceOf(g), "name" -> "job",
        "start_ms" -> start, "end_ms" -> e.time, "parent" -> g)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events += 1
    group(e.properties).foreach(g => stageGroup(e.stageInfo.stageId) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      add(g, "stages", 1)
      spanBuf += Map("id" -> s"stage${info.stageId}.${info.attemptNumber()}",
        "trace" -> traceOf(g), "name" -> "stage",
        "start_ms" -> info.submissionTime.getOrElse(0L),
        "end_ms" -> info.completionTime.getOrElse(0L),
        "parent" -> stageJob.get(info.stageId).fold(g)(j => s"job$j"))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    stageGroup.get(e.stageId).foreach { g =>
      add(g, "tasks", 1)
      if (e.taskInfo.attemptNumber > 0) add(g, "task_retries", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(g, "task_run_s", m.executorRunTime / 1e3)
        add(g, "task_cpu_s", m.executorCpuTime / 1e9)
        add(g, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(g, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(g, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(g, "input_bytes", m.inputMetrics.bytesRead.toDouble)
        add(g, "input_rows", m.inputMetrics.recordsRead.toDouble)
        add(g, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add(g, "output_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val t = qe.tracker
    def phase(p: String) = t.phases.get(p).fold(0.0)(_.durationMs / 1e3)
    val graftRules = t.rules.collect {
      case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs / 1e9
    }.sum
    val row = Seq("analysis_s" -> phase("analysis"), "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"), "graft_rules_s" -> graftRules)
    val start = t.phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
    synchronized { events += 1; plans += start -> row }
  }

  /** The harness ran `group`'s timed action from `startMs` to `endMs`. */
  def action(group: String, startMs: Double, endMs: Double): Unit =
    synchronized(actions += ((group, startMs, endMs)))

  /** Waits for the listener bus to deliver everything, then adds the
    * listener-side figures to each pass's per-query layer records. */
  def finish(passes: Seq[Map[String, Any]]): Seq[Map[String, Any]] = {
    var seen = -1L
    val deadline = System.nanoTime() + 60e9.toLong
    while (synchronized(events != seen || openJobs > 0) && System.nanoTime() < deadline) {
      seen = synchronized(events)
      Thread.sleep(1000)
    }
    synchronized {
      // a query execution belongs to the timed action it began in (whole
      // milliseconds on its side, hence the 1 ms of slack)
      plans.foreach { case (start, row) =>
        actions.find { case (_, a, b) => start >= a - 1 && start <= b + 1 }
          .foreach { case (g, _, _) => row.foreach { case (k, v) => add(g, k, v) } }
      }
      passes.map { p =>
        val passId = p("id").asInstanceOf[String]
        val byQuery = p("layer_q").asInstanceOf[Map[String, Map[String, Double]]].map { case (q, base) =>
          def phase(ph: String, k: String) = sums((s"$passId/$q/$ph", k))
          def both(k: String) = phase("construct", k) + phase("action", k)
          val listened = Seq[(String, Double)](
            "operators.construct_jobs" -> phase("construct", "jobs"),
            "plans.analysis_s" -> phase("action", "analysis_s"),
            "plans.optimization_s" -> phase("action", "optimization_s"),
            "plans.planning_s" -> phase("action", "planning_s"),
            "plans.graft_rules_s" -> phase("action", "graft_rules_s"),
            "exec.jobs" -> both("jobs"),
            "exec.stages" -> both("stages"),
            "exec.tasks" -> both("tasks"),
            "exec.task_run_s" -> both("task_run_s"),
            "exec.action_task_run_s" -> phase("action", "task_run_s"),
            "exec.task_cpu_s" -> both("task_cpu_s"),
            "exec.shuffle_write_bytes" -> both("shuffle_write_bytes"),
            "exec.shuffle_read_bytes" -> both("shuffle_read_bytes"),
            "exec.spill_bytes" -> both("spill_bytes"),
            "exec.task_retries" -> both("task_retries"),
            "sources.input_bytes" -> both("input_bytes"),
            "sources.input_rows" -> both("input_rows"),
            "sources.output_bytes" -> both("output_bytes"),
            "sources.output_rows" -> both("output_rows"))
          q -> (base ++ listened)
        }
        p.updated("layer_q", byQuery)
      }
    }
  }

  def spans: Seq[Map[String, Any]] = synchronized(spanBuf.toSeq)
}

package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import scala.collection.mutable.ArrayBuffer

object Probe {
  /** The build-once index families (`graft_pairidx`, `graft_shingleidx`,
    * `graft_vecidx_*` scratch tables) a query's plan scans. */
  def indexFamilies(qe: QueryExecution): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    qe.optimizedPlan.collectWithSubqueries {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.rootPaths.map(_.toString)
    }.flatten.flatMap(p => """graft_(pairidx|shingleidx|vecidx)""".r.findFirstIn(p)).distinct.sorted
  }
}

/** Tracing for one run, recorded from outside the engine.
  *
  * Each operation gets a root span; the calls into each layer
  * (`construct`, `plan`, `execute`, `sql.execute`) get child spans. Jobs are
  * tied to the span that launched them through a Spark job group named
  * `op<i>/<span>`, and a listener sums the scheduler and task counters per
  * group. Spans stay in memory until the run ends.
  */
final class Probe(spark: SparkSession) {

  final class Counters {
    val jobs, stages, tasks, cpuNs, runMs, gcMs = new AtomicLong
    val shuffleWrite, shuffleRead, spill, outBytes = new AtomicLong
  }

  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private def counters(g: String) = groups.computeIfAbsent(g, _ => new Counters)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) {
        counters(g).jobs.incrementAndGet()
        e.stageIds.foreach(stageGroup.put(_, g))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach(counters(_).stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).filter(_ => e.taskMetrics != null).foreach { g =>
        val c = counters(g); val m = e.taskMetrics
        c.tasks.incrementAndGet()
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.runMs.addAndGet(m.executorRunTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.outBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
  })

  final case class Span(op: Int, name: String, parent: String, startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var op: Harness.Op = _
  private var opStart = 0L
  private var codegen0 = (0L, 0L, 0L)
  private val phaseFields = ArrayBuffer.empty[(String, Any)]

  private def codegenCounters = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime)

  private def group(name: String) = s"op${op.idx}/$name"

  def begin(o: Harness.Op): Unit = {
    op = o
    phaseFields.clear()
    codegen0 = codegenCounters
    opStart = System.nanoTime()
  }

  /** A child span of the current operation around one layer call. */
  def span[T](name: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group(name), name, interruptOnCancel = false)
    val s = System.nanoTime()
    try f
    finally {
      spans += Span(op.idx, name, "op", s, System.nanoTime())
      sc.clearJobGroup()
    }
  }

  /** Planner phases and rule timings the query's own tracker recorded
    * (analysis runs inside `construct`; optimization and physical planning
    * inside `plan`). Rules whose class lives in the engine's `graft`
    * package (MvRewrite, TopKRewrite, ...) are summed as graft rules. */
  def planPhases(qe: QueryExecution): Unit = {
    val t = qe.tracker
    def phase(n: String) = t.phases.get(n).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
    val graftRules = t.rules.filter(_._1.startsWith("graft."))
    phaseFields ++= Seq(
      "analysis_s" -> phase("analysis"),
      "optimize_s" -> phase("optimization"),
      "physical_s" -> phase("planning"),
      "graft_rules_s" -> graftRules.values.map(_.totalTimeNs).sum / 1e9,
      "mv_rewrite_hit" -> graftRules.exists { case (n, r) =>
        n.endsWith("MvRewriteRule") && r.numEffectiveInvocations > 0 })
  }

  /** Close the operation: its root span and every counter, by layer. */
  def end(o: Harness.Op): Seq[(String, Any)] = {
    val endNs = System.nanoTime()
    spans += Span(o.idx, "op", "", opStart, endNs)
    drainListenerBus()
    val (c1, n1, g1) = codegenCounters
    val layers = Seq("construct", "plan", "execute", "sql.execute").flatMap { l =>
      Option(groups.remove(group(l))).toSeq.flatMap { c =>
        Seq(s"$l.jobs" -> c.jobs.get, s"$l.stages" -> c.stages.get,
            s"$l.tasks" -> c.tasks.get, s"$l.task_cpu_s" -> c.cpuNs.get / 1e9,
            s"$l.task_run_s" -> c.runMs.get / 1e3, s"$l.gc_s" -> c.gcMs.get / 1e3,
            s"$l.shuffle_write_bytes" -> c.shuffleWrite.get,
            s"$l.shuffle_read_bytes" -> c.shuffleRead.get,
            s"$l.spill_bytes" -> c.spill.get, s"$l.output_bytes" -> c.outBytes.get)
      }
    }
    layers ++ phaseFields ++ Seq(
      "codegen.compile_s" -> (c1 - codegen0._1) / 1e9,
      "codegen.compiles" -> (n1 - codegen0._2),
      "codegen.gen_s" -> (g1 - codegen0._3) / 1e9)
  }

  /** Listener events are delivered asynchronously; wait for the bus to
    * empty before reading the counters (`waitUntilEmpty` is not public, so
    * it is reached reflectively, as `graft.Bench` does). */
  private def drainListenerBus(): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods.find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .foreach(_.invoke(bus))
    } catch { case _: ReflectiveOperationException => () }

  def writeSpans(f: File): Unit = {
    val w = new PrintWriter(f)
    try spans.foreach(s => w.println(Json.obj(
      "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    finally w.close()
  }
}

package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** The benchmark's single client. It executes a plan that `run.py` generated
  * from the workload seed, one operation at a time (a closed loop: each
  * operation starts only after the previous one has finished), and records
  * raw per-operation measurements. Metrics and result checks are computed by
  * `run.py` from those records.
  *
  * The engine is reached only through its public entry points:
  * `graft.SparkEntry.queries(key)(spark, sfDir)` for query keys and
  * `graft.Sql.execute(spark, warehouse, stmt)` for SQL statements.
  *
  * Usage:
  *   Harness <plan.tsv> <sfDir> <outDir> <trace 0|1>
  *
  * Plan lines are `phase \t pass \t kind \t name \t stmt`, where phase is
  * `warm` (set-up, untimed) or `timed`, and kind is `key` or a statement
  * kind (`dml`, `read`, `read_mv`, `mv_create`, `mv_refresh`, `seed`);
  * `dump` writes a key's result under the directory given as `stmt`.
  * The timed operations run back to back after the set-up; their window is
  * the time they take.
  */
object Harness {

  final case class Op(idx: Int, timed: Boolean, pass: Int, kind: String,
                      name: String, stmt: String)

  // Task parallelism is pinned rather than read from the host: float
  // aggregates merge partials in partition order, so the expected result
  // digests are only valid for one partition count.
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val Array(planPath, sfDir, outDir, traceArg) = args
    val trace = traceArg == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val ops = scala.io.Source.fromFile(planPath).getLines().filter(_.nonEmpty)
      .zipWithIndex.map { case (line, i) =>
        val f = line.split("\t", -1)
        Op(i, f(0) == "timed", f(1).toInt, f(2), f(3), f(4))
      }.toVector
    val sqlWorkload = ops.exists(_.kind != "key")
    val out = new File(outDir); out.mkdirs()
    val warehouse = new File(out, "warehouse").getAbsolutePath

    val spark = session(sqlWorkload, warehouse)
    val probe = if (trace) Some(new Probe(spark)) else None
    val runner = new Runner(spark, sfDir, warehouse, probe)
    // Table registration: every fixture becomes a view (file listing and
    // footer reads happen here, not in the first timed operation).
    graft.Tables.views(spark, sfDir)

    val records = new PrintWriter(new File(out, "ops.jsonl"))
    val (warm, timed) = ops.partition(!_.timed)
    warm.foreach(op => records.println(runner.run(op)))
    records.flush()

    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    timed.foreach(op => records.println(runner.run(op)))
    val windowS = (System.nanoTime() - t0) / 1e9
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    records.close()
    probe.foreach(_.writeSpans(new File(out, "spans.jsonl")))
    Files.writeString(Paths.get(outDir, "summary.json"), Json.obj(
      "setup_s" -> setupS, "window_s" -> windowS, "window_cpu_s" -> cpuS,
      "timed_ops" -> timed.length, "cores" -> Cores))
    spark.stop()
  }

  /** The session the engine's own mains build: `graft.Bench`'s for query
    * keys, `graft.Sql`'s (extensions, cost-based optimizer, a warehouse)
    * for SQL statements. */
  def session(sqlFrontEnd: Boolean, warehouse: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.files.minPartitionNum", Cores.toString)
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
    if (sqlFrontEnd)
      b.config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .withExtensions(new graft.GraftExtensions)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Executes one operation and renders its record as a JSON line. */
final class Runner(spark: SparkSession, sfDir: String, warehouse: String,
                   probe: Option[Probe]) {
  import Harness.Op
  private val threads = ManagementFactory.getThreadMXBean

  def run(op: Harness.Op): String = {
    probe.foreach(_.begin(op))
    val cpu0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    val fields = Seq.newBuilder[(String, Any)]
    val outcome =
      try {
        val (rows, digest) = op.kind match {
          case "key" => runKey(op, fields)
          case "dump" => dumpKey(op)
          case _ => runStatement(op, fields)
        }
        fields += "rows" -> rows
        fields += "digest" -> digest
        None
      } catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.toString)) }
    val wallS = (System.nanoTime() - t0) / 1e9
    val threadCpuS = (threads.getCurrentThreadCpuTime - cpu0) / 1e9
    probe.foreach(pr => fields ++= pr.end(op))
    if (op.kind != "key" && op.kind != "dump") fields ++= warehouseFiles()
    // Intermediates a key persisted must not leak into the next operation.
    spark.catalog.clearCache()
    Json.obj(Seq(
      "i" -> op.idx, "timed" -> op.timed, "pass" -> op.pass, "kind" -> op.kind,
      "name" -> op.name, "wall_s" -> wallS,
      "thread_cpu_s" -> threadCpuS, "ok" -> outcome.isEmpty,
      "error" -> outcome.getOrElse("")) ++ fields.result(): _*)
  }

  /** Construct the key's DataFrame, plan it, then evaluate every output
    * column of every row: the digest folds each row's full binary image,
    * so no column can be pruned the way `df.count()` prunes them. */
  private def runKey(op: Op,
                     fields: scala.collection.mutable.Builder[(String, Any), Seq[(String, Any)]])
      : (Long, String) = {
    val query = graft.SparkEntry.queries.getOrElse(op.name,
      throw new IllegalArgumentException(s"unknown query key ${op.name}"))
    val df = layer("construct")(query(spark, sfDir))
    val qe = df.queryExecution
    layer("plan")(qe.executedPlan)
    val res = layer("execute")(Digest.of(qe.toRdd, df.schema))
    probe.foreach { pr =>
      pr.planPhases(qe)
      fields += "index" -> Probe.indexFamilies(qe)
    }
    res
  }

  /** Write the key's result as parquet for the freeze-time oracle check. */
  private def dumpKey(op: Op): (Long, String) = {
    graft.SparkEntry.queries(op.name)(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"${op.stmt}/${op.name}")
    (0L, "")
  }

  private def runStatement(op: Op,
                           fields: scala.collection.mutable.Builder[(String, Any), Seq[(String, Any)]])
      : (Long, String) = {
    val df = layer("sql.execute")(graft.Sql.execute(spark, warehouse, op.stmt))
    val rows = layer("execute")(df.collect())
    probe.foreach(_.planPhases(df.queryExecution))
    // Statement results are small (aggregates, row counts); they are kept
    // verbatim so run.py can compare them with a DuckDB replay.
    fields += "result" -> rows.map(r => r.toSeq.map(Json.cell)).toSeq
    (rows.length.toLong, "")
  }

  /** Parquet files and bytes of each warehouse table, after a statement. */
  private def warehouseFiles(): Seq[(String, Any)] =
    Option(new File(warehouse).listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap { t =>
      val parts = Option(t.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      Seq(s"files.${t.getName}" -> parts.length, s"bytes.${t.getName}" -> parts.map(_.length).sum)
    }

  private def layer[T](name: String)(f: => T): T = probe match {
    case Some(pr) => pr.span(name)(f)
    case None => f
  }
}

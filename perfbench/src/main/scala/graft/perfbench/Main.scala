package graft.perfbench

import java.io.{File, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import graft.tlc._

/** The JVM half of the benchmark (perfbench/run.py drives it), one
  * workload per JVM.
  *
  *   Main --workload rebuild|serve --seconds S --trace 0|1 [--seed N]
  *        --yellow F --green F --hvfhv F --zones F --warehouse DIR
  *        --sql DIR --out DIR
  *
  * `rebuild` times `Cli.runPipeline` (the nightly truncate-rebuild) from the
  * raw files into `--warehouse`, which it leaves for run.py's checks.
  * `serve` times the `Cli run-analytics` path (`SqlRunner.registerWarehouse`,
  * then `runFile` and `collect` per file) over the reference SQL files
  * against an existing CLI-written warehouse, then checks results against
  * their Analytics twins (a subset that rotates with `--seed`).
  *
  * Operations repeat until `--seconds` have passed, at least once. The last
  * stdout line is one JSON object with the raw measurements.
  */
object Main {

  type Metric = (String, Double, String)

  /** What a timed window measured: JVM uptime when it opened, the wall of
    * each operation, and the peak resident set when it closed. */
  final case class Window(setup: Double, ops: Seq[Double], rss: Double)

  final case class Outcome(window: Window, requests: Seq[Double], attempted: Int,
      failed: Int, checks: Seq[(String, Boolean)], extra: Map[String, Metric])

  /** Layer names, one per graft.tlc module, in pipeline order. */
  val PipelineLayers = Seq("load", "quality", "standardize", "aggregates", "dims", "analytics",
    "finalize")
  val Layers = PipelineLayers :+ "sql"

  /** The serve pass leaves out 03: it reads agg_market_share, a
    * trip_date-partitioned table that SqlRunner.registerWarehouse does not
    * register, so it fails on every CLI-written warehouse. It is probed
    * apart from the pass (`sql.q03_unregistered`). */
  val Unregistered = "03"
  val Served = Seq("01", "02", "04", "05", "06", "07", "08", "09", "10", "11", "12", "13", "14")

  /** Twin checks per serve run; which files rotates with the seed. */
  val TwinChecksPerRun = 2

  def main(args: Array[String]): Unit = {
    val opts = Cli.parseArgs(args)
    val workload = opts("workload")
    val cpus = Runtime.getRuntime.availableProcessors

    // Configured as Cli.main configures its sessions, on every core the
    // process may use.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(if (workload == "serve") "graft-tlc-analytics" else "graft-tlc-pipeline")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = if (opts("trace") == "1") Some(Trace.install(spark.sparkContext)) else None
    val c = Ctx(spark, trace, cpus, opts)

    val outcome = workload match {
      case "rebuild" => rebuild(c)
      case "serve" => serve(c)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    trace.foreach(_.drain())
    // Stage attribution reads Cli's stderr lines; a renamed or new stage,
    // or jobs outside every stage, would leave layers silently at 0.
    val traceChecks = trace.filter(_ => workload == "rebuild").toSeq.flatMap { t =>
      val missing = PipelineLayers.filterNot(t.closedLayers)
      if (missing.nonEmpty) System.err.println(s"[perfbench] no span for: ${missing.mkString(", ")}")
      val outside = t.jobsOutside(PipelineLayers)
      System.err.println(s"[perfbench] pipeline jobs outside every layer: $outside")
      Seq("every pipeline layer has a span" -> missing.isEmpty,
        "every pipeline job is charged to a layer" -> (outside == 0))
    }
    val layers = trace.toSeq.flatMap { t =>
      Files.writeString(Paths.get(opts("out"), s"trace-$workload.json"), t.toJson)
      val named = Served.map(q => s"sql.q${q}_s") ++
        Seq("plans.percentile_builtin", "plans.topk_fired", "sql.q03_unregistered")
      t.layerMetrics(Layers, c.cores) ++
        named.map(n => outcome.extra.getOrElse(n, (n, 0.0, if (n.endsWith("_s")) "s" else "count"))) ++
        Seq(("trace.op_s", median(outcome.window.ops), "s"),
          ("trace.listener_self_frac", t.selfSeconds / outcome.window.ops.sum, "frac"),
          ("jvm.peak_rss_mb", outcome.window.rss, "MB"))
    }
    def arr(xs: Seq[Double]) = xs.map(num).mkString("[", ", ", "]")
    println(Seq(
      s""""setup_s": ${num(outcome.window.setup)}""",
      s""""ops": ${arr(outcome.window.ops)}""",
      s""""requests": ${arr(outcome.requests)}""",
      s""""attempted": ${outcome.attempted}""",
      s""""failed": ${outcome.failed}""",
      s""""checks": ${(outcome.checks ++ traceChecks).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")}""",
      s""""layers": ${layers.map { case (k, v, u) => s""""$k": [${num(v)}, "$u"]""" }.mkString("{", ", ", "}")}""")
      .mkString("{", ", ", "}"))
    System.out.flush()
    spark.stop()
  }

  final case class Ctx(spark: SparkSession, trace: Option[Trace], cores: Int,
      opts: Map[String, String]) {
    val seconds: Double = opts("seconds").toDouble
    def raw: Map[String, String] = opts.filter { case (k, _) =>
      Set("yellow", "green", "hvfhv", "zones")(k) }

    /** Repeat `op` until the window has lasted `seconds`, at least once. */
    def timedWindow(op: Int => Unit): Window = {
      val setup = uptime()
      val walls = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (walls.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
        val s = System.nanoTime()
        op(walls.size)
        walls += (System.nanoTime() - s) / 1e9
      }
      Window(setup, walls.toSeq, peakRssMb())
    }
  }

  // ---- rebuild ----------------------------------------------------------

  /** One `Cli.runPipeline` per operation, into the same warehouse dir. */
  private def rebuild(c: Ctx): Outcome = {
    val wh = c.opts("warehouse")
    var failed = 0
    warmUp(c)
    val w = c.timedWindow { i =>
      deleteTree(new File(wh))
      try runPipelineTraced(c, c.raw + ("out" -> wh), i)
      catch { case e: Exception => e.printStackTrace(); failed += 1 }
    }
    Outcome(w, w.ops, w.ops.size, failed, Seq("rebuild succeeded" -> (failed == 0)), Map.empty)
  }

  /** `Cli.runPipeline`; traced, each stage it reports on stderr
    * (`[timing] stage=NAME`) closes the span of the jobs since the last one.
    * So `load` also holds the zones read before it, and `aggregates` the
    * jobs of `Pipeline.derive`. */
  private def runPipelineTraced(c: Ctx, opts: Map[String, String], i: Int): Unit =
    c.trace match {
      case None => Cli.runPipeline(c.spark, opts)
      case Some(t) =>
        val op = t.open(s"rebuild#$i", "op")
        var seg = t.open("pending", "pending", Some(op))
        val err = System.err
        System.setErr(new PrintStream(err, true, StandardCharsets.UTF_8) {
          override def println(x: String): Unit = {
            super.println(x)
            if (x != null && x.startsWith("[timing] stage=")) {
              val stage = x.stripPrefix("[timing] stage=").takeWhile(_ != ' ')
              t.closeAs(seg, stage, stage, Some(op))
              seg = t.open("pending", "pending", Some(op))
            }
          }
        })
        try Cli.runPipeline(c.spark, opts)
        finally {
          System.setErr(err)
          t.closeAs(seg, "unattributed", "other", Some(op))
          t.close(op)
        }
    }

  // ---- serve ------------------------------------------------------------

  /** One pass over the SQL files per operation. */
  private def serve(c: Ctx): Outcome = {
    val spark = c.spark
    val wh = c.opts("warehouse")
    warmUp(c)
    // twin checks rotate with the seed; the pass order is fixed, because
    // the files that run first pay the JVM's warm-up
    val checked = (0 until TwinChecksPerRun).map(i =>
      Served(Math.floorMod(c.opts("seed").toLong * TwinChecksPerRun + i, Served.size.toLong).toInt))
    def file(q: String) = Option(new File(c.opts("sql")).listFiles()).getOrElse(Array.empty[File])
      .map(_.getPath).filter(f => f.endsWith(".sql") && new File(f).getName.startsWith(q))
      .sorted.head

    val latency = mutable.ArrayBuffer.empty[Double]
    val perFile = mutable.LinkedHashMap.empty[String, Double]
    val results = mutable.Map.empty[String, Seq[Row]]
    val plans = mutable.Map.empty[String, Seq[SparkPlan]]
    var failed = 0
    val w = c.timedWindow { i =>
      val pass = c.trace.map(_.open(s"pass#$i", "op"))
      inSpan(c, "registerWarehouse", pass)(SqlRunner.registerWarehouse(spark, wh))
      Served.foreach { q =>
        val s = System.nanoTime()
        try {
          val rows = inSpan(c, s"q$q", pass) {
            val df = SqlRunner.runFile(spark, file(q))
            val r = df.collect().toSeq
            plans(q) = planNodes(df.queryExecution.executedPlan)
            r
          }
          results.getOrElseUpdate(q, rows)
        } catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] q$q failed: $e") }
        val dt = (System.nanoTime() - s) / 1e9
        latency += dt
        perFile(q) = perFile.getOrElse(q, 0.0) + dt
      }
      pass.foreach(p => c.trace.get.close(p))
    }

    // Untimed: results equal their Analytics twins over the same warehouse.
    val twins = Analytics.all(Pipeline.derive(spark, spark.read.parquet(s"$wh/fact_trips"),
      readZones(spark, c.opts("zones")))._1)
    def twin(q: String) = twins.collectFirst { case (k, v) if k.startsWith(q) => v() }.get
    def same(rows: Seq[Row], q: String) = canonical(rows) == canonical(twin(q).collect().toSeq)
    val twinChecks = checked.map(q => s"q$q equals its Analytics twin" -> results.get(q).exists(same(_, q)))
    // 03 fails while the registerWarehouse defect stands; once it runs, it must be right
    val q03 = try { Right(SqlRunner.runFile(spark, file(Unregistered)).collect().toSeq) }
      catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
    val unregistered = q03.fold(_.contains("TABLE_OR_VIEW_NOT_FOUND"), _ => false)
    val q03Check = "q03 fails only as unregistered, else equals its twin" ->
      q03.fold(_ => unregistered, same(_, Unregistered))

    val extra = perFile.toSeq.map { case (q, s) => (s"sql.q${q}_s", s / w.ops.size, "s") } ++ Seq(
      ("plans.percentile_builtin", plans.values.count(_.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[Percentile])))).toDouble, "count"),
      ("plans.topk_fired", plans.values.count(_.exists(
        _.getClass.getSimpleName.startsWith("TopKPerGroup"))).toDouble, "count"),
      ("sql.q03_unregistered", if (unregistered) 1.0 else 0.0, "count"))
    Outcome(w, latency.toSeq, Served.size * w.ops.size, failed,
      ("all files ran" -> (failed == 0)) +: twinChecks :+ q03Check,
      extra.map(m => m._1 -> m).toMap)
  }

  /** Every node of an executed plan: AQE's final plan, query stages and
    * subqueries included. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case n => n +: (n.children ++ n.subqueries).flatMap(planNodes)
  }

  private def inSpan[T](c: Ctx, name: String, parent: Option[Trace.Span])(body: => T): T =
    c.trace.fold(body)(_.span(name, "sql", parent)(body))

  private def readZones(spark: SparkSession, csv: String): DataFrame =
    spark.read.option("header", true).option("inferSchema", true).csv(csv)

  // ---- helpers ----------------------------------------------------------

  /** A few generic Spark jobs (write, scan, aggregate) so the timed window
    * does not open on a cold JIT; they touch no graft code. */
  private def warmUp(c: Ctx): Unit = {
    val dir = s"${c.opts("out")}/warmup"
    c.spark.range(0, 20000).selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE) / 3 AS v")
      .write.mode("overwrite").parquet(dir)
    c.spark.read.parquet(dir).groupBy("k").agg(org.apache.spark.sql.functions.sum("v")).collect()
    deleteTree(new File(dir))
  }

  /** A result as a sorted multiset of rendered rows, doubles rounded as the
    * repo's gates round them (TlcScaledDemo.round4: 4 digits after a 1e-9
    * tie-breaking bias), so row order does not matter. */
  def canonical(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case d: Double if !d.isNaN && !d.isInfinite =>
        BigDecimal(d + 1e-9).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble.toString
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def uptime(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** The process's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }
}

package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{col, regexp_extract}

import graft.{Bench, SparkEntry}
import graft.functions.Geom
import graft.operators.{Contiguity, Raster, SpeciesPipeline}
import graft.sources.EsriAsciiGrid
import graft.util.Checkpoints

/** JVM side of the benchmark. `run.py` generates the inputs, starts this
  * main once per run and reads back `<work>/result.json`: per-op timings,
  * `(rows, checksum)` per op, the epoch time of the first timed op, the
  * data the output checks need and, with `--trace 1`, one record per op of
  * per-layer numbers. Every timing is taken here, around calls into the
  * engine's public functions; nothing inside the engine is instrumented.
  */
object Harness {

  final case class Args(workload: String, input: String, work: String,
                        rounds: Int, trace: Boolean, cpus: Int,
                        sfDir: String, queries: Seq[String])

  private def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m.getOrElse("input", ""), m("work"), m("rounds").toInt,
      m("trace") == "1", m("cpus").toInt, m.getOrElse("sf", ""),
      m.getOrElse("queries", "").split(",").toSeq.filter(_.nonEmpty))
  }

  /** graft.Bench's session settings (its `main` is not used: its stall-retry
    * rule rewrites timings from a reference file recorded elsewhere).
    */
  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", graft.util.Scratch.warehouseDir)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def now(): Double = System.nanoTime() / 1e9

  /** Progress on stderr, with the JVM's uptime. */
  private def note(what: String): Unit = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    System.err.println(f"perfbench: ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s" +
      f" (jit ${ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3}%.1f s," +
      f" gc ${gcMs / 1e3}%.1f s, codegen classes" +
      f" ${org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount})" +
      f" $what")
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = now(); val r = f; (r, now() - t0)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The state a user's single run starts in: no truncated lineage, no SQL
    * cache entries, a collected heap. Runs outside every timed window.
    */
  private def reset(spark: SparkSession): Unit = {
    Checkpoints.releaseAll(spark)
    spark.catalog.clearCache()
    System.gc()
  }

  /** Untimed full ops before the first timed one. */
  private val WarmupOps = 2

  /** Waits (at most 20 s) until the JIT compilers have had a quiet
    * half-second: the warm-up ops queue far more compilation than the
    * compiler threads finish while four task threads hold the cores.
    */
  private def quiesce(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = now() + 20
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && now() < deadline) {
      Thread.sleep(500)
      val t = jit.getTotalCompilationTime
      quiet = t - last < 25
      last = t
    }
    note("compilers quiet")
  }

  /** SQL-cache entries plus persisted RDDs still registered. The cache
    * manager keeps its list private, so the count is read reflectively; if
    * that fails, a non-empty cache counts as one entry.
    */
  private def cacheEntries(spark: SparkSession): Long = {
    val cm = spark.sharedState.cacheManager
    val sql =
      try {
        val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
        f.setAccessible(true)
        f.get(cm) match {
          case s: scala.collection.Iterable[_] => s.size.toLong
          case _                               => if (cm.isEmpty) 0L else 1L
        }
      } catch { case _: Throwable => if (cm.isEmpty) 0L else 1L }
    sql + spark.sparkContext.getPersistentRDDs.size
  }

  /** Runs one op. An exception makes it a failed op, recorded with its
    * message, and the run goes on with the next op.
    */
  private def attempt(what: Map[String, Any])(f: => Map[String, Any]): Map[String, Any] =
    try what ++ f
    catch {
      case e: Exception =>
        note(s"${what.values.mkString(" ")} failed: $e")
        what + ("error" -> e.toString)
    }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  // ---------------------------------------------------------------- tracing

  /** Spark-side counters for one traced op: a SparkListener and a log4j
    * appender, both registered by the benchmark, both reset per op.
    */
  final class Tracer(spark: SparkSession) {
    val jobs, stages, tasks, cpuNs, runMs, shRead, shWrite, spill, inBytes,
        errors, warns = new AtomicLong
    @volatile private var on = false

    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (on) jobs.incrementAndGet(): Unit
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (on) stages.incrementAndGet(): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (on && e.taskMetrics != null) {
          val m = e.taskMetrics
          tasks.incrementAndGet()
          cpuNs.addAndGet(m.executorCpuTime)
          runMs.addAndGet(m.executorRunTime)
          shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.diskBytesSpilled)
          inBytes.addAndGet(m.inputMetrics.bytesRead): Unit
        }
    }
    spark.sparkContext.addSparkListener(listener)

    private val appender = new AbstractAppender("perfbench-log-count", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = if (on) {
        if (e.getLevel.isMoreSpecificThan(Level.ERROR)) errors.incrementAndGet()
        else if (e.getLevel == Level.WARN) warns.incrementAndGet()
      }
    }
    appender.start()
    private val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()

    private def all = Seq(jobs, stages, tasks, cpuNs, runMs, shRead, shWrite,
      spill, inBytes, errors, warns)
    private def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    private var gc0 = 0L

    def start(): Unit = { all.foreach(_.set(0)); gc0 = gcMs(); on = true }
    def jobsNow(): Long = { drain(); jobs.get }

    /** Stops counting once every event of the op has been delivered. */
    def stop(): Map[String, Double] = {
      drain(); on = false
      Map(
        "spark.jobs" -> jobs.get.toDouble,
        "spark.stages" -> stages.get.toDouble,
        "spark.tasks" -> tasks.get.toDouble,
        "spark.task_cpu_s" -> cpuNs.get / 1e9,
        "spark.task_run_s" -> runMs.get / 1e3,
        "spark.shuffle_read_bytes" -> shRead.get.toDouble,
        "spark.shuffle_write_bytes" -> shWrite.get.toDouble,
        "spark.spill_bytes" -> spill.get.toDouble,
        "spark.gc_s" -> (gcMs() - gc0) / 1e3,
        "spark.error_log_lines" -> errors.get.toDouble,
        "spark.warn_log_lines" -> warns.get.toDouble,
        "input_bytes" -> inBytes.get.toDouble)
    }
    private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
  }

  // --------------------------------------------------------------- pipeline

  private val Thresholds = Seq(0.25, 0.5, 0.75)

  /** The steps `SpeciesPipeline` runs before thresholding, repeated here so
    * each layer can be timed on its own pre-materialized input.
    */
  private def cellsOf(spark: SparkSession, glob: String): DataFrame =
    EsriAsciiGrid.readCells(spark, glob)
      .withColumn("species", regexp_extract(col("path"), "([A-Za-z0-9_-]+)\\.[A-Za-z]+$", 1))

  private def thresholdedOf(cells: DataFrame): DataFrame =
    Raster.thresholdExplode(cells, "prob", Thresholds)
      .withColumn("threshold", (col("threshold") * 100).cast("int").cast("string"))

  private def pipeline(spark: SparkSession, a: Args): Map[String, Any] = {
    val glob = s"${a.input}/*.asc"
    val sink = s"${a.work}/speciesdata"
    // one op: the whole pipeline to the parquet sink
    def op(input: String = glob): Double =
      timed(Raster.writeSpeciesData(SpeciesPipeline.speciesData(spark, input), sink))._2
    // sid comes from monotonically_increasing_id, whose values follow the
    // shuffle's arrival order, so it is left out of the op's checksum
    def readBack(): (Long, Long) = Bench.materialize(spark.read.parquet(sink).drop("sid"))

    // warm-up, counted in setup. The first op in a JVM runs 4-6 times
    // slower than a warm one while the JIT compiles; it runs over one grid,
    // which warms the same code at a quarter of the work.
    val oneGrid = new java.io.File(a.input).listFiles()
      .filter(_.getName.endsWith(".asc")).map(_.getPath).min
    note(f"warm-up op over one grid ${op(oneGrid)}%.2f s")
    reset(spark)
    (1 to WarmupOps).foreach { _ => note(f"warm-up op ${op()}%.2f s"); reset(spark) }
    quiesce()
    val firstOpEpochMs = System.currentTimeMillis()
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val traces = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val ascBytes = new java.io.File(a.input).listFiles()
      .filter(_.getName.endsWith(".asc")).map(_.length).sum.toDouble
    for (_ <- 0 until a.rounds) {
      val o = attempt(Map("op" -> "pipeline")) {
        val sec = op()
        note(f"op $sec%.2f s")
        val (rows, sum) = readBack()
        Map("sec" -> sec, "rows" -> rows, "checksum" -> sum)
      }
      ops += o
      reset(spark)
      tracer.foreach { tr =>
        val plainSec = o.getOrElse("sec", Double.NaN).asInstanceOf[Double]
        traces += attempt(Map("op" -> "traced pipeline")) {
          tracePipelineOp(spark, a, tr, glob, plainSec, ascBytes, () => op())
        }
        reset(spark)
      }
    }

    Map("first_op_epoch_ms" -> firstOpEpochMs, "ops" -> ops.toSeq,
      "traces" -> traces.toSeq, "checks" -> sinkSummary(spark, sink))
  }

  /** One traced pipeline op, then each layer on its own over inputs
    * materialized beforehand. `plainSec` is the untraced op just run.
    */
  private def tracePipelineOp(spark: SparkSession, a: Args, tr: Tracer, glob: String,
                              plainSec: Double, ascBytes: Double,
                              op: () => Double): Map[String, Double] = {
    tr.start()
    val tracedSec = op()
    val counters = tr.stop()
    reset(spark)

    val (_, parseS) = timed(Bench.materialize(EsriAsciiGrid.readCells(spark, glob)))
    val cells = cellsOf(spark, glob).persist()
    cells.count()
    val ((thrRows, _), thresholdS) =
      timed(Bench.materialize(Raster.thresholdExplode(cells, "prob", Thresholds)))
    val thr = thresholdedOf(cells).persist()
    thr.count()
    // labelling is not part of this op (speciesDataExact runs it); it is
    // timed here over the same thresholded cells as a layer of its own
    val keys = Seq("species", "threshold")
    val (_, labelS) = timed(Bench.materialize(Contiguity.labelCells(thr, keys, "row", "col")))
    val regions = Contiguity.labelCells(thr, keys, "row", "col")
      .select("species", "threshold", "comp").distinct().count()
    val rects = thr
      .withColumn("cell_geom", Geom.stCellRectFrom(col("row"), col("col"),
        col("xll"), col("yll"), col("cellsize"), col("nrows")))
      .persist()
    rects.count()
    val (_, unionS) = timed(Bench.materialize(rects
      .groupBy(keys.map(col): _*).agg(Geom.stUnionAgg(col("cell_geom")).as("geometry"))))
    val result = SpeciesPipeline.speciesData(spark, glob).persist()
    result.count()
    val (_, sinkS) = timed(Raster.writeSpeciesData(result, s"${a.work}/speciesdata-sink-probe"))

    // single-thread kernels: the parser on one grid file's text, and the
    // union aggregate's reduce + finish over the largest group's cells
    val biggest = new java.io.File(a.input).listFiles()
      .filter(_.getName.endsWith(".asc")).maxBy(_.length)
    val text = new String(java.nio.file.Files.readAllBytes(biggest.toPath), "UTF-8")
    val parseRate = median((1 to 3).map { _ =>
      val (n, s) = timed(EsriAsciiGrid.parse(text)._2.size)
      n / s
    })
    val topKey = rects.groupBy(keys.map(col): _*).count()
      .orderBy(col("count").desc).limit(1).collect()(0)
    val group = rects.filter(keys.zipWithIndex
        .map { case (k, i) => col(k) === topKey.get(i) }.reduce(_ && _))
      .select("cell_geom").collect().map(_.getAs[Array[Byte]](0)).toSeq
    val unionRate = median((1 to 3).map { _ =>
      val (_, s) = timed(Geom.UnionAgg.finish(
        group.foldLeft(Geom.UnionAgg.zero)(Geom.UnionAgg.reduce)))
      group.size / s
    })
    Seq(cells, thr, rects, result).foreach(_.unpersist())

    val layerSum = parseS + thresholdS + unionS + sinkS
    counters - "input_bytes" ++ Map(
      "op_s" -> plainSec,
      "traced_op_s" -> tracedSec,
      "trace.overhead_s" -> (tracedSec - plainSec),
      "trace.unaccounted_s" -> (plainSec - layerSum),
      "sources.parse_s" -> parseS,
      "sources.parse_cells_per_s" -> parseRate,
      "sources.scan_passes" -> counters("input_bytes") / ascBytes,
      "operators.threshold_s" -> thresholdS,
      "operators.threshold_rows" -> thrRows.toDouble,
      "operators.label_s" -> labelS,
      "operators.regions" -> regions.toDouble,
      "functions.union_s" -> unionS,
      "functions.union_cells_per_s" -> unionRate,
      "functions.union_group_cells" -> group.size.toDouble,
      "operators.sink_s" -> sinkS)
  }

  /** What the output checks need from the sink, one entry per row:
    * the keys, the program's `area`, and JTS's reading of the geometry.
    */
  private def sinkSummary(spark: SparkSession, sink: String): Seq[Map[String, Any]] =
    spark.read.parquet(sink).select("species", "threshold", "species_id", "area", "geometry")
      .collect().toSeq.map { r =>
        val g = Geom.readWkb(r.getAs[Array[Byte]]("geometry"))
        Map("species" -> r.getString(0), "threshold" -> r.getString(1),
          "species_id" -> r.getInt(2), "area" -> r.getDouble(3),
          "type" -> g.getGeometryType, "ngeoms" -> g.getNumGeometries,
          "valid" -> g.isValid)
      }

  // -------------------------------------------------------------- query mix

  private def countExchanges(df: DataFrame): Int = {
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collectWithSubqueries(df.queryExecution.executedPlan) { case e: Exchange => e }.size
  }

  private def queryMix(spark: SparkSession, a: Args): Map[String, Any] = {
    val qs = a.queries.sorted
    // warm-up, counted in setup: one pass writing every query's output for
    // the oracle check
    val outputs = qs.map { q =>
      val out = s"${a.work}/out/$q"
      val (_, sec) = timed(
        SparkEntry.queries(q)(spark, a.sfDir).coalesce(1).write.mode("overwrite").parquet(out))
      note(f"warm-up write $q $sec%.2f s")
      reset(spark)
      q -> Map("dir" -> out, "oracle" -> SparkEntry.oracleSql.getOrElse(q, ""))
    }.toMap
    quiesce()
    val firstOpEpochMs = System.currentTimeMillis()
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val traces = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    for (round <- 0 until a.rounds) {
      qs.foreach { q =>
        ops += attempt(Map("query" -> q, "round" -> round)) {
          val ((rows, sum), sec) =
            timed(Bench.materialize(SparkEntry.queries(q)(spark, a.sfDir)))
          note(f"$q $sec%.2f s")
          Map("sec" -> sec, "rows" -> rows, "checksum" -> sum)
        }
        reset(spark)
      }
      tracer.foreach { tr =>
        qs.foreach { q =>
          traces += attempt(Map("query" -> q, "round" -> round)) { traceQuery(spark, a, tr, q) }
          reset(spark)
        }
      }
    }
    Map("first_op_epoch_ms" -> firstOpEpochMs, "ops" -> ops.toSeq,
      "traces" -> traces.toSeq, "outputs" -> outputs)
  }

  /** One traced query op, split into build, plan and execution. */
  private def traceQuery(spark: SparkSession, a: Args, tr: Tracer,
                         q: String): Map[String, Double] = {
    tr.start()
    val (df, buildS) = timed(SparkEntry.queries(q)(spark, a.sfDir))
    val buildJobs = tr.jobsNow()
    val (_, planS) = timed(df.queryExecution.executedPlan)
    val exchanges = countExchanges(df)
    val (_, execS) = timed(Bench.materialize(df))
    val counters = tr.stop()
    Checkpoints.releaseAll(spark)
    val left = cacheEntries(spark)
    counters - "input_bytes" ++ Map(
      "traced_op_s" -> (buildS + planS + execS),
      "queries.build_s" -> buildS,
      "queries.build_jobs" -> buildJobs.toDouble,
      "queries.plan_s" -> planS,
      "queries.exchanges" -> exchanges.toDouble,
      "queries.exec_s" -> execS,
      "queries.cache_entries_left" -> left.toDouble)
  }

  // ------------------------------------------------------------------- main

  private def json(v: Any): String = v match {
    case null                 => "null"
    case s: String            => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number            => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_]       => s.map(json).mkString("[", ",", "]")
    case other                => json(other.toString)
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spark = session(a)
    note("session ready")
    val result = a.workload match {
      case "dissolve_smooth" => pipeline(spark, a)
      case "query_mix"       => queryMix(spark, a)
      case w                 => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // peak RSS is a progress note, not a metric: under the fixed heap it
    // swung by a fifth between runs of query_mix (see README)
    note(f"peak RSS ${vmHwmMb()}%.0f MB")
    spark.stop()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${a.work}/result.json"), json(result))
  }
}

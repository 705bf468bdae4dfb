package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Runner
import graft.dsl.Parser
import graft.orchestration.TableStats
import graft.sinks.{CopyEndpoint, LocalCopy, PgWire, PgWireCopyEndpoint,
  PgWireDdlExecutor}
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. It reads a plan (JSON) written by
  * `perfbench/run.py`, sets up the way the program's own entry points
  * do, runs one workload closed-loop for the planned seconds and writes
  * what it measured and observed to the plan's `out` file. Checking the
  * observations against the generated inputs is left to `run.py`.
  *
  * Usage: perfbench.Harness <plan.json>
  */
object Harness {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private[perfbench] def strs(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText).toSeq

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new java.io.File(args(0)))
    val cpus = plan.get("cpus").asInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", plan.get("local_dir").asText)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val workload: Workload = plan.get("kind").asText match {
      case "load" => new LoadWorkload(plan.get("load"))
      case "query" => new QueryWorkload(plan.get("query"))
    }
    val out = try {
      val w0 = System.nanoTime()
      workload.warm(spark)
      val warmS = (System.nanoTime() - w0) / 1e9
      // JVM launch (stamped by run.py just before it) to the first timed
      // call: JVM start, SparkSession boot and the untimed warm-up
      val setupS = (Trace.now() - plan.get("launched_ns").asLong) / 1e9
      if (plan.get("setup_only").asBoolean) {
        // a setup probe has nothing left to measure: leave at once
        write(plan, Map("setup_s" -> setupS, "warm_s" -> warmS))
        Runtime.getRuntime.halt(0)
      }
      val seconds = plan.get("seconds").asDouble
      val traced = plan.get("trace").asBoolean
      val gc0 = gcCount()
      val iterations = Seq.newBuilder[Map[String, Any]]
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var i = 0
      // closed loop, one operation at a time
      while (elapsed < seconds || i < workload.minIterations(traced)) {
        iterations += workload.iteration(spark, traced && workload.tracedAt(i))
        i += 1
      }
      Map("setup_s" -> setupS, "warm_s" -> warmS, "measured_s" -> elapsed,
        "iterations" -> iterations.result(), "gc_count" -> (gcCount() - gc0),
        "context" -> workload.context)
    } finally spark.stop()
    write(plan, out)
  }

  private def write(plan: JsonNode, out: Map[String, Any]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(plan.get("out").asText),
      json.writeValueAsBytes(out + ("peak_rss_kb" -> peakRssKb())))

  private def gcCount(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionCount)).sum

  private def peakRssKb(): Long = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally status.close()
  }

  /** Runs `body` (one traced operation) with the layer listener on and
    * returns its layer metrics: `body`'s own ones, the listener and hook
    * counters, span sums and a load's self time. */
  private[perfbench] def tracedLayers(spark: SparkSession)(
      body: => Map[String, Double]): Map[String, Double] = {
    val sc = spark.sparkContext
    PerfbenchBus.drain(sc)
    val listener = new LayerListener
    sc.addSparkListener(listener)
    val cg0 = CodeGenerator.compileTime
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val lc0 = LocalCopy.loads.get
    Trace.reset()
    Trace.start(System.nanoTime())
    val own = try body finally {
      PerfbenchBus.drain(sc)
      Trace.stop()
      sc.removeSparkListener(listener)
    }
    val spans = Trace.adopt(Trace.all, "spark.job")
    val self = Trace.selfNanos(spans)
    def c(n: String) = Trace.counter(n).toDouble
    def span(n: String) =
      spans.iterator.filter(_.name == n).map(_.nanos).sum / 1e9
    val roots = spans.filter(_.parent == 0L)
    val jobs = spans.filter(_.name == "spark.job").map(s => (s.start, s.end))
    Map(
      "sinks.ddl_calls" -> c("sinks.ddl_calls"),
      "sinks.ddl_s" -> span("sinks.ddl"),
      "sinks.target_queries" -> c("sinks.target_queries"),
      "sinks.endpoints_opened" -> c("sinks.endpoints_opened"),
      "sinks.local_copy_tables" -> (LocalCopy.loads.get - lc0).toDouble,
      "sinks.copy_sends" -> c("sinks.copy_sends"),
      "sinks.copy_send_s" -> span("sinks.copy_send"),
      "sinks.copy_failed_sends" -> c("sinks.copy_failed_sends"),
      "sinks.bytes_attempted_mb" -> c("sinks.bytes_attempted") / 1e6,
      "sinks.useful_byte_ratio" ->
        (if (c("sinks.bytes_attempted") > 0)
           c("sinks.bytes_committed") / c("sinks.bytes_attempted")
         else 0.0),
      "spark.jobs" -> c("spark.jobs"),
      "spark.tasks" -> c("spark.tasks"),
      "spark.task_run_s" -> c("spark.task_run_ms") / 1e3,
      "spark.task_cpu_s" -> c("spark.task_cpu_ns") / 1e9,
      "spark.gc_s" -> c("spark.gc_ms") / 1e3,
      "spark.shuffle_write_mb" -> c("spark.shuffle_write_bytes") / 1e6,
      "spark.spill_mb" -> c("spark.spill_bytes") / 1e6,
      "spark.plan_s" -> c("spark.plan_ms") / 1e3,
      "spark.codegen_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
      "spark.codegen_compiles" ->
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0).toDouble,
      // the operations' time outside every Spark job
      "spark.outside_jobs_s" -> roots.iterator
        .map(r => r.nanos - Trace.covered(r.start, r.end, jobs)).sum / 1e9,
      // a load's time outside every job and every wrapped hook call
      "orchestration.self_s" ->
        self.getOrElse("orchestration.run_file", 0L) / 1e9,
      "streaming.batches" -> c("streaming.batches"),
      "streaming.batch_s" -> c("streaming.batch_ms") / 1e3,
      "streaming.wal_commit_s" -> c("streaming.wal_commit_ms") / 1e3,
      "streaming.state_rows" -> c("streaming.state_rows"),
      "trace.spans" -> spans.size.toDouble,
    ) ++ own
  }
}

/** One workload: untimed warm-up, then timed iterations. In a traced
  * run, `tracedAt(i)` says which iterations are traced. */
trait Workload {
  def warm(spark: SparkSession): Unit
  def iteration(spark: SparkSession, traced: Boolean): Map[String, Any]
  def minIterations(traced: Boolean): Int
  def tracedAt(i: Int): Boolean
  def context: Map[String, Any] = Map.empty
}

/** A `.load` command run through a [[graft.Runner]] built with the same
  * hooks `Runner.main` wires. Before every iteration the target is put
  * back in the same state (untimed): the plan's reset statements, then
  * `CHECKPOINT`. After every iteration the plan's check queries run
  * (untimed) and their rows are reported. */
final class LoadWorkload(p: JsonNode) extends Workload {
  private val text = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get(p.get("file").asText)), "UTF-8")
  private val baseDir = p.get("base_dir").asText
  private val targetUri = p.get("target").asText
  private val rejectDir = new java.io.File(p.get("reject_dir").asText)
  private val reset = Harness.strs(p.get("reset"))
  private val checks = p.get("checks").elements().asScala.toSeq
    .map(n => (n.get("uri").asText, n.get("sql").asText))
  private def wire(uri: String) = PgWire.connParams(uri, identity)
  private val target = wire(targetUri)

  // a pg_migrate load's time varies by a fifth from one load to the
  // next on a busy host, so an untraced run takes the median of five
  def minIterations(traced: Boolean): Int = if (traced) 4 else 5
  // traced and untraced loads alternate, so the tracing overhead is
  // measured on the same host state
  def tracedAt(i: Int): Boolean = i % 2 == 1

  private def onTarget[T](uri: String)(f: PgWireDdlExecutor => T): T = {
    val ex = new PgWireDdlExecutor(wire(uri))
    try f(ex) finally ex.close()
  }

  private val walColumns = Seq("wal_records", "wal_fpi", "wal_bytes",
    "wal_buffers_full", "wal_write", "wal_sync", "wal_write_time",
    "wal_sync_time")
  private def walStats(): Seq[Double] = onTarget(targetUri)(_.query(
    s"SELECT ${walColumns.map(_ + "::text").mkString(", ")} FROM pg_stat_wal"))
    .head.toSeq.map(_.toDouble)
  private var wal0 = Seq.empty[Double]

  /** One untimed load, so the timed loads do not carry the JVM's
    * first-load class loading and codegen. */
  def warm(spark: SparkSession): Unit = {
    resetTarget()
    val (ddl, runner) = hooks(traced = false)
    try runner.runFile(spark, text, baseDir) finally ddl.close()
    wal0 = walStats()
  }

  override def context: Map[String, Any] = Map("pg_stat_wal_delta" ->
    walColumns.zip(walStats().zip(wal0).map { case (a, b) => a - b }).toMap)

  private def resetTarget(): Unit = {
    onTarget(targetUri) { ex =>
      reset.foreach(s => ex(s, Nil))
      ex("CHECKPOINT", Nil)
    }
    deleteTree(rejectDir)
  }

  private def hooks(traced: Boolean) = {
    val ddl = new PgWireDdlExecutor(target)
    val plainCopy = LoadWorkload.copyFactory(target, binary = false)
    val binaryCopy = LoadWorkload.copyFactory(target, binary = true)
    val query: String => Seq[Array[String]] = ddl.query
    val runner =
      if (!traced) new Runner(executeDdl = ddl, endpointFactory = plainCopy,
        rejectRoot = Some(rejectDir.getPath), queryTarget = query,
        binaryEndpointFactory = binaryCopy)
      else new Runner(executeDdl = new TracedDdl(ddl),
        endpointFactory = new TracedEndpointFactory(plainCopy),
        rejectRoot = Some(rejectDir.getPath), queryTarget = new TracedQuery(query),
        binaryEndpointFactory = new TracedEndpointFactory(binaryCopy))
    (ddl, runner)
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** The rejected rows: every line of the `<table>.dat/` reject files. */
  private def rejectLines(f: java.io.File = rejectDir): Seq[String] =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(rejectLines)
    else if (f.getParentFile.getName.endsWith(".dat") &&
             !f.getName.startsWith(".") && !f.getName.startsWith("_")) {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList finally src.close()
    } else Nil

  def iteration(spark: SparkSession, traced: Boolean): Map[String, Any] = {
    resetTarget()
    val (ddl, runner) = hooks(traced)
    var stats: Seq[TableStats] = Nil
    var error: String = null
    var secs = 0.0
    def run(): Unit = {
      val t0 = System.nanoTime()
      try stats = runner.runFile(spark, text, baseDir)
      catch { case e: Throwable => error = String.valueOf(e) }
      finally ddl.close()
      secs = (System.nanoTime() - t0) / 1e9
    }
    val layers = if (!traced) { run(); None } else Some {
      val m = Harness.tracedLayers(spark) {
        val p0 = System.nanoTime()
        Parser.parseAll(text, baseDir)
        val parseS = (System.nanoTime() - p0) / 1e9
        Trace.span("orchestration.run_file")(run())
        val phases = runner.fullSummary(stats, (secs * 1000).toLong)
          .phaseEntries.groupBy(_.label)
          .map { case (k, v) => k -> v.map(_.nanos).sum / 1e9 }
        def ph(labels: String*) = labels.map(phases.getOrElse(_, 0.0)).sum
        Map("dsl.parse_s" -> parseS,
          "catalog.introspect_s" -> ph("fetch meta data"),
          "orchestration.create_tables_s" -> ph("Create tables"),
          "orchestration.index_s" -> ph("Create Indexes", "Index Build Completion"),
          "orchestration.fkey_s" -> ph("Primary Keys", "Create Foreign Keys"),
          // database loads time their data phase; for file loads it is
          // the load minus its BEFORE/AFTER LOAD DO entries
          "orchestration.copy_wall_s" -> phases.getOrElse(
            "COPY Wall-Clock Time", secs - phases.values.sum),
          "sinks.rows_rejected" -> stats.map(_.rejected).sum.toDouble)
      }
      // the fused parse, cast and render inside the tasks: task run time
      // not spent in COPY sends
      m + ("sources.scan_encode_s" ->
        math.max(0.0, m("spark.task_run_s") - m("sinks.copy_send_s")))
    }
    val tableErrors = stats.flatMap(s => s.error.map(e => s"${s.table}: $e"))
    val op = Map("name" -> "load", "secs" -> secs,
      "rows" -> stats.map(_.rows).sum, "tables" -> stats.size,
      "rejected" -> stats.map(_.rejected).sum,
      "error" -> Option(error).orElse(tableErrors.headOption),
      "table_errors" -> tableErrors.size)
    val checked = checks.map { case (uri, sql) =>
      try onTarget(uri)(_.query(sql)).map(_.toSeq)
      catch { case e: Throwable => Seq(Seq(String.valueOf(e))) }
    }
    Map("traced" -> traced, "ops" -> Seq(op), "checks" -> checked,
      "rejects" -> rejectLines(), "layers" -> layers)
  }
}

object LoadWorkload {
  /** The COPY endpoint factory `Runner.main` wires, built here so the
    * closure captures only the connection parameters (it is serialized
    * into every task). */
  def copyFactory(target: PgWire.ConnParams, binary: Boolean)
      : (String, Seq[String]) => Int => CopyEndpoint =
    (table, sessionSql) => _ => new PgWireCopyEndpoint(target,
      s"COPY ${PgWire.quoteQualified(table)} FROM STDIN" +
        (if (binary) " WITH (FORMAT binary)" else ""),
      sessionSql, binary = binary)
}

/** `SparkEntry.queries(name)(spark, dir)` exactly as `graft.Bench` calls
  * it, after Bench's untimed warm set; the timed action is
  * [[Digest.of]] over the whole output instead of `count()`. */
final class QueryWorkload(p: JsonNode) extends Workload {
  private val dir = p.get("data").asText
  private val warmSet = Harness.strs(p.get("warm"))
  private val names = Harness.strs(p.get("queries"))
  private val module: Map[String, String] = p.get("modules").fields().asScala
    .map(e => e.getKey -> e.getValue.asText).toMap

  // an untraced run makes two passes (one cold, one warm), so each
  // query's time is a median of two
  def minIterations(traced: Boolean): Int = if (traced) 3 else 2
  // a query's first run in the JVM pays its codegen, so the per-layer
  // pass is the first one (cold, like an untraced run's first pass); the
  // overhead compares a second, untraced pass with a third, traced one
  def tracedAt(i: Int): Boolean = i != 1

  def warm(spark: SparkSession): Unit = {
    warmSet.foreach { w =>
      try graft.SparkEntry.queries(w)(spark, dir).count()
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warmup $w failed: ${e.getMessage}") }
    }
    spark.catalog.clearCache()
    System.gc()
  }

  private def runOne(spark: SparkSession, name: String): Map[String, Any] = {
    val t0 = System.nanoTime()
    val result =
      try Right(Trace.span("query." + name) {
        Digest.of(graft.SparkEntry.queries(name)(spark, dir))
      })
      catch { case e: Throwable => Left(String.valueOf(e).take(500)) }
    val secs = (System.nanoTime() - t0) / 1e9
    // untimed between-query isolation, as in Bench
    spark.catalog.clearCache()
    System.gc()
    Map("name" -> name, "secs" -> secs,
      "rows" -> result.fold(_ => 0L, _._1),
      "digest" -> result.toOption.map(_._2), "error" -> result.left.toOption)
  }

  def iteration(spark: SparkSession, traced: Boolean): Map[String, Any] = {
    var ops = Seq.empty[Map[String, Any]]
    val layers = if (!traced) { ops = names.map(runOne(spark, _)); None }
      else Some(Harness.tracedLayers(spark) {
        ops = names.map(runOne(spark, _))
        ops.groupBy(o => module.getOrElse(o("name").toString, "spark"))
          .map { case (m, os) =>
            s"$m.query_s" -> os.map(_("secs").asInstanceOf[Double]).sum }
      })
    Map("traced" -> traced, "ops" -> ops, "layers" -> layers)
  }
}

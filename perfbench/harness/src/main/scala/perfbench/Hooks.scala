package perfbench

import graft.sinks.CopyEndpoint
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.PerfbenchSql
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wrappers around the hooks a [[graft.Runner]] is built with. Each
  * records into [[Trace]] and then calls the hook it wraps, so the
  * Runner sees exactly the hooks `Runner.main` wires. They are
  * serializable because Spark ships the endpoint factory into tasks. */
final class TracedDdl(inner: (String, Seq[String]) => Unit)
    extends ((String, Seq[String]) => Unit) with Serializable {
  def apply(sql: String, sessionSetup: Seq[String]): Unit = {
    Trace.count("sinks.ddl_calls")
    Trace.span("sinks.ddl")(inner(sql, sessionSetup))
  }
}

final class TracedQuery(inner: String => Seq[Array[String]])
    extends (String => Seq[Array[String]]) with Serializable {
  def apply(sql: String): Seq[Array[String]] = {
    Trace.count("sinks.target_queries")
    Trace.span("sinks.target_query")(inner(sql))
  }
}

final class TracedEndpointFactory(
    inner: (String, Seq[String]) => Int => CopyEndpoint)
    extends ((String, Seq[String]) => Int => CopyEndpoint) with Serializable {
  def apply(table: String, sessionSetup: Seq[String]): Int => CopyEndpoint =
    new TracedPartitionEndpoint(inner(table, sessionSetup))
}

final class TracedPartitionEndpoint(inner: Int => CopyEndpoint)
    extends (Int => CopyEndpoint) with Serializable {
  def apply(partition: Int): CopyEndpoint = {
    Trace.count("sinks.endpoints_opened")
    new TracedEndpoint(Trace.span("sinks.endpoint_open")(inner(partition)))
  }
}

/** Counts every `send`, the bytes handed to it, the bytes of sends that
  * committed (one COPY per send) and the sends the server refused. */
final class TracedEndpoint(inner: CopyEndpoint) extends CopyEndpoint {
  override def send(rows: Seq[Array[Byte]]): Unit = {
    var bytes = 0L
    rows.foreach(r => bytes += r.length)
    Trace.count("sinks.copy_sends")
    Trace.count("sinks.bytes_attempted", bytes)
    try {
      Trace.span("sinks.copy_send")(inner.send(rows))
      Trace.count("sinks.bytes_committed", bytes)
    } catch {
      case e: Throwable =>
        Trace.count("sinks.copy_failed_sends")
        throw e
    }
  }
  override def close(): Unit = inner.close()
}

/** Spark-side layer counters for the traced run: jobs become spans (so
  * a query's time outside any job is its self time), tasks feed the
  * executor counters, finished SQL executions give their planning
  * phases (`QueryExecution.tracker`), and streaming progress reports
  * give the micro-batch counters. Streaming and SQL events are read off
  * the shared listener bus, so queries running in sessions of their own
  * are counted too. */
final class LayerListener extends SparkListener {
  private val jobStarts =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Trace.count("spark.jobs")
    Option(jobStarts.remove(e.jobId)).foreach { t0 =>
      Trace.record("spark.job", t0 * 1000000L, e.time * 1000000L, -1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Trace.count("spark.tasks")
    val m = e.taskMetrics
    if (m != null) {
      Trace.count("spark.task_run_ms", m.executorRunTime)
      Trace.count("spark.task_cpu_ns", m.executorCpuTime)
      Trace.count("spark.gc_ms", m.jvmGCTime)
      Trace.count("spark.shuffle_write_bytes",
        m.shuffleWriteMetrics.bytesWritten)
      Trace.count("spark.spill_bytes",
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Trace.count("spark.plan_ms", PerfbenchSql.planMillis(end))
    case p: StreamingQueryListener.QueryProgressEvent =>
      val pr = p.progress
      Trace.count("streaming.batches")
      Trace.count("streaming.batch_ms", pr.batchDuration)
      Option(pr.durationMs.get("walCommit"))
        .foreach(v => Trace.count("streaming.wal_commit_ms", v.longValue))
      Trace.count("streaming.state_rows",
        pr.stateOperators.map(_.numRowsTotal).sum)
    case _ => ()
  }
}

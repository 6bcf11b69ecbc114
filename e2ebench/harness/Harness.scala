package e2ebench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.management.GarbageCollectionNotificationInfo
import graft.api.{GraphQL, GraphQLExecutor, HttpEdge}
import graft.metrics.MetricsEmitter
import graft.sources.Journal
import graft.streaming.JournalStream
import graft.warehouse.Warehouse
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExternalRDDScanExec, FileSourceScanExec, QueryExecution,
  RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

/** The JVM side of the end-to-end benchmark: hosts the SparkSession and the
  * HTTP edge, and calls the warehouse's layers on command.
  *
  * Commands arrive one JSON object a line on stdin; each reply is one line
  * on stdout prefixed with [[Reply]], so Spark's own output cannot be
  * mistaken for one. The load generator (run.py) times every call from
  * outside; the harness only adds spans and, when tracing, the listener
  * records, which it keeps in memory and writes at `dump`.
  *
  * Usage: Harness <journalRoot> <warehouseDir> <cpus> <trace 0|1>
  */
object Harness {
  val Reply = "@@E2E "
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Array(journal, wh, cpus, traceArg) = args
    val trace = traceArg == "1"
    val heap = new HeapPeak
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer
    if (trace) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      spark.streams.addListener(tracer.streaming)
    }
    val out = new PrintWriter(System.out, true)
    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    val h = new Harness(spark, journal, wh, tracer, heap)
    reply(out, Map("ready" -> true))
    var line = in.readLine()
    while (line != null) {
      val cmd = mapper.readTree(line)
      val op = cmd.get("op").asText
      val res: Map[String, Any] =
        try h.run(op, cmd)
        catch { case e: Throwable => Map("error" -> e.toString) }
      reply(out, res)
      line = if (op == "quit") null else in.readLine()
    }
    try {
      h.close()
      spark.stop()
    } finally {
      // a request still in flight on an edge thread would keep the JVM
      // alive after the session stops
      System.exit(0)
    }
  }

  private def reply(out: PrintWriter, m: Map[String, Any]): Unit =
    out.println(Reply + mapper.writeValueAsString(toJava(m)))

  def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }
}

/** One timed call into a layer. Jobs the call starts carry the span's tag,
  * so their stage and task counters are attributed to it.
  */
final case class Span(id: Long, name: String, startMs: Long, endMs: Long)

final class Harness(spark: SparkSession, journal: String, wh: String, tracer: Tracer,
    heap: HeapPeak) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private var nextSpan = 0L
  private var edge: Option[HttpEdge] = None
  private var stream: Option[StreamingQuery] = None
  private lazy val gql = new GraphQLExecutor(
    () => spark.read.parquet(s"$wh/tenant"),
    () => spark.read.parquet(s"$wh/account"),
    () => spark.read.parquet(s"$wh/transfer"))

  /** Runs `f` inside a span; returns its result and wall seconds. */
  private def span[A](name: String)(f: => A): (A, Double) = {
    nextSpan += 1
    val id = nextSpan
    val tag = s"e2e-span-$id"
    spark.sparkContext.addJobTag(tag)
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - n0) / 1e9)
    } finally {
      spans.add(Span(id, name, t0, System.currentTimeMillis()))
      spark.sparkContext.removeJobTag(tag)
    }
  }

  def run(op: String, cmd: JsonNode): Map[String, Any] = op match {
    case "sync" =>
      val rec = new MetricsEmitter.Recording()
      val (st, s) = span("sync")(Warehouse.sync(spark, journal, wh, metrics = rec))
      Map("s" -> s, "span" -> nextSpan,
        "stats" -> Seq(st.newTenants, st.newAccounts, st.newTransfers),
        "metrics" -> rec.lines)

    case "tables" => tables()

    case "edge_start" =>
      val e = new HttpEdge(spark, wh, port = 0).start()
      edge = Some(e)
      Map("port" -> e.boundPort)

    case "refresh" =>
      val (_, s) = span("refresh")(edge.get.refresh())
      Map("s" -> s)

    case "cached_plans" => Map("n" -> edge.get.cachedPlans)

    case "stream_start" =>
      val ms = cmd.get("trigger_ms").asLong
      val q = JournalStream.start(spark, cmd.get("journal").asText, cmd.get("warehouse").asText,
        cmd.get("checkpoint").asText,
        trigger = Trigger.ProcessingTime(ms))
      stream = Some(q)
      Map("id" -> q.id.toString)

    case "stream_stop" =>
      stream.foreach { q => q.processAllAvailable(); q.stop() }
      stream = None
      Map("ok" -> true)

    case "transfer_keys" =>
      // the stream's output, checked against every transaction file written
      val rows = spark.read.parquet(s"${cmd.get("warehouse").asText}/transfer")
        .selectExpr("concat_ws('/', tenant, transaction, transfer)").collect()
      Map("keys" -> rows.map(_.getString(0)).toSeq.sorted)

    case "journal_read" =>
      // the four readers on the same journal, each materialized in full
      val readers = Seq(
        "tenants" -> (() => Journal.tenants(spark, journal)),
        "accounts" -> (() => Journal.accounts(spark, journal)),
        "events" -> (() => Journal.events(spark, journal)),
        "transfers" -> (() => Journal.transfers(spark, journal)))
      val res = readers.map { case (name, df) =>
        val (n, s) = span(s"journal.$name")(df().queryExecution.toRdd.count())
        Map("reader" -> name, "rows" -> n, "s" -> s, "span" -> nextSpan)
      }
      Map("readers" -> res)

    case "gql_replay" =>
      // parse, compile (plans minus its own parse) and render per document
      val res = cmd.get("docs").elements().asScala.toSeq.map { d =>
        val doc = d.asText
        val (_, parse) = span("gql.parse")(GraphQL.parse(doc))
        val (plans, both) = span("gql.plans")(gql.plans(doc))
        val (body, render) = span("gql.render")(gql.renderResponse(plans))
        Map("parse_s" -> parse, "compile_s" -> math.max(0.0, both - parse),
          "render_s" -> render, "bytes" -> body.length)
      }
      Map("docs" -> res)

    case "jvm" =>
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
      Map("gc_ms" -> gc, "heap_peak_bytes" -> heap.bytes)

    case "dump" =>
      val path = Paths.get(cmd.get("path").asText)
      val lines = spans.asScala.toSeq.map(s => Map("kind" -> "span", "id" -> s.id,
        "name" -> s.name, "start" -> s.startMs, "end" -> s.endMs)) ++ tracer.records
      Files.write(path, lines.map(l =>
        new ObjectMapper().writeValueAsString(Harness.toJava(l))).asJava)
      Map("records" -> lines.size)

    case "quit" => Map("ok" -> true)
  }

  /** What the last sync pass left: counts, watermarks and the published
    * balance MV, in the ledger's shape.
    */
  private def tables(): Map[String, Any] = {
    def count(t: String) = spark.read.parquet(s"$wh/$t").count()
    val marks = spark.read.parquet(s"$wh/account")
      .filter("last_syn_snapshot <> 0 OR last_syn_event <> 0")
      .selectExpr("concat(tenant, '/', name)", "last_syn_snapshot", "last_syn_event")
      .collect().map(r => r.getString(0) -> Seq(r.getInt(1), r.getInt(2))).toMap
    val mv = graft.operators.VersionedRoot.resolve(Paths.get(wh, "balances")).toString
    val balances = spark.read.parquet(mv)
      .selectExpr("concat(tenant, '/', name)", "balance")
      .collect().map(r => r.getString(0) -> r.getDecimal(1).stripTrailingZeros.toPlainString)
      .toMap
    Map("tenants" -> count("tenant"), "accounts" -> count("account"),
      "transfers" -> count("transfer"), "marks" -> marks, "balances" -> balances)
  }

  def close(): Unit = {
    stream.foreach(_.stop())
    edge.foreach(_.stop())
  }
}

/** The peak of total heap used since start. The heap is fullest just
  * before a collection, so the peak is the largest sum of the heap pools'
  * usage before any collection, or the heap used now if that is larger.
  */
final class HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peak = 0L
  private def note(used: Long): Unit = synchronized { if (used > peak) peak = used }

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      note(info.getGcInfo.getMemoryUsageBeforeGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def bytes: Long = {
    note(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    synchronized(peak)
  }
}

/** Listener records for the traced run: jobs (with their span tags and SQL
  * execution), finished stages with task-metric sums, SQL execution start
  * and end, Catalyst phase times per execution, and streaming progress.
  * Held in memory; joined to spans and request windows by run.py.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val buf = new ConcurrentLinkedQueue[Map[String, Any]]()
  def records: Seq[Map[String, Any]] = buf.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    buf.add(Map("kind" -> "job", "job" -> e.jobId, "time" -> e.time,
      "stages" -> e.stageIds,
      "exec" -> prop("spark.sql.execution.id").map(_.toLong),
      "tags" -> prop("spark.job.tags").toSeq.flatMap(_.split(","))
        .filter(_.startsWith("e2e-span-"))))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    buf.add(Map("kind" -> "job_end", "job" -> e.jobId, "time" -> e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    buf.add(Map("kind" -> "stage", "stage" -> i.stageId, "tasks" -> i.numTasks,
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_bytes" -> (if (m == null) 0L
        else m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten),
      "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
      "records_read" -> (if (m == null) 0L else m.inputMetrics.recordsRead)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      buf.add(Map("kind" -> "exec_start", "exec" -> s.executionId, "time" -> s.time))
    case s: SparkListenerSQLExecutionEnd =>
      // the end event carries the QueryExecution the QueryExecutionListener
      // sees next; its identity joins the two (the accessor is sql-private)
      val qe = classOf[SparkListenerSQLExecutionEnd].getMethod("qe").invoke(s)
      buf.add(Map("kind" -> "exec_end", "exec" -> s.executionId, "time" -> s.time,
        "qe" -> Option(qe).map(System.identityHashCode)))
    case _ => ()
  }

  /** Micro-batch progress: input rows and the trigger's phase times. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val pr = e.progress
      buf.add(Map("kind" -> "stream", "batch" -> pr.batchId, "rows" -> pr.numInputRows,
        "durations" -> pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Final physical plan nodes, through adaptive plans and query stages,
    * and with `intoCache` through the plans of cached relations too.
    */
  private def nodes(p: SparkPlan, intoCache: Boolean = false): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, intoCache)
    case q: QueryStageExec => nodes(q.plan, intoCache)
    case c: InMemoryTableScanExec if intoCache => c +: nodes(c.relation.cachedPlan, intoCache)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes(_, intoCache))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val plan = nodes(qe.executedPlan)
    val scans = plan.collect { case s: FileSourceScanExec =>
      Map("files" -> s.metrics.get("numFiles").map(_.value).getOrElse(0L),
        "bytes" -> s.metrics.get("filesSize").map(_.value).getOrElse(0L),
        "roots" -> s.relation.location.rootPaths.map(_.toString))
    }
    val writes = plan.collect { case w: DataWritingCommandExec =>
      val path = w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
        case _ => ""
      }
      Map("path" -> path,
        "files" -> w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L),
        "bytes" -> w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L))
    }
    // scans of RDDs, such as the journal's whole-file reads, named by the
    // RDD (the journal glob); the node's identity dedupes a cached plan's scan
    def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val rddScans = nodes(qe.executedPlan, intoCache = true).collect {
      case s: ExternalRDDScanExec[_] =>
        Map("node" -> System.identityHashCode(s), "name" -> String.valueOf(s.rdd.name),
          "rows" -> rows(s))
      case s: RDDScanExec =>
        Map("node" -> System.identityHashCode(s), "name" -> String.valueOf(s.rdd.name),
          "rows" -> rows(s))
    }
    buf.add(Map("kind" -> "qe", "qe" -> System.identityHashCode(qe), "func" -> funcName,
      "duration_ns" -> durationNs, "phases" -> phases, "scans" -> scans, "writes" -> writes,
      "rdd_scans" -> rddScans))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDInfo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Maps a Spark job to the engine layer whose code submitted it, from the
  * driver stack that submitted it. The stack is searched as a whole, so a
  * job started by `LakeTable.merge` inside `Tailer.applyBatch` belongs to
  * the lake write path, and one started by a merge inside
  * `Tailer.applyChanges` belongs to replication.
  */
object Layers {
  val all: Seq[String] = Seq("gen", "tailer", "cdc", "lake.write", "lake.compact",
    "lake.read", "cdf_mv", "ops", "bench", "spark.internal")

  // one frame of a call site's long form, e.g. `graft.cdc.Dedupe$.lww(Dedupe.scala:40)`;
  // a class loader or module prefix (`app//`, `java.base/`) is skipped
  private val frame = """(?m)^\s*(?:at\s+)?(?:[^/\s(]*/)*([\w$.]+)\.([\w$<>]+)\(""".r
  private val writeMethods = Set("merge", "mergeAppend", "mergeSql", "insertStrict",
    "rebucket", "truncate")

  private val element = """([\w$<>]+)\(([^)]*)\)""".r

  /** Short form of a long call site: `<last Spark method> at <file:line>`
    * of the first frame below Spark, e.g. `isEmpty at Tailer.scala:99`.
    */
  def site(longCallSite: String): String =
    Option(longCallSite).getOrElse("").linesIterator.take(2).toSeq
      .map(l => element.findFirstMatchIn(l)) match {
      case Seq(Some(spark), Some(user)) => s"${spark.group(1)} at ${user.group(2)}"
      case _ => ""
    }

  /** Local property naming the layer of a benchmark operation: a job
    * the benchmark itself submits (forcing a DataFrame an engine call
    * returned, such as a lookup's) belongs to the layer of that call.
    */
  val hintKey = "perfbench.layer"

  def engine(layer: String): Boolean = layer != "bench" && layer != "spark.internal"

  def of(longCallSite: String): String =
    ofFrames(frame.findAllMatchIn(Option(longCallSite).getOrElse(""))
      .map(m => (m.group(1), m.group(2))).toSeq)

  /** Layer of a stack given as (class, method) frames. */
  def ofFrames(raw: Seq[(String, String)]): String = {
    val frames = raw.map { case (c, m) => (c.stripSuffix("$"), m) }
    def has(p: ((String, String)) => Boolean) = frames.exists(p)
    def cls(prefix: String) = has(_._1.startsWith(prefix))
    if (cls("graft.stream.Mv") || cls("graft.stream.Cdf") ||
        has(f => f._1 == "graft.stream.Tailer" &&
          Set("applyChanges", "followInto", "resyncInto").exists(f._2.startsWith))) "cdf_mv"
    else if (cls("graft.Queries") || cls("graft.ops.")) "ops"
    else if (cls("graft.gen.")) "gen"
    else if (cls("graft.cdc.")) "cdc"
    else if (has(f => f._1 == "graft.lake.LakeTable" && f._2.startsWith("compact"))) "lake.compact"
    else if (has(f => f._1 == "graft.lake.LakeTable" &&
        writeMethods.exists(m => f._2 == m || f._2.startsWith(m + "$")))) "lake.write"
    else if (cls("graft.lake.")) "lake.read"
    else if (cls("graft.")) "tailer"
    else if (cls("perfbench.")) "bench"
    else "spark.internal"
  }
}

/** Unpins the call site of every streaming query's thread. A query thread
  * pins its jobs' call site to the query's `start()`; without the pin each
  * job carries the stack that submitted it. The started event is delivered
  * on the query's own thread, before its first batch, so the pin is gone
  * before any batch job is submitted, and threads the batch code starts
  * inherit no pin.
  */
final class CallSiteUnpin(sc: org.apache.spark.SparkContext) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = sc.clearCallSite()
  override def onQueryProgress(e: QueryProgressEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** One Spark job with the task metrics of the stages it ran. `layer` and
  * `site` come from the stack that submitted it; when that stack holds no
  * engine frame, from the stack that started its SQL execution (Spark
  * submits some of a query's jobs from its own threads); failing that,
  * from the benchmark operation that forced it (`hint`).
  */
final class JobSpan(val id: Int, val ownLayer: String, val ownSite: String,
                    val execId: Option[Long], val hint: Option[String],
                    val pinned: Boolean, val start: Long) {
  @volatile var end: Long = -1L
  @volatile var layer: String = ownLayer
  @volatile var site: String = ownSite
  var taskMs, inputBytes, shuffleRead, shuffleWrite, spill, gcMs, outputBytes = 0L
  // stages of this job that scanned a streaming micro-batch's input files
  var inputScans = 0
  def interval: (Long, Long) = (start, if (end < 0) start else end)
}

/** One benchmark-side span around a call into a layer. */
final case class Span(name: String, layer: String, start: Long, end: Long,
                      traced: Boolean)

/** One streaming micro-batch, from trigger start to commit. */
final case class Batch(query: String, batchId: Long, start: Long, durMs: Long,
                       rows: Long) {
  def end: Long = start + durMs
}

/** Per-micro-batch clock from a benchmark-registered
  * StreamingQueryListener. Always on: it is the source of the batch
  * latencies of the timed runs.
  */
final class BatchClock extends StreamingQueryListener {
  import StreamingQueryListener._
  private val done = ArrayBuffer.empty[Batch]
  private val running = ConcurrentHashMap.newKeySet[java.util.UUID]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = running.add(e.id)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = running.remove(e.id)
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L)
      done.synchronized { done += Batch(p.name, p.batchId, start, dur, p.numInputRows) }
    }
  }

  def batches: Seq[Batch] = done.synchronized(done.toList)
  def idle: Boolean = running.isEmpty
}

/** Job spans from a SparkListener: layer by call site, task metrics summed
  * per job over the stages it completed.
  *
  * Spark computes a job's call site on the submitting thread, when the job
  * is submitted, and keeps it as its stages' details. The layer is read
  * from there, so it does not depend on when the listener bus delivers the
  * event or on what other threads do meanwhile. The details hold the whole
  * stack while `spark.callstack.depth` is raised (see [[Trace.traced]]).
  */
final class JobTracer extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobSpan]()
  private val stageJob = new ConcurrentHashMap[Int, JobSpan]()
  private val execSite = new ConcurrentHashMap[Long, (String, String)]()
  // DataSourceRDD (a DSv2 scan, such as the change feed) -> its partitions
  private val sourceParts = new ConcurrentHashMap[Int, Int]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId, (Layers.of(s.details), Layers.site(s.details)))
    case _ =>
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val rdds = e.stageInfo.rddInfos
    rdds.filter(_.name == "DataSourceRDD").foreach(r => sourceParts.put(r.id, r.numPartitions))
    // a micro-batch reaches foreachBatch code as an RDD of the batch's own
    // plan (an SQLExecutionRDD); a file scan below it reads the batch input
    val byId = rdds.map(r => r.id -> r).toMap
    val below = scala.collection.mutable.Set.empty[Int]
    var todo = rdds.filter(_.name == "SQLExecutionRDD").flatMap(_.parentIds).toList
    while (todo.nonEmpty) {
      val id = todo.head
      todo = todo.tail
      if (below.add(id)) byId.get(id).foreach(r => todo = r.parentIds.toList ++ todo)
    }
    if (below.exists(id => byId.get(id).exists(_.name == "FileScanRDD")))
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.inputScans += 1))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // the stage this job created last is its result (or map) stage;
    // reused parent stages keep the call site of the job that made them
    val st = e.stageInfos.maxByOption(_.stageId)
    val j = new JobSpan(e.jobId, Layers.of(st.map(_.details).orNull), st.map(_.name).getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong), prop(Layers.hintKey),
      prop("callSite.long").isDefined, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
      val m = e.stageInfo.taskMetrics
      if (m != null) j.synchronized {
        j.taskMs += m.executorRunTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.gcMs += m.jvmGCTime
      }
    }

  /** Partitions of the DSv2 scans run since the last call: a change-feed
    * batch plans one per bucket it diffs.
    */
  def takeSourcePartitions(): Int = sourceParts.synchronized {
    val n = sourceParts.values.asScala.sum
    sourceParts.clear()
    n
  }

  /** Every traced job, its layer resolved. Read after the bus is drained. */
  def spans: Seq[JobSpan] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    if (!Layers.engine(j.ownLayer)) {
      val exec = j.execId.flatMap(x => Option(execSite.get(x)))
      exec.filter(x => Layers.engine(x._1)).orElse(j.hint.map(h => (h, j.ownSite))).orElse(exec)
        .foreach { case (l, st) => j.layer = l; if (j.ownLayer == "spark.internal") j.site = st }
    }
    j
  }

  /** Jobs submitted under a pinned call site: their layer is not known. */
  def unattributed: Int = jobs.values.asScala.count(_.pinned)
}

/** What the scans of an executed query read, from its plan: through
  * adaptive query stages and into cached relations.
  */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  /** Parquet files the execution's file scans read ("number of files read"). */
  def filesRead(qe: QueryExecution): Long =
    nodes(qe.executedPlan).distinct.collect { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

}

/** All instrumentation of one benchmark process. The batch clock, the
  * call-site unpinning and the benchmark-side spans are always on; the job
  * tracer is attached only inside
  * `traced` sections, so the timed runs do not pay for them.
  */
final class Trace(spark: SparkSession) {
  val clock = new BatchClock
  val jobs = new JobTracer
  private val spansBuf = ArrayBuffer.empty[Span]
  @volatile private var tracing = false
  private val unpin = new CallSiteUnpin(spark.sparkContext)
  spark.streams.addListener(clock)
  spark.streams.addListener(unpin)

  def drain(): Unit = {
    // a query's progress events are posted before its terminated event
    val deadline = System.currentTimeMillis + 30000L
    while (!clock.idle && System.currentTimeMillis < deadline) Thread.sleep(5)
    org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)
  }

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = System.currentTimeMillis
    try body
    finally {
      val e = System.currentTimeMillis
      spansBuf.synchronized { spansBuf += Span(name, layer, s, e, tracing) }
    }
  }

  def spans: Seq[Span] = spansBuf.synchronized(spansBuf.toList)

  /** Runs `body` with the job tracer attached when `on`. Call sites then
    * keep the whole submitting stack instead of its first 20 frames.
    */
  def traced[T](on: Boolean)(body: => T): T =
    if (!on) body
    else {
      spark.sparkContext.addSparkListener(jobs)
      System.setProperty("spark.callstack.depth", "1000")
      tracing = true
      try body
      finally {
        drain()
        tracing = false
        System.clearProperty("spark.callstack.depth")
        spark.sparkContext.removeSparkListener(jobs)
      }
    }

  def stop(): Unit = {
    spark.streams.removeListener(clock)
    spark.streams.removeListener(unpin)
  }

  /** Writes every job span and benchmark span as JSON lines. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = jobs.spans.map { j =>
      Json.write(Map("kind" -> "job", "id" -> j.id, "layer" -> j.layer, "site" -> j.site,
        "execId" -> j.execId.getOrElse(-1L), "pinned" -> j.pinned, "inputScans" -> j.inputScans,
        "start" -> j.start, "end" -> j.end, "taskMs" -> j.taskMs,
        "inputBytes" -> j.inputBytes, "outputBytes" -> j.outputBytes,
        "shuffleRead" -> j.shuffleRead, "shuffleWrite" -> j.shuffleWrite,
        "spill" -> j.spill, "gcMs" -> j.gcMs))
    } ++ spans.map { s =>
      Json.write(Map("kind" -> "span", "name" -> s.name, "layer" -> s.layer,
        "start" -> s.start, "end" -> s.end, "traced" -> s.traced))
    } ++ clock.batches.map { b =>
      Json.write(Map("kind" -> "batch", "query" -> b.query, "batchId" -> b.batchId,
        "start" -> b.start, "end" -> b.end, "rows" -> b.rows))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

package geobench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.HashJoin
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** The engine modules the benchmark reports on, and the per-layer metric
  * names. A module is a package under `graft.`; `index`, `text` and
  * `core` expressions are fused into the stages of the module that calls
  * them and are charged to that module. */
object Layers {
  val Modules: Seq[String] = Seq("meta", "dedup", "graph", "join", "grid",
    "stencil", "pyramid", "cc", "vector", "align", "api", "streaming")
  val PerModule: Seq[(String, String)] = Seq("wall_s" -> "s", "self_s" -> "s",
    "driver_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "pinned_mb" -> "MB",
    "rows_out" -> "rows")
  val Extras: Seq[(String, String)] = Seq("streaming.floor_ms" -> "ms",
    "meta.write_amp" -> "ratio", "meta.files_live" -> "count",
    "meta.prune_ratio" -> "ratio", "join.pip_hit_ratio" -> "ratio")
  val Names: Seq[(String, String)] =
    Modules.flatMap(m => PerModule.map { case (k, u) => s"$m.$k" -> u }) ++ Extras

  private val Frame = """(?:^|[\s/])graft\.([a-z]+)\.""".r

  /** The deepest engine-module frame of a Spark call site (long form,
    * innermost frame first), skipping packages that are not layers. */
  def moduleOfCallSite(details: String): Option[String] =
    if (details == null) None
    else details.split('\n').iterator
      .flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1)))
      .find(Modules.contains)
}

/** A harness-side span around one call into an engine module. */
final case class Span(id: Long, module: String, pass: Int, parent: Long,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long,
                      rows: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Byte accounting of RDD blocks (cached or checkpointed) from
  * block-update events. Always registered: it feeds `pinned_peak_mb`.
  * Unpersisting an RDD removes its blocks without block-update events,
  * so the unpersist event releases them here. */
class BlockTracker extends SparkListener {
  private val held = mutable.HashMap[String, (Int, Long)]() // block -> (rdd, bytes)
  private var total = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { rid =>
      val key = info.blockId.name
      held.remove(key).foreach { case (_, b) => total -= b }
      if (info.storageLevel.isValid) {
        val bytes = info.memSize + info.diskSize
        held(key) = (rid.rddId, bytes)
        total += bytes
        peak = math.max(peak, total)
      }
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    held.filterInPlace { case (_, (rdd, bytes)) =>
      if (rdd == e.rddId) total -= bytes
      rdd != e.rddId
    }
  }

  def resetPeak(): Unit = synchronized { peak = total }
  def peakBytes: Long = synchronized(peak)
  def heldByRdd: Map[Int, Long] = synchronized {
    held.values.groupBy(_._1).map { case (r, v) => r -> v.map(_._2).sum }
  }
}

/** Job, task, SQL and streaming records collected from outside the
  * engine. Jobs are attributed to the span whose id the harness put in
  * the `geobench.span` local property, and to the deepest `graft.<module>`
  * frame of Spark's recorded call site; the call site wins, so jobs that
  * an engine call submits itself inside a span (a facade such as
  * `upsertSink`, or a module pinning its own intermediate results) are
  * charged to the module that submitted them. */
class Collector extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val span: Long,
                  val module: String) {
    var endMs: Long = startMs
    var tasks = 0
    var shuffleBytes = 0L
    var spillBytes = 0L
    var bytesWritten = 0L
  }

  val jobs = mutable.ArrayBuffer[Job]()
  private val stageJob = mutable.HashMap[Int, Job]()
  private val rddJob = mutable.HashMap[Int, Job]()
  /** Run intervals of every task, for the time no task was running. */
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
  /** (triggerExecution - addBatch) ms of each micro-batch with input. */
  val floorMs = mutable.ArrayBuffer[Double]()
  /** (span, rows into the exact PIP test, rows out of it). */
  val pipFilter = mutable.ArrayBuffer[(Long, Long, Long)]()
  @volatile var currentSpan: Long = -1L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Collector.SpanKey))).map(_.toLong).getOrElse(-1L)
    val site = e.stageInfos.iterator.map(_.details).map(Layers.moduleOfCallSite)
      .collectFirst { case Some(m) => m }
    val j = new Job(e.jobId, e.time, span, site.getOrElse(""))
    jobs += j
    e.stageInfos.foreach { s =>
      stageJob(s.stageId) = j
      s.rddInfos.foreach(r => rddJob.getOrElseUpdate(r.id, j))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(j =>
      e.stageInfo.rddInfos.foreach(r => rddJob.getOrElseUpdate(r.id, j)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    if (info != null) taskIntervals += ((info.launchTime, info.finishTime))
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  def jobOfRdd(rdd: Int): Option[Job] = synchronized(rddJob.get(rdd))

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      if (p.numInputRows > 0 && d.containsKey("triggerExecution") &&
        d.containsKey("addBatch"))
        Collector.this.synchronized(floorMs +=
          (d.get("triggerExecution").doubleValue - d.get("addBatch").doubleValue))
    }
  }

  /** SQL metrics of each successful action's final plan: the exact PIP
    * test (a Scala UDF, in a filter or fused into the join condition by
    * the optimizer) reports the rows probed and the rows it kept. */
  val sqlListener: QueryExecutionListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    private def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows") match {
      case Some(m) => m.value
      case None => p.children.headOption.map(rows).getOrElse(0L)
    }
    private def udf(e: Option[Expression]) = e.exists(_.exists(_.isInstanceOf[ScalaUDF]))
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val span = currentSpan
      collect(qe.executedPlan) {
        case f: FilterExec if udf(Some(f.condition)) => (rows(f.child), rows(f))
        case j: HashJoin if udf(j.condition) =>
          (rows(if (j.buildSide == BuildLeft) j.right else j.left), rows(j))
      }.foreach { case (in: Long, out: Long) =>
        Collector.this.synchronized(pipFilter += ((span, in, out)))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}

object Collector {
  val SpanKey = "geobench.span"
}

/** Spans of one run. With tracing off every call is a plain call; with
  * tracing on each module call runs inside a span that carries its pass
  * id and parent, and the listener bus is drained at each span end so
  * counters are complete before they are read. Spans stay in memory and
  * are written as JSON lines when the run ends. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val collector: Collector = new Collector
  val spans = mutable.ArrayBuffer[Span]()
  /** (span, module, bytes) of blocks a span created and still held at
    * its end. */
  val pinnedAtEnd = mutable.ArrayBuffer[(Long, String, Long)]()
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var pass = 0
  private var blocks: Option[BlockTracker] = None
  private val sc: SparkContext = spark.sparkContext

  if (enabled) {
    sc.addSparkListener(collector)
    spark.streams.addListener(collector.streamListener)
    spark.listenerManager.register(collector.sqlListener)
  }

  def attachBlocks(b: BlockTracker): Unit = blocks = Some(b)
  def drain(): Unit = org.apache.spark.sql.graftx.Bridge.drainListenerBus(sc)
  def setPass(p: Int): Unit = pass = p

  /** Run `body` as a call into `module`; `rows` extracts the number of
    * rows the call produced from its materialized result. */
  def apply[A](module: String, rows: A => Long = (_: A) => -1L)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val prevProp = sc.getLocalProperty(Collector.SpanKey)
      sc.setLocalProperty(Collector.SpanKey, id.toString)
      collector.currentSpan = id
      stack = id :: stack
      val (s0, n0) = (System.currentTimeMillis(), System.nanoTime())
      try {
        val out = body
        val n1 = System.nanoTime()
        drain()
        val s1 = s0 + (n1 - n0) / 1000000L
        spans += Span(id, module, pass, parent, s0, s1, n0, n1, rows(out))
        recordPinned(id)
        out
      } finally {
        stack = stack.tail
        sc.setLocalProperty(Collector.SpanKey, prevProp)
        collector.currentSpan = stack.headOption.getOrElse(-1L)
      }
    }

  private def recordPinned(span: Long): Unit = blocks.foreach { b =>
    b.heldByRdd.foreach { case (rdd, bytes) =>
      collector.jobOfRdd(rdd).filter(_.span == span).foreach { j =>
        val m = if (j.module.nonEmpty) j.module else spans.last.module
        pinnedAtEnd += ((span, m, bytes))
      }
    }
  }
}

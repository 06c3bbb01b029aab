package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler, task and I/O counts for one job group (= one layer). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var writeBytes = 0L
  var writeRecords = 0L

  def +=(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    writeBytes += o.writeBytes; writeRecords += o.writeRecords
  }
}

/** SparkListener that books every task to the job group its job was
  * submitted under; the traced run sets the group to the layer name
  * around each public call.
  */
final class LayerListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  val groups = mutable.LinkedHashMap.empty[String, GroupStats]
  val jobMs = mutable.ArrayBuffer.empty[Long]
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def group(name: String) = groups.getOrElseUpdate(name, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    val stats = group(g)
    stats.jobs += 1
    jobStart(e.jobId) = e.time
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobMs += e.time - t0)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val stats = group(stageGroup.getOrElse(e.stageInfo.stageId, "none"))
    stats.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = group(stageGroup.getOrElse(e.stageId, "none"))
    g.tasks += 1
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      g.taskMs += m.executorRunTime
      g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      g.spillBytes += m.diskBytesSpilled
      g.writeBytes += m.outputMetrics.bytesWritten
      g.writeRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Slowest ÷ median task duration of the worst stage with at least
    * `minTasks` tasks (1.0 when no stage qualifies).
    */
  def worstSkew(minTasks: Int): Double = synchronized {
    val ratios = stageTaskMs.values.filter(_.size >= minTasks).map { ds =>
      val s = ds.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Sums the analysis, optimization and planning phases of every query,
  * and collects every file scan node the queries executed, the ones inside
  * cached plans and adaptive query stages too. A scan node's SQL metrics
  * add up over all its executions, so summing them over the distinct
  * nodes counts every table read once per time it ran, wherever it ran,
  * and never counts a read from the cache.
  */
final class QueryListener extends QueryExecutionListener {
  private var planningMs = 0L
  private val scans = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean])

  private def visit(p: SparkPlan): Unit = p match {
    case s: FileSourceScanExec => scans.add(s)
    case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
    case q: QueryStageExec => visit(q.plan)
    case m: InMemoryTableScanExec => visit(m.relation.cachedPlan)
    case other => (other.children ++ other.subqueries).foreach(visit)
  }

  private def add(qe: QueryExecution): Unit = synchronized {
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    visit(qe.executedPlan)
  }

  def planningS: Double = synchronized(planningMs / 1000.0)

  /** Sum of one SQL metric (`filesSize`, `numOutputRows`) over the scans. */
  def scanned(metric: String): Long = synchronized {
    scans.asScala.toSeq.flatMap(_.metrics.get(metric)).map(_.value).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Highest heap occupancy seen right after any garbage collection since
  * the last [[reset]], read from the JVM's GC notifications (so it costs
  * nothing on the timed path). [[sample]] adds one forced collection, so
  * a call during which no collection ran still has a sample.
  */
final class HeapWatch {
  @volatile private var peakBytes = 0L
  def reset(): Unit = peakBytes = 0L
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private val heapPools = pools.map(_.getName).toSet

  /** Forces a collection, then returns the peak since [[reset]] in MB. */
  def sample(): Double = {
    System.gc()
    val afterForced = pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    math.max(peakBytes, afterForced) / (1024.0 * 1024.0)
  }

  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (after > peakBytes) peakBytes = after
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
}

/** JVM-wide counters whose deltas make the `jvm` layer. */
final case class JvmCounters(codegenNs: Long, codegenClasses: Long, jitMs: Long,
                             gcMs: Long, classesLoaded: Long) {
  def -(o: JvmCounters): JvmCounters = JvmCounters(codegenNs - o.codegenNs,
    codegenClasses - o.codegenClasses, jitMs - o.jitMs, gcMs - o.gcMs,
    classesLoaded - o.classesLoaded)
}

object JvmCounters {
  def now(): JvmCounters = JvmCounters(
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L),
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)
}

final case class Span(layer: String, part: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the public calls of one traced job run.
  *
  * A span sets the Spark job group to `layer` or `layer.part`, so the
  * [[LayerListener]] books the span's jobs and tasks to it. Spans never nest: a
  * layer's self time is the sum of its spans' durations, and whatever the
  * run spends outside every span is `unattributed_s`.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  var peakCachedBytes = 0L

  def count(name: String, v: Double): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v

  def span[T](layer: String, part: String = "")(body: => T): T = {
    val id = if (part.isEmpty) layer else s"$layer.$part"
    sc.setJobGroup(id, id, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(layer, part, t0, System.nanoTime())
      sc.clearJobGroup()
      val cached = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      peakCachedBytes = math.max(peakCachedBytes, cached)
    }
  }

  def seconds(layer: String, part: String = ""): Double =
    spans.filter(s => s.layer == layer && (part.isEmpty || s.part == part)).map(_.seconds).sum
}

package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Spark-engine counters for one job group. */
final class EngineCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var recordsRead = 0L
  /** max/median task duration of every completed stage with 2+ tasks. */
  val stageSkew = mutable.ArrayBuffer.empty[Double]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes, "gc_ms" -> gcMs,
    "records_read" -> recordsRead, "stage_skew" -> stageSkew.toSeq)
}

/** Benchmark-owned listener: attributes job, stage and task metrics to the
  * job group that was active when the job started. The tracer sets one job
  * group per span, so these counts belong to the span that caused them;
  * streaming micro-batches run under their query's own group, and jobs
  * outside any group land in "". */
final class EngineListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, EngineCounts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  private def counts(group: String): EngineCounts =
    groups.computeIfAbsent(group, _ => new EngineCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    val c = counts(g)
    c.synchronized(c.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val c = counts(stageGroup.getOrDefault(id, ""))
    val durations = Option(stageTasks.remove(id)).map(_.sorted).getOrElse(Nil)
    c.synchronized {
      c.stages += 1
      if (durations.size >= 2) {
        val median = durations(durations.size / 2).toDouble
        c.stageSkew += durations.last / math.max(median, 1.0)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      .synchronized(stageTasks.get(e.stageId) += e.taskInfo.duration)
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Counts per job group, removing them from the listener. */
  def drain(): Map[String, EngineCounts] = {
    val out = groups.asScala.toMap
    groups.clear()
    out
  }
}

/** Peak heap, read from the JVM's own GC notifications: after every
  * collection the heap in use is summed over all heap pools, and the
  * largest such figure is kept, so garbage awaiting collection does not
  * count. */
final class HeapMonitor {
  private val peak = new java.util.concurrent.atomic.AtomicLong()
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, h: Any): Unit = {
      val info = com.sun.management.GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, usage) if heapPools(pool) => usage.getUsed
      }.sum
      peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
    }
  }
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case b: javax.management.NotificationEmitter => b }
  beans.foreach(_.addNotificationListener(listener, null, null))

  def peakMb: Double = peak.get / (1024.0 * 1024.0)

  def close(): Unit = beans.foreach(b =>
    scala.util.Try(b.removeNotificationListener(listener)))
}

object Plans {
  // An adaptive plan's current plan: before execution, the initial plan
  // with every exchange in place; its inputPlan has none yet.
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    unwrap(p).collectWithSubqueries { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => nodes(a)
      case n => Seq(n)
    }

  /** (shuffle exchanges, broadcast exchanges) in the physical plan of `df`,
    * subqueries included. Forces planning if it has not happened yet. */
  def exchanges(df: DataFrame): (Int, Int) = {
    val all = nodes(df.queryExecution.executedPlan)
    (all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.count(_.isInstanceOf[BroadcastExchangeLike]))
  }
}

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(path: String, value: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), value)
}

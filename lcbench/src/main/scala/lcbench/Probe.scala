package lcbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work of one job group, summed over its jobs and tasks. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var runS = 0.0
  var cpuS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var schedDelayS = 0.0
  var planningS = 0.0
  /** Partition indexes of the tasks that ran a `.dat` scan. */
  val scanTasks = mutable.ArrayBuffer.empty[Int]
}

/** The benchmark's own listener. The traced run sets a Spark job group
  * around every call it times; jobs, tasks and query planning are
  * attributed to the group their job carried. Installed only in the traced
  * run.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val stats = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val datStages = ConcurrentHashMap.newKeySet[Int]()
  private val execGroup = new ConcurrentHashMap[Long, String]()

  private def of(g: String): GroupStats = stats.computeIfAbsent(g, _ => new GroupStats)

  def get(g: String): GroupStats = synchronized(of(g))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      of(g).jobs += 1
      e.stageInfos.foreach { s =>
        stageGroup.put(s.stageId, g)
        if (s.rddInfos.exists(_.scope.exists(_.name.startsWith("BatchScan dat("))))
          datStages.add(s.stageId)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val s = of(g)
      s.tasks += 1
      s.runS += m.executorRunTime / 1e3
      s.cpuS += m.executorCpuTime / 1e9
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
      s.schedDelayS += math.max(0L, e.taskInfo.duration - busy - e.taskInfo.gettingResultTime) / 1e3
      if (datStages.contains(e.stageId)) s.scanTasks += e.taskInfo.index
    }
  }

  // Planning time comes from the QueryExecutionListener, the job group from
  // the SQL execution events; the QueryExecution object pairs them, in
  // whichever order the two listener queues deliver.
  private val qeGroup = new java.util.IdentityHashMap[QueryExecution, String]()
  private val qePlanning = new java.util.IdentityHashMap[QueryExecution, Double]()

  private def pair(qe: QueryExecution): Unit =
    if (qeGroup.containsKey(qe) && qePlanning.containsKey(qe)) {
      of(qeGroup.remove(qe)).planningS += qePlanning.remove(qe)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      val qe = org.apache.spark.sql.LcbenchSql.queryExecution(s)
      Option(execGroup.remove(s.executionId)).filter(_ => qe != null).foreach { g =>
        qeGroup.put(qe, g)
        pair(qe)
      }
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qePlanning.put(qe, qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
      pair(qe)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def remove(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Probe {
  /** Wait for the listener bus to go idle: its events are asynchronous. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.LcbenchBus.waitUntilEmpty(spark.sparkContext)
}

/** One traced interval: a name, its layer, start and end on the monotonic
  * clock, the enclosing span and the run it belongs to.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      startNs: Long, endNs: Long, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run; [[write]] dumps it at exit. */
final class Tracer(val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[A](name: String, layer: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, layer, parent, t0, System.nanoTime(), runId)
      stack = stack.tail
    }
  }

  /** Seconds per layer spent in spans of that layer, minus their children. */
  def selfSeconds: Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def write(path: String): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.write(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run_id" -> s.runId))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

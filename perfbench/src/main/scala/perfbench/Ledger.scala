package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution ledger collected from outside the program: a
  * [[SparkListener]] for jobs, stages and task metrics and a
  * [[QueryExecutionListener]] for planning phases and execution time.
  *
  * Work is attributed to the phase the harness names with
  * [[Ledger.phase]] (a local property, so jobs carry it). Listener events
  * arrive asynchronously; [[drain]] waits for the bus, and the harness
  * calls it between phases, outside any timed region. Only traced runs
  * register a ledger.
  */
final class Ledger(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Ledger._

  private val stagePhase = mutable.Map.empty[Int, String]
  private val stageTasks = mutable.Map.empty[Int, Int]
  /** (stage, launch ms, finish ms) of every task */
  private val taskWindows = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val byPhase = mutable.Map.empty[String, Counters]
  /** phase that QueryExecutionListener events belong to (set between drains) */
  @volatile private var current = ""

  private def counters(p: String): Counters = byPhase.getOrElseUpdate(p, new Counters)

  def start(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** name the phase of all work submitted from this thread until the next call */
  def phase(p: String): Unit = {
    drain()
    current = p
    spark.sparkContext.setLocalProperty(PhaseKey, p)
  }

  /** wait until every event posted so far has reached the listeners */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def get(p: String): Counters = synchronized(byPhase.getOrElse(p, new Counters))

  def tasksOfStage(stageId: Int): Option[Int] = synchronized(stageTasks.get(stageId))

  /** the stage of a task that was running at wall-clock time `ms` */
  def stageAt(ms: Long): Option[Int] = synchronized {
    taskWindows.find { case (_, a, b) => a <= ms && ms <= b }.map(_._1)
  }

  private def phaseOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = phaseOf(e.properties)
    counters(p).jobs += 1
    e.stageIds.foreach(s => stagePhase.getOrElseUpdate(s, p))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val c = counters(stagePhase.getOrElse(info.stageId, ""))
    c.stages += 1
    if (info.numTasks == 1) c.singleTaskStages += 1
    stageTasks(info.stageId) = info.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stagePhase.getOrElse(e.stageId, ""))
    c.tasks += 1
    taskWindows += ((e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime))
    c.taskSeconds += e.taskInfo.duration / 1e3
    Option(e.taskMetrics).foreach { m =>
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  /** The reported duration of a command includes planning its plan
    * (commands are planned when first executed), so execution is the
    * duration less the tracker's planning phases. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val c = counters(current)
    val plan = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
    c.planSeconds += plan
    c.execSeconds += math.max(0.0, durationNs / 1e9 - plan)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Ledger {
  val PhaseKey = "perfbench.phase"

  final class Counters {
    var jobs = 0L
    var stages = 0L
    var singleTaskStages = 0L
    var tasks = 0L
    var taskSeconds = 0.0
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var planSeconds = 0.0
    var execSeconds = 0.0
  }

  /** collector time of every garbage collector in this JVM, seconds */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** (RDDs with cached blocks, bytes they hold) right now */
  def cached(spark: SparkSession): (Int, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum)
  }
}

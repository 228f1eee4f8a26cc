package tsbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the enclosing span (-1 at
  * a root); every span of one op carries the op's id. */
final case class Span(id: Int, parent: Int, op: Long, name: String, start: Long, end: Long) {
  def ns: Long = end - start
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Tracer {
  private val ids = new AtomicInteger()
  private val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String, op: Long, parent: Int = -1)(f: Int => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try f(id) finally spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span id: its duration minus the union of the
    * intervals its children cover. */
  def selfNs: Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          (sum + math.max(0L, b - from), math.max(reach, b))
        }._1
      s.id -> (s.ns - covered)
    }.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfNs
    val lines = all.sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.start.toString, "end_ns" -> s.end.toString,
        "self_ns" -> self(s.id).toString))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark-side counters of one op (or of one phase of it). */
final class SparkCounts {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var schedDelayMs = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
}

/** Attributes Spark work to harness ops through Spark's listener APIs.
  * A harness thread tags each op phase with `setJobGroup("<op>/<phase>")`;
  * jobs, stages and tasks carry that group, and so does the SQL execution
  * start event. Catalyst phase times come from the QueryExecutionListener.
  * That listener is called by the session's listener bus on the shared
  * listener thread, for the same execution-end event this listener then
  * receives (listeners of one queue get each event in the order they were
  * added, and the session's bus is added first), so the end event pairs
  * the QueryExecution with its execution id. */
final class OpListener(spark: SparkSession) extends SparkListener {
  private val byPhase = mutable.Map[(Long, String), SparkCounts]()
  private val stageOwner = mutable.Map[Int, (Long, String)]()
  private val execOwner = mutable.Map[Long, (Long, String)]()
  private var lastQe: Option[QueryExecution] = None
  /** Task run time of every task, attributed or not (utilization). */
  @volatile var allTaskRunMs = 0L

  private val qel = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = lastQe = Some(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = lastQe = Some(qe)
  }

  def install(): OpListener = {
    spark.listenerManager.register(qel) // creates the session's bus first
    spark.sparkContext.addSparkListener(this)
    this
  }

  def remove(): Unit = {
    spark.listenerManager.unregister(qel)
    spark.sparkContext.removeSparkListener(this)
  }

  private def owner(group: String): Option[(Long, String)] =
    Option(group).flatMap { g =>
      g.split('/') match {
        case Array(op, phase) => op.toLongOption.map(_ -> phase)
        case _ => None
      }
    }

  private def counts(key: (Long, String)) = byPhase.getOrElseUpdate(key, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    owner(e.properties.getProperty("spark.jobGroup.id")).foreach { key =>
      val c = counts(key)
      c.jobs += 1
      e.stageIds.foreach(stageOwner(_) = key)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach { key => val c = counts(key); c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      allTaskRunMs += m.executorRunTime
      stageOwner.get(e.stageId).foreach { key =>
        val c = counts(key)
        val i = e.taskInfo
        c.tasks += 1
        c.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.flatMap(g => owner(g)).foreach(execOwner(s.executionId) = _)
      case end: SparkListenerSQLExecutionEnd =>
        for (qe <- lastQe; key <- execOwner.remove(end.executionId)) {
          val c = counts(key)
          val phases = qe.tracker.phases
          def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
          c.analysisMs += ms("analysis")
          c.optimizationMs += ms("optimization")
          c.planningMs += ms("planning")
        }
        lastQe = None
      case _ =>
    }
  }

  /** Counters per op, summed over the op's phases that match `phase`. */
  def perOp(phase: String => Boolean = _ => true): Map[Long, SparkCounts] = synchronized {
    byPhase.toSeq.filter { case ((_, p), _) => phase(p) }.groupBy(_._1._1).map { case (op, parts) =>
      val sum = new SparkCounts
      parts.map(_._2).foreach { c =>
        sum.jobs += c.jobs; sum.stages += c.stages; sum.tasks += c.tasks
        sum.schedDelayMs += c.schedDelayMs; sum.taskRunMs += c.taskRunMs
        sum.taskCpuNs += c.taskCpuNs; sum.gcMs += c.gcMs
        sum.shuffleReadBytes += c.shuffleReadBytes; sum.shuffleWriteBytes += c.shuffleWriteBytes
        sum.spillBytes += c.spillBytes; sum.analysisMs += c.analysisMs
        sum.optimizationMs += c.optimizationMs; sum.planningMs += c.planningMs
      }
      op -> sum
    }
  }

  /** Runs `f` with this thread's Spark jobs tagged as `op`'s `phase`. */
  def tagged[T](op: Long, phase: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"$op/$phase", s"tsbench op $op $phase")
    try f finally sc.clearJobGroup()
  }
}

/** Spark-wide and JVM-wide counters read as deltas over a region. */
object Counters {
  import org.apache.spark.metrics.source.CodegenMetrics
  import java.lang.management.ManagementFactory

  final case class Snap(codegenCount: Long, codegenMsSum: Double, gcMs: Long, classes: Long)

  def snap(): Snap = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Snap(h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)
  }

  /** Heap in use after full collections, in MB. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(150); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The machine's CPU time so far, from /proc/stat, in ticks summed over
  * its virtual CPUs: the time they ran (user, nice, system, irq, softirq)
  * and the time the hypervisor stole from them while they wanted to run.
  * On a shared host a busy neighbour can steal a third of it for minutes
  * at a time, which stretches every wall time measured meanwhile. */
final case class HostTicks(ran: Long, stolen: Long)

object HostTicks {
  /** None where there is no /proc/stat. */
  def now(): Option[HostTicks] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val t = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    HostTicks(t(0) + t(1) + t(2) + t(5) + t(6), t(7))
  }.toOption

  /** Share of the CPU time the machine wanted between two readings that
    * the hypervisor did not give it; 0 where a reading is missing. */
  def stolenShare(from: Option[HostTicks], to: Option[HostTicks]): Double =
    (for (a <- from; b <- to) yield {
      val (ran, stolen) = (b.ran - a.ran, b.stolen - a.stolen)
      if (ran + stolen > 0) stolen.toDouble / (ran + stolen) else 0.0
    }).getOrElse(0.0)
}

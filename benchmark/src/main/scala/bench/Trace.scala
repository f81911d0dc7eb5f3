package bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans and counters recorded around the benchmark's own calls
  * into the engine's layers. Off (the default) every `span` just runs its
  * body, so untraced runs pay one volatile read per call. Spans live in a
  * process-wide object, not in closures, so code running inside Spark
  * tasks (the fetch seam) records into the same store as the main thread. */
object Trace {
  @volatile var enabled: Boolean = false

  final case class Span(id: Long, parent: Long, name: String,
      startNs: Long, endNs: Long)

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val current = new ThreadLocal[Long] { override def initialValue = 0L }

  /** Time `body` as a span named `name`, a child of the calling thread's
    * open span (0 = none). */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  def add(name: String, delta: Long): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new LongAdder).add(delta)

  def spansNamed(name: String): Seq[Span] =
    spans.asScala.filter(_.name == name).toSeq

  def counter(name: String): Long =
    Option(counters.get(name)).map(_.sum).getOrElse(0L)

  def reset(): Unit = { spans.clear(); counters.clear() }
}

/** Engine counters read through Spark's listener bus: jobs, tasks, task
  * run/CPU time, shuffle and spill bytes, and records read per job group.
  * Registered only for a traced section. */
final class SparkCounters extends SparkListener {
  val jobs = new LongAdder
  val tasks = new LongAdder
  val runNs = new LongAdder
  val cpuNs = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val spillBytes = new LongAdder

  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  /** Records read per job group (`SparkContext.setJobGroup`), so a span's
    * reads can be told apart from concurrent jobs' reads. */
  val readByGroup = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(s => stageGroup.put(s, g)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runNs.add(m.executorRunTime * 1000000L)
      cpuNs.add(m.executorCpuTime)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.diskBytesSpilled)
      Option(stageGroup.get(e.stageId)).foreach { g =>
        readByGroup.computeIfAbsent(g, _ => new LongAdder)
          .add(m.inputMetrics.recordsRead)
      }
    }
  }

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.sum, "tasks" -> tasks.sum, "run_ns" -> runNs.sum,
    "cpu_ns" -> cpuNs.sum, "shuffle_write_bytes" -> shuffleWriteBytes.sum,
    "spill_bytes" -> spillBytes.sum)
}

/** File writes whose output path lies under `root`, with the write
  * command's own metrics (rows, dynamic partitions) and its
  * wall time. This is how the sink's merge-and-write shows in a trace
  * without instrumenting the sink: every upsert lands through one such
  * write into a temp directory beside the table. */
final class SinkWrites(root: String) extends QueryExecutionListener {
  import SinkWrites.Write
  val writes = new ConcurrentLinkedQueue[Write]()

  private def collect(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a +: collect(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: collect(q.plan)
    case other => other +: other.children.flatMap(collect)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    collect(qe.executedPlan).collectFirst {
      case w: org.apache.spark.sql.execution.command.DataWritingCommandExec => w
    }.foreach { w =>
      w.cmd match {
        case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
            if c.outputPath.toString.contains(root) =>
          def m(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
          writes.add(Write(durationNs / 1e9, m("numOutputRows"), m("numParts")))
        case _ => ()
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def drain(): Seq[Write] =
    Iterator.continually(writes.poll()).takeWhile(_ != null).toList
}

object SinkWrites {
  final case class Write(seconds: Double, rows: Long, parts: Long)
}

object SparkCounters {
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum / 1000.0
}

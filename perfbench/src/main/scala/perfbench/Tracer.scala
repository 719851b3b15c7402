package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced mode's Spark listener: one record per job, tagged with the op
  * that launched it (the `perfbench.op` local property), carrying its
  * interval and the summed metrics of its tasks. Listener events arrive
  * asynchronously; [[drain]] waits until every started job has ended. */
final class Tracer extends SparkListener {

  final class JobRec(val op: Int, val start: Long) {
    @volatile var end: Long = -1L
    var stages = 0
    var tasks = 0
    val metrics: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap(
      Seq("run_ms", "cpu_ns", "input_bytes", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes").map(_ -> 0L): _*)
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Harness.OpProp)))
      .map(_.toInt).getOrElse(0)
    val r = new JobRec(op, e.time)
    r.stages = e.stageIds.size
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for {
      j <- Option(stageToJob.get(e.stageId))
      r <- Option(jobs.get(j))
      m <- Option(e.taskMetrics)
    } r.synchronized {
      def add(k: String, v: Long): Unit = r.metrics(k) += v
      r.tasks += 1
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  /** Waits (bounded) until every started job has its end event. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    while (jobs.values.asScala.exists(_.end < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100) // trailing task-end events of the last job
  }

  def jobRecords: Seq[JobRec] =
    jobs.values.asScala.toSeq.sortBy(_.start).filter(_.op > 0)
}

/** Traced mode's plan-phase recorder, registered through
  * `spark.sql.queryExecutionListeners`: keeps the optimization and
  * planning phase intervals of every successful query execution. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      if (name != "analysis") PlanListener.phases.add((p.startTimeMs, p.endTimeMs, name))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanListener {
  val phases = new ConcurrentLinkedQueue[(Long, Long, String)]()
}

/** Minimal JSON writer for the raw record. */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb.append(','); first = false }
  private def str(s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
  private def nested(open: Char, close: Char)(body: => Unit): Unit = {
    sb.append(open); first = true; body; sb.append(close); first = false
  }
  def obj(body: => Unit): Unit = { sep(); nested('{', '}')(body) }
  def objField(k: String)(body: => Unit): Unit = { sep(); str(k); sb.append(':'); first = true; nested('{', '}')(body) }
  def arr(k: String)(body: => Unit): Unit = { sep(); str(k); sb.append(':'); first = true; nested('[', ']')(body) }
  def value(s: String): Unit = { sep(); str(s) }
  def field(k: String, v: String): Unit = { sep(); str(k); sb.append(':'); str(v) }
  def field(k: String, v: Double): Unit = {
    sep(); str(k); sb.append(':')
    sb.append(if (v.isNaN || v.isInfinite) "null" else v.toString)
  }
  def result: String = sb.toString
}

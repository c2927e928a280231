package perfbench

import java.io.{BufferedWriter, FileWriter}
import scala.collection.concurrent.TrieMap

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw trace of the layers below one op: jobs, stages (with their task
  * metrics summed) and query executions. Every record carries the span
  * of the op that caused it; aggregation happens in `metrics.py`.
  *
  * Jobs carry their span in the `perfbench.span` local property, set by
  * the benchmark's main thread before it calls into the program, so a
  * job's span is exact. Stages and tasks inherit it from their job.
  * Query executions arrive without properties, so they take the span
  * that is current when the listener bus delivers them; the main thread
  * drains the bus before it changes the span.
  */
final class Recorder(path: String) extends SparkListener with QueryExecutionListener {
  private val json = new ObjectMapper()
  private val out = new BufferedWriter(new FileWriter(path))
  @volatile var span: String = "setup"
  private val stageSpan = TrieMap.empty[Int, String]
  private val taskDur = TrieMap.empty[(Int, Int), Long]

  private def emit(fields: (String, Any)*): Unit = {
    val node = json.createObjectNode()
    fields.foreach {
      case (k, v: String) => node.put(k, v)
      case (k, v: Int) => node.put(k, v)
      case (k, v: Long) => node.put(k, v)
      case (k, v: Double) => node.put(k, v)
      case (k, v: Boolean) => node.put(k, v)
      case (k, v: Map[_, _]) =>
        val m = node.putObject(k)
        v.foreach { case (mk, mv: Double) => m.put(mk.toString, mv); case _ => () }
      case (k, v) => node.put(k, String.valueOf(v))
    }
    synchronized { out.write(json.writeValueAsString(node)); out.newLine() }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .getOrElse(span)
    e.stageIds.foreach(stageSpan.put(_, s))
    emit("k" -> "job", "span" -> s, "job" -> e.jobId, "stages" -> e.stageIds.size)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = (e.stageId, e.stageAttemptId)
    taskDur.put(key, taskDur.getOrElse(key, 0L) + e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val dur = taskDur.remove((i.stageId, i.attemptNumber())).getOrElse(0L)
    val base = Seq[(String, Any)](
      "k" -> "stage", "span" -> stageSpan.getOrElse(i.stageId, span),
      "stage" -> i.stageId, "tasks" -> i.numTasks, "task_dur_s" -> dur / 1e3)
    val metrics: Seq[(String, Any)] = if (m == null) Nil else Seq(
      "run_s" -> m.executorRunTime / 1e3,
      "cpu_s" -> m.executorCpuTime / 1e9,
      "gc_s" -> m.jvmGCTime / 1e3,
      "input_b" -> m.inputMetrics.bytesRead,
      "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_b" -> (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead),
      "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    emit(base ++ metrics: _*)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    emitQe(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    emitQe(funcName, qe, ok = false)

  private def emitQe(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (p, s) => p -> s.durationMs / 1e3 }
    emit("k" -> "qe", "span" -> span, "func" -> funcName, "ok" -> ok, "phases" -> phases)
  }

  def close(): Unit = synchronized { out.close() }
}

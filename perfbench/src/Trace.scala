package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** One span: a benchmark call into one layer of the program. */
final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
  // accumulated by the listener thread, read after the span ends
  var taskNs = 0L
  var tasks = 0L
  var stages = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val stageWall = ArrayBuffer[(String, Double, Int)]() // (name, wall s, tasks)
}

/** Spans around the benchmark's calls into the program, with the Spark work of each
  * span attributed by job group. Spans are kept in memory and written once, at exit.
  *
  * Every span sets the job group `pb:<id>`; a job started under that group, and every
  * stage and task of it, belongs to the span. Jobs without such a group (a streaming
  * query's jobs run under the query's own group) belong to the innermost open span.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  val spans = ArrayBuffer[Span]()
  @volatile private var open: List[Span] = Nil // innermost first
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, open.headOption.fold(-1)(_.id), name, System.nanoTime())
    spans.synchronized(spans += s)
    open = s :: open
    sc.setJobGroup(s"pb:${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      // the listener bus is asynchronous: let it deliver this span's task events
      // before the span is closed and read
      org.apache.spark.perfbench.Bus.drain(sc)
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"pb:${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def byId(group: String): Option[Span] =
    if (group != null && group.startsWith("pb:")) Some(spans.synchronized(spans(group.drop(3).toInt)))
    else open.headOption

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    byId(group).foreach(s => e.stageInfos.foreach(st => stageSpan.put(st.stageId, s)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      s.synchronized {
        s.tasks += 1
        s.taskNs += e.taskInfo.duration * 1000000L
        val m = e.taskMetrics
        if (m != null) {
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
        }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
      val info = e.stageInfo
      val wall = (for (a <- info.submissionTime; b <- info.completionTime) yield (b - a) / 1e3)
        .getOrElse(0.0)
      s.synchronized {
        s.stages += 1
        s.stageWall += ((info.name, wall, info.numTasks))
      }
    }

  /** A layer's self time: its duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** The spans as JSON: id, parent, name, start/end (s from the first span), self time,
    * Spark work and the `k` slowest stages.
    */
  def toJson(k: Int = 3): String = {
    val t0 = spans.headOption.fold(0L)(_.startNs)
    spans.map { s =>
      val top = s.stageWall.sortBy(-_._2).take(k).map { case (n, w, t) =>
        s"""{"stage":${Json.str(n)},"wall_s":${Json.num(w)},"tasks":$t}"""
      }.mkString("[", ",", "]")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_s":${Json.num((s.startNs - t0) / 1e9)},"end_s":${Json.num((s.endNs - t0) / 1e9)},""" +
        s""""self_s":${Json.num(selfSeconds(s))},"task_s":${Json.num(s.taskNs / 1e9)},""" +
        s""""stages":${s.stages},"tasks":${s.tasks},"shuffle_mb":${Json.num(s.shuffleBytes / 1e6)},""" +
        s""""spill_mb":${Json.num(s.spillBytes / 1e6)},"top_stages":$top}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Per-micro-batch progress of the streaming queries started while it is registered. */
final class BatchListener extends StreamingQueryListener {
  val batchSeconds = ArrayBuffer[Double]()
  @volatile var stateRows = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) batchSeconds.synchronized {
      batchSeconds += p.durationMs.get("triggerExecution").longValue / 1e3
      stateRows = p.stateOperators.map(_.numRowsTotal).sum
    }
  }
}

/** Just enough JSON writing for the benchmark's records. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

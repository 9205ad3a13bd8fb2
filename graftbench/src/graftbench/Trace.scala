package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed call into a graft layer, made from the benchmark's
  * side of the boundary. `req` ties every span of one operation together;
  * Spark jobs launched inside a span carry its id as their job group, so
  * the listener below can charge them to the innermost span. */
final case class Span(id: Int, parent: Int, req: Int, name: String,
    startNs: Long, var endNs: Long)

/** Spans kept in memory for the whole run and written once at its end.
  * With `enabled = false` every call is a plain pass-through, so an
  * untraced run pays nothing beyond one boolean test per layer call. */
final class Tracer(sc: => SparkContext) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var req = -1
  /** Job-group prefix: jobs of the timed loop are told apart from set-up
    * jobs by it, so the per-workload execution totals cover the loop. */
  var phase = "setup"

  def request[A](reqId: Int, name: String)(f: => A): A = {
    req = reqId
    try span(name)(f) finally req = -1
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), req, name,
        System.nanoTime(), 0L)
      spans += s
      stack.push(s)
      sc.setJobGroup(s"$phase/${s.id}", name, interruptOnCancel = false)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"$phase/${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Self time of each span: its duration minus the part its children cover
    * (children of one span never overlap: the client is single-threaded). */
  def selfNs: Map[Int, Long] = {
    val child = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs)
    spans.map(s => s.id -> (s.endNs - s.startNs - child(s.id))).toMap
  }

  def writeJson(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("[")
      spans.zipWithIndex.foreach { case (s, i) =>
        w.print(Json.obj("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
        w.println(if (i + 1 < spans.size) "," else "")
      }
      w.println("]")
    } finally w.close()
  }
}

/** Spark execution seen from a listener the benchmark registers itself:
  * per job its group (and so its span), per task the executor-side
  * counters. Events arrive on Spark's listener thread; [[drain]] waits
  * for the bus to go quiet before the totals are read. */
final class ExecListener extends SparkListener {
  /** Job id → job group. */
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  final class Totals {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var waitMs = 0L
    var gcMs = 0L; var shWrite = 0L; var shRead = 0L; var spill = 0L
    var stages = 0L
  }
  val byPhase = mutable.Map.empty[String, Totals]
  @volatile var events = 0L

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("none/-1")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobs.put(e.jobId, g)
    e.stageIds.foreach(stageGroup.put(_, g))
    events += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val g = Option(stageGroup.get(e.stageInfo.stageId)).getOrElse("none/-1")
    totals(g).stages += 1
    events += 1
  }

  private def totals(group: String): Totals =
    byPhase.getOrElseUpdate(group.takeWhile(_ != '/'), new Totals)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("none/-1")
    val t = totals(g)
    t.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shWrite += m.shuffleWriteMetrics.bytesWritten
      t.shRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      if (info != null)
        t.waitMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime)
    }
    events += 1
  }

  /** Jobs per span id, for the spans of one phase. */
  def jobsBySpan(phase: String): Map[Int, Int] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.filter(_.startsWith(phase + "/"))
      .groupBy(g => g.drop(phase.length + 1).toInt).map { case (k, v) => k -> v.size }
  }

  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(100)
      if (events == last) quiet += 1 else { quiet = 0; last = events }
    }
  }
}

/** Minimal JSON encoding for the run record (no library on the classpath
  * is shared by every Spark build). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = apply(scala.collection.immutable.ListMap(kv: _*))
}

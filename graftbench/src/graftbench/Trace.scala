package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced call into a layer: wall interval (epoch ms, sub-ms
  * precision), the span that caused it, and free-form counts recorded
  * at the same boundary. */
final class Span(val id: Int, val name: String, val parent: Int,
    val start: Double) {
  var end: Double = Double.NaN
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def wall: Double = (end - start) / 1e3
}

/** Spark work of the jobs that ran while one span was innermost. */
final class Work {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs, maxTaskMs, inputB, shuffleWriteB, outputB = 0L
  val stageIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; gcMs += o.gcMs
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    inputB += o.inputB; shuffleWriteB += o.shuffleWriteB
    outputB += o.outputB; stageIntervals ++= o.stageIntervals
  }
}

/** In-memory spans plus a listener that attributes every Spark job to
  * the span open on the submitting thread, through a per-span job group
  * (threads a span's body starts inherit it). Disabled, [[span]] only
  * runs its body: no listener, no job groups. */
final class Tracer(sc: SparkContext, val enabled: Boolean, val runId: String) {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def now(): Double = ms0 + (System.nanoTime() - ns0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val work = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val prefix = "graftbench-"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(prefix))
      group.foreach { g =>
        val id = g.stripPrefix(prefix).toInt
        work.getOrElseUpdate(id, new Work).jobs += 1
        e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = id)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        stageSpan.get(si.stageId).foreach { id =>
          val w = work.getOrElseUpdate(id, new Work)
          w.stages += 1
          for (s <- si.submissionTime; c <- si.completionTime)
            w.stageIntervals += ((s.toDouble, c.toDouble))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stageSpan.get(e.stageId).foreach { id =>
        val w = work.getOrElseUpdate(id, new Work)
        w.tasks += 1
        w.taskMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.maxTaskMs = math.max(w.maxTaskMs, m.executorRunTime)
        w.inputB += m.inputMetrics.bytesRead
        w.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        w.outputB += m.outputMetrics.bytesWritten
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` inside a span named `name`, child of the innermost open
    * span. The returned span's counts may be filled by the caller. */
  def span[T](name: String)(body: Span => T): T = {
    if (!enabled) return body(new Span(-1, name, -1, 0.0))
    val s = synchronized {
      val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id), now())
      spans += s
      open = s :: open
      s
    }
    sc.setJobGroup(prefix + s.id, name)
    try body(s)
    finally {
      s.end = now()
      synchronized { open = open.tail }
      open.headOption match {
        case Some(p) => sc.setJobGroup(prefix + p.id, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Block until the listener has seen every event posted so far. */
  def settle(): Unit =
    if (enabled) org.apache.spark.sql.graft.bridge.settleListenerBus(sc, 30000)

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span wall minus the part of it its children cover, in seconds. */
  def selfWall(s: Span): Double =
    s.wall - union(children(s.id).map(c => (c.start, c.end))) / 1e3

  /** The span's own Spark work, not its children's. */
  def selfWork(s: Span): Work = synchronized {
    work.getOrElse(s.id, new Work)
  }

  /** Spark work of the span and all its descendants. */
  def totalWork(s: Span): Work = {
    val w = new Work
    def go(x: Span): Unit = { w.add(selfWork(x)); children(x.id).foreach(go) }
    go(s)
    w
  }

  /** Span wall minus the union of its subtree's stage intervals, in
    * seconds: time the Spark driver spent with no stage running. */
  def driverGap(s: Span): Double = {
    val clipped = totalWork(s).stageIntervals.toSeq
      .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      .filter { case (a, b) => b > a }
    s.wall - union(clipped) / 1e3
  }

  /** Total length (ms) of the union of intervals. */
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total, curA, curB = 0.0
    var started = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!started || a > curB) {
        if (started) total += curB - curA
        curA = a; curB = b; started = true
      } else curB = math.max(curB, b)
    }
    if (started) total += curB - curA
    total
  }

  /** One JSON object per span, written at exit. */
  def write(path: String): Unit = if (enabled) {
    val lines = spans.map { s =>
      val w = selfWork(s)
      val counts = s.counts.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_ms":${s.start},""" +
        s""""end_ms":${s.end},"self_s":${selfWall(s)},"jobs":${w.jobs},""" +
        s""""stages":${w.stages},"tasks":${w.tasks},"task_ms":${w.taskMs},""" +
        s""""counts":$counts}"""
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, lines.mkString("", "\n", "\n"))
  }
}

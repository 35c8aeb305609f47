package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Command-line arguments (run.py passes all of them). */
final case class Args(workload: String, seed: Long,
    trace: Boolean, smoke: Boolean, root: Path, runDir: Path,
    stateDir: Path, traceOut: String, out: Path, record: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("seed").toLong,
      m("trace") == "1", m.getOrElse("size", "full") == "smoke",
      Paths.get(m("root")).toAbsolutePath, Paths.get(m("run-dir")).toAbsolutePath,
      Paths.get(m("state-dir")).toAbsolutePath, m("trace-out"),
      Paths.get(m("out")).toAbsolutePath, m.get("record").contains("1"))
  }
}

/** One timed operation: a provider commit, a provider upsert, a store
  * read-back or a query run. */
final case class Op(kind: String, name: String, wall: Double)

/** State shared by a workload run: session, tracer, the output checks
  * and the timed operations. */
final class Run(val args: Args, val spark: SparkSession, val tracer: Tracer) {
  val fixtures: Path = args.root.resolve("src/test/resources/fixtures")
  val benchDir: Path = args.root.resolve("graftbench")
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Sum of the timed operations' walls: the workload's one pass. */
  var wall = 0.0
  /** Operations (or whole-run checks) with at least one failure. */
  val failedKeys = mutable.LinkedHashSet.empty[String]
  var attempted = 0
  /** Wall of each repetition of each set-up step, by step name. */
  val setupSteps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def now(): Double = System.nanoTime() / 1e9

  /** Run a timed operation; a throw counts as a failed op. */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = now()
    try {
      val r = body
      ops += Op(kind, name, now() - t0)
      Some(r)
    } catch { case e: Exception =>
      ops += Op(kind, name, now() - t0)
      fail(name, s"$kind $name threw: $e")
      None
    }
  }

  /** Record a failed check against `key`: the provider, store or query
    * it concerns, or the whole run. */
  def fail(key: String, msg: String): Unit = {
    failedKeys += key
    System.err.println(s"[graftbench] CHECK FAILED: $msg")
  }

  def check(ok: Boolean, key: String, msg: => String): Unit =
    if (!ok) fail(key, msg)

  /** Run set-up step `name` `reps` times (each repetition rebuilds from
    * scratch); returns the last repetition's value. */
  def setup[T](name: String, reps: Int)(body: Int => T): T = {
    var last: Option[T] = None
    for (i <- 0 until reps) {
      val t0 = now()
      last = Some(tracer.span(name)(_ => body(i)))
      setupSteps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += now() - t0
    }
    last.get
  }

  /** Per-seed record of output digests: the first clean run with a seed
    * writes it, every later run with the same seed must reproduce it. */
  def sameAsLastRun(key: String, digests: Seq[(String, String)]): Unit = {
    val f = args.stateDir.resolve(s"$key-seed${args.seed}.tsv")
    val text = digests.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n")
    if (Files.exists(f)) {
      val before = Files.readString(f)
      check(before == text, "run", s"$key digests differ from the previous run " +
        s"with seed ${args.seed}: ${diff(before, text)}")
    } else if (failedKeys.isEmpty) {
      Files.createDirectories(f.getParent)
      Files.writeString(f, text)
    }
  }

  private def diff(a: String, b: String): String =
    (a.linesIterator.toSet -- b.linesIterator.toSet).take(3).mkString("; ")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally w.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

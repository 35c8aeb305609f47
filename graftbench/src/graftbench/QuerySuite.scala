package graftbench

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import graft.{QueriesPipeline, SparkEntry}

/** query_suite: every `SparkEntry.queries` entry over the committed
  * test tables, in a seed-permuted order. Each query runs once, cold (its
  * first run in the process), ending in the `toRdd.count()` terminal;
  * session caches are dropped after every run, outside the timed
  * window. */
object QuerySuite {

  /** The query families per-layer metrics are reported for. */
  val families: Seq[String] = Seq("dedup", "corpus", "sim", "embed",
    "multimodal", "text", "pipeline", "agg", "domain", "relational")

  private val familyOfPrefix: Map[String, String] = Map(
    "dedup" -> "dedup",
    "corpus" -> "corpus", "decontaminate" -> "corpus", "shards" -> "corpus",
    "pack" -> "corpus", "sample" -> "corpus",
    "sim" -> "sim", "embed" -> "embed", "multimodal" -> "multimodal",
    "text" -> "text", "quality" -> "text", "ngram" -> "text",
    "tokens" -> "text", "vocab" -> "text", "pii" -> "text", "url" -> "text",
    "profile" -> "text",
    "pipeline" -> "pipeline", "stream" -> "pipeline", "inc" -> "pipeline",
    "agg" -> "agg",
    "rpm" -> "domain", "cvss" -> "domain", "fn" -> "domain",
    "severity" -> "domain", "source" -> "domain")

  /** `q_<prefix>_…` → family; anything unlisted is relational. */
  def family(query: String): String =
    familyOfPrefix.getOrElse(query.split("_")(1), "relational")

  /** Row counts are checked on every run. A content hash costs a second
    * execution, so a full-size run hashes one in `hashEvery` queries (by
    * position in name order, rotated by the seed): any `hashEvery`
    * consecutive seeds cover the suite. The smoke size hashes all it
    * runs. */
  val hashEvery = 8

  /** The smoke size runs the first query of each family, in name order. */
  def smokeSet(names: Seq[String]): Seq[String] =
    names.groupBy(family).values.map(_.min).toSeq.sorted

  private def sfDir(run: Run): String =
    run.benchDir.resolve("data/sf0.001").toString

  private def expectedFile(run: Run) =
    run.benchDir.resolve("expected/queries-sf0.001.tsv")

  def run(run: Run): Unit = {
    val spark = run.spark
    val dir = sfDir(run)
    run.setup("setup.prestage", reps = 1) { _ =>
      QueriesPipeline.preStageAll(spark, dir)
    }
    val expected: Map[String, (Long, String)] =
      if (run.args.record) Map.empty
      else scala.io.Source.fromFile(expectedFile(run).toFile).getLines()
        .filterNot(_.startsWith("#")).map { l =>
          val Array(q, n, h) = l.split("\t")
          q -> (n.toLong, h)
        }.toMap
    val all = SparkEntry.queries.keys.toSeq.sorted
    val position = all.zipWithIndex.toMap
    val names = if (run.args.smoke) smokeSet(all) else all
    val order = new scala.util.Random(run.args.seed).shuffle(names)
    def hashed(q: String): Boolean = run.args.smoke || run.args.record ||
      (position(q) + run.args.seed) % hashEvery == 0
    val recorded = scala.collection.mutable.ArrayBuffer.empty[String]

    def release(): Unit = {
      graft.operators.GraftCaches.release(spark)
      spark.catalog.clearCache()
    }
    def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

    order.foreach { q =>
      val fn = SparkEntry.queries(q)
      val rows =
        try run.op("cold", q)(run.tracer.span(s"query.$q")(_ => force(fn(spark, dir))))
        finally release()
      // output checks, outside the timed window
      val hash = if (!hashed(q)) None else
        try Some(contentHash(fn(spark, dir))) catch { case e: Exception =>
          run.fail(q, s"$q content hash threw: $e"); None
        } finally release()
      rows.foreach { n =>
        expected.get(q) match {
          case Some((want, h)) =>
            run.check(n == want, q, s"$q returned $n rows, expected $want")
            hash.foreach(x => run.check(x == h, q, s"$q content hash $x, expected $h"))
          case None =>
            run.check(run.args.record, q, s"$q has no expected output")
        }
        hash.foreach(h => recorded += s"$q\t$n\t$h")
      }
    }
    run.wall = run.ops.map(_.wall).sum
    if (run.args.record) {
      require(!run.args.smoke, "expected outputs are recorded at full size")
      Files.writeString(expectedFile(run),
        "# query\trows\torder-insensitive content hash\n" +
          recorded.sorted.mkString("", "\n", "\n"))
    }
  }

  /** Order-insensitive hash of a result: each row rendered canonically
    * (floating point to 9 significant digits, map entries and array
    * elements sorted), hashed, and the row hashes summed. */
  def contentHash(df: DataFrame): String = {
    val (n, h) = df.rdd.map { r =>
      val s = canon(r)
      val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
      val b = scala.util.hashing.MurmurHash3.stringHash(s, 0xbeef)
      (1L, (a.toLong << 32) | (b & 0xffffffffL))
    }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    f"$n%d:$h%016x"
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString else "%.8e".formatLocal(java.util.Locale.ROOT, d + 0.0)
    case f: Float =>
      if (f.isNaN || f.isInfinite) f.toString else "%.6e".formatLocal(java.util.Locale.ROOT, f + 0.0f)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).sorted.mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }
}

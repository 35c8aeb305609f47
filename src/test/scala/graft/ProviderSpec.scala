package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.providers.SecdbProvider
import graft.sinks.ResultStore
import graft.sources.Sources

/** End-to-end provider slice (SURVEY §7.2) + source adapters + result
  * store semantics. */
class ProviderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  test("secdb scan explodes packages/secfixes/multi-CVE strings") {
    val rows = Sources.secdb(spark, fixture("secdb.json")).collect()
    // busybox: 1+2; openssl: 2+1 (NAK "0" row kept); zlib: 2 (GHSA kept at
    // scan level — provider filters)
    assert(rows.length == 8)
    val naks = rows.filter(_.getAs[String]("fix_version") == "0")
    assert(naks.map(_.getAs[String]("vuln_id")).toSeq == Seq("CVE-2021-9999"))
  }

  test("secdb provider: envelopes with merged FixedIn, sentinel preserved") {
    val env = SecdbProvider.envelopes(spark, fixture("secdb.json"), "wolfi:rolling")
    val rows = env.collect()
    // CVE-2022-30065 appears in busybox AND openssl → one envelope, 2 fixes
    val merged = rows.find(_.getAs[String]("identifier") ==
      "wolfi:rolling/cve-2022-30065").get
    val item = merged.getAs[String]("item")
    assert(item.contains("\"busybox\"") && item.contains("\"openssl\""))
    // GHSA id filtered (P2), NAK "0" version survives as a value
    assert(!rows.exists(_.getAs[String]("identifier").contains("ghsa")))
    assert(rows.find(_.getAs[String]("identifier") ==
      "wolfi:rolling/cve-2021-9999").get.getAs[String]("item")
      .contains("\"Version\":\"0\""))
  }

  test("secdb provider envelopes are canonically stable across runs") {
    val a = SecdbProvider.envelopes(spark, fixture("secdb.json"), "ns")
      .orderBy("identifier").collect().map(_.getAs[String]("item")).toSeq
    val b = SecdbProvider.envelopes(spark, fixture("secdb.json"), "ns")
      .orderBy("identifier").collect().map(_.getAs[String]("item")).toSeq
    assert(a == b)
  }

  test("OVAL 4-way reference join (J8) resolves package + evr per CVE") {
    // the production path (explicit schema): inference over this same
    // fixture types `reference` scalar-or-array depending on which
    // definitions exist — the exact instability resolvedRows avoids
    val joined = graft.providers.OvalProvider
      .resolvedRows(spark, fixture("oval.xml")).collect()
    assert(joined.length == 5) // def:4 contributes BOTH its criterions
    val r = joined.find(_.getAs[String]("cve") == "CVE-2023-1000").get
    assert(r.getAs[String]("pkg") == "libfoo")
    assert(r.getAs[String]("evr") == "0:1.2-3")
    assert(r.getAs[String]("op") == "less than")
    assert(joined.filter(_.getAs[String]("cve") == "CVE-2023-4000")
      .map(_.getAs[String]("pkg")).toSet == Set("libmulti", "libnest"))
  }

  test("streaming-tar scan yields matching members without extraction (S5)") {
    val df = Sources.tarMembers(spark, fixture("osv-all.tar"),
      "osv/cve/*.json")
    val rows = df.collect()
    assert(rows.map(_.getAs[String]("member")).sorted.toSeq == Seq(
      "osv/cve/2023/CVE-2023-1111.json", "osv/cve/2023/CVE-2023-2222.json"))
    // members parse as JSON downstream (the OSV read path)
    val parsed = df.select(
      get_json_object(col("content"), "$.id").as("id")).collect()
      .map(_.getString(0)).sorted.toSeq
    assert(parsed == Seq("CVE-2023-1111", "CVE-2023-2222"))
  }

  test("hostile tar: a member DECLARING 8 GB refuses loudly at the " +
      "header (never buffers a byte), and a sane cap raise still " +
      "reads real members") {
    // hand-craft a single 512-byte tar header declaring a 2^33-byte
    // member with a valid checksum — the exact shape a gzip bomb's
    // embedded tar headers take (declared size = expanded size)
    val header = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes("US-ASCII")
      System.arraycopy(b, 0, header, off, b.length)
    }
    put(0, "bomb.bin")                        // name
    put(100, "0000644 ")                 // mode
    put(108, "0000000 "); put(116, "0000000 ") // uid gid
    put(124, "77777777777 ")             // size: 2^33-1 (~8 GB) octal
    put(136, "00000000000 ")    // mtime
    put(156, "0")                             // typeflag: regular
    java.util.Arrays.fill(header, 148, 156, ' '.toByte) // cksum spaces
    val sum = header.map(_ & 0xFF).sum
    put(148, f"${sum}%06o  ")
    val dir = java.nio.file.Files.createTempDirectory("hostiletar")
    val tarPath = dir.resolve("bomb.tar")
    java.nio.file.Files.write(tarPath,
      header ++ new Array[Byte](1024)) // end-of-archive blocks
    val e = intercept[Exception] {
      Sources.tarMembers(spark, tarPath.toString).collect()
    }
    // the refusal message, possibly wrapped in a SparkException
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("cap")),
      s"expected the declared-size refusal, got: ${messages(e)}")
    // the cap is a dial, and it guards the READ loop too: a real
    // (well-formed) archive under a deliberately tiny cap refuses
    // with the same message instead of buffering past it
    val realTar = dir.resolve("real.tar")
    val tos = new org.apache.commons.compress.archivers.tar
      .TarArchiveOutputStream(java.nio.file.Files.newOutputStream(realTar))
    val entry = new org.apache.commons.compress.archivers.tar
      .TarArchiveEntry("doc.txt")
    val payload = Array.fill[Byte](100)('x'.toByte)
    entry.setSize(payload.length.toLong)
    tos.putArchiveEntry(entry); tos.write(payload)
    tos.closeArchiveEntry(); tos.close()
    val e2 = intercept[Exception] {
      Sources.tarMembers(spark, realTar.toString,
        maxMemberBytes = 10L).collect()
    }
    assert(messages(e2).exists(_.contains("cap")))
    // and the default cap reads it untouched
    val rows = Sources.tarMembers(spark, realTar.toString).collect()
    assert(rows.length == 1 &&
      rows.head.getAs[String]("content") == "x" * 100)
  }

  test("EPSS CSV scan: comment skipped, score_date captured, typed") {
    val df = Sources.epss(spark, fixture("epss.csv"))
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.head.getAs[String]("score_date") == "2024-02-07T00:00:00+0000")
    val top = df.orderBy(col("epss").desc).head()
    assert(top.getAs[String]("cve") == "CVE-2023-1000")
  }

  test("RSS scan: ALAS id + severity extracted per item") {
    val rows = Sources.rss(spark, fixture("alas.rss")).collect()
    assert(rows.length == 2)
    val r = rows.find(_.getAs[String]("alas_id") == "ALAS-2023-1726").get
    assert(r.getAs[String]("severity") == "important")
  }

  test("result store: OR REPLACE vs OR IGNORE dedup semantics") {
    val df = Seq(
      ("a", "s", "v1", 1), ("a", "s", "v2", 2), ("b", "s", "v1", 1)
    ).toDF("identifier", "schema", "item", "precedence")
    val rep = ResultStore.dedupKeyed(df, ResultStore.Replace)
      .select("identifier", "item").as[(String, String)].collect().toMap
    assert(rep == Map("a" -> "v2", "b" -> "v1"))
    val ign = ResultStore.dedupKeyed(df, ResultStore.Ignore)
      .select("identifier", "item").as[(String, String)].collect().toMap
    assert(ign == Map("a" -> "v1", "b" -> "v1"))
  }

  test("result store: upsert + atomic commit + manifest round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val dest = s"$dir/results"
    val snap = Seq(("a", "s", "v1"), ("b", "s", "v1"))
      .toDF("identifier", "schema", "item")
    val d1 = ResultStore.commit(spark, snap, dest)
    assert(ResultStore.manifest(dest).get.startsWith("xxh64:"))
    assert(d1.startsWith("xxh64:"))

    val batch = Seq(("b", "s", "v2"), ("c", "s", "v1"))
      .toDF("identifier", "schema", "item")
    val merged = ResultStore.upsert(ResultStore.read(spark, dest), batch)
    val d2 = ResultStore.commit(spark, merged, dest)
    val out = ResultStore.read(spark, dest)
      .select("identifier", "item").as[(String, String)].collect().toMap
    assert(out == Map("a" -> "v1", "b" -> "v2", "c" -> "v1"))
    assert(d1 != d2)
    // identical content → identical manifest digest (determinism)
    val d3 = ResultStore.commit(spark, ResultStore.read(spark, dest), dest)
    assert(d2 == d3)
  }

  test("manifest digest of a fixed 2-row store is pinned") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pin").toString
    val rows = Seq(("CVE-2024-1", "s", "{\"a\":1}"), ("CVE-2024-2", "s", "{}"))
      .toDF("identifier", "schema", "item")
    val digest = ResultStore.commit(spark, rows, s"$dir/r")
    assert(digest == "xxh64:ab6a17b7f61e70e")
    assert(ResultStore.manifest(s"$dir/r").contains(s"$digest\nrows:2\n"))
  }

  test("manifest digest is partition-layout-invariant (the sort lives " +
      "inside the aggregate, not in a pre-orderBy)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-det").toString
    val rows = spark.range(2000)
      .select(concat(lit("id"), col("id")).as("identifier"),
        lit("s").as("schema"), concat(lit("v"), col("id")).as("item"))
    // the same content through very different physical layouts: the
    // listing spans many shuffle partitions, so any dependence on
    // partial-list arrival order would flip the digest between runs
    val digests = Seq(1, 7, 32).map { n =>
      ResultStore.commit(spark, rows.repartition(n), s"$dir/r$n")
    }
    assert(digests.distinct.size == 1,
      s"digest depends on partition layout: $digests")
  }

  test("an empty commit, static or emptied by AQE at run time, " +
      "writes rows:0 and the empty-listing digest") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val rows = spark.range(200)
      .select(concat(lit("id"), col("id")).as("identifier"),
        lit("s").as("schema"), concat(lit("v"), col("id")).as("item"))
    // no key survives, but only a run finds out: the optimizer keeps
    // the join, AQE empties it once the filtered side has run
    val noKeys = spark.range(200).repartition(4).filter(col("id") > 1000)
      .select(concat(lit("id"), col("id")).as("identifier"))
    val runtimeEmpty = rows.repartition(4).join(noKeys, "identifier")
      .select("identifier", "schema", "item")
    assert(runtimeEmpty.queryExecution.optimizedPlan
      .collectFirst { case j: Join => j }.isDefined)
    val frames = Seq(
      "static" -> Seq.empty[(String, String, String)]
        .toDF("identifier", "schema", "item"),
      "filtered" -> rows.filter(col("identifier") === "none"),
      "runtime" -> runtimeEmpty)
    frames.foreach { case (name, df) =>
      val dest = s"$dir/$name"
      // bounded: a commit whose manifest observation never arrives
      // fails here instead of hanging the suite
      val digest = Await.result(
        Future(ResultStore.commit(spark, df, dest)), 90.seconds)
      assert(digest == "xxh64:98b1582b0977e704", name)
      assert(ResultStore.manifest(dest).contains(s"$digest\nrows:0\n"), name)
      assert(ResultStore.read(spark, dest).isEmpty, name)
    }
  }

  test("the manifest digest equals a recomputation over the committed " +
      "store's rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-recompute")
      .toString
    val rows = spark.range(500)
      .select(concat(lit("id"), col("id")).as("identifier"),
        lit("s").as("schema"), concat(lit("v"), col("id")).as("item"))
      .repartition(7)
    val digest = ResultStore.commit(spark, rows, s"$dir/r")
    // the listing built on the driver: sorted `identifier:h` lines,
    // h the row's xxhash64, and the digest the xxhash64 of the listing
    val listing = ResultStore.read(spark, s"$dir/r")
      .select(col("identifier"),
        xxhash64(col("identifier"), col("schema"), col("item")))
      .as[(String, Long)].collect().sorted
      .map { case (id, h) => s"$id:$h" }.mkString("\n")
    val expected = Seq(listing).toDF("l").select(xxhash64(col("l")))
      .as[Long].head()
    assert(digest == s"xxh64:${java.lang.Long.toHexString(expected)}")
    assert(ResultStore.manifestRows(s"$dir/r").contains(500L))
  }

  test("result store: compaction preserves content digest, shrinks files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val dest = s"$dir/results"
    // write a fragmented store: 16 partitions → 16 small files
    val df = spark.range(200)
      .select(concat(lit("id"), col("id")).as("identifier"),
        lit("s").as("schema"), concat(lit("v"), col("id")).as("item"))
      .repartition(16)
    val d1 = ResultStore.commit(spark, df, dest)
    def nParquet: Int = {
      val p = java.nio.file.Paths.get(dest).resolve("results")
      java.nio.file.Files.walk(p).filter(_.toString.endsWith(".parquet"))
        .count().toInt
    }
    val before = nParquet
    assert(before >= 16)
    val d2 = ResultStore.compact(spark, dest)   // default target ≫ store size
    assert(nParquet == 1, "compaction should collapse to one file here")
    assert(d2 == d1, "compaction must not change the content digest")
    val out = ResultStore.read(spark, dest).count()
    assert(out == 200)
  }

  test("apk version ordering: numeric parts numeric, strings lexical, " +
      "missing parts zero, revision ties (`secureos/parser.py:180-218`)") {
    import graft.providers.SecdbProvider.compareApk
    assert(compareApk("9.3.2-r2", "9.3.10-r0") < 0)   // 2 < 10 numeric
    assert(compareApk("9.3.2-r1", "9.3.2-r2") < 0)    // revision tie-break
    assert(compareApk("1.2", "1.2.0-r0") == 0)        // missing part = 0
    assert(compareApk("1.2b", "1.2a") > 0)            // strings lexical
    assert(compareApk("8.5.0-r2", "8.5.0-r2") == 0)
    assert(compareApk("1.2-rc1", "1.2-r3") < 0)       // bad rev parses 0
    // dashes inside the version are part separators, not suffixes
    // (`parser.py:181` replace("-", ".") before the split)
    assert(compareApk("1.9-r1", "1.10-alpha-r2") < 0)
  }
}

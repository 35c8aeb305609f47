package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.{ResultStore, SchemaGate}

/** Output schema-validation gate (VERDICT r2 item 5, mirroring
  * `src/vunnel/schema.py:23-36` + the os/schema-1.1.0 required lists):
  * malformed envelopes are quarantined, valid ones ship unchanged.
  */
class SchemaGateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val ok =
    """{"Vulnerability":{"Name":"CVE-2024-1","NamespaceName":"wolfi:rolling",
      |"Description":"d","Severity":"High","Link":"https://x",
      |"FixedIn":[{"Name":"busybox","NamespaceName":"wolfi:rolling",
      |"Version":"1.36.1-r0","VersionFormat":"apk"}],
      |"CVSS":[{"version":"3.1","vector_string":"CVSS:3.1/AV:N",
      |"status":"N/A","base_metrics":{"base_score":7.5,
      |"base_severity":"High","exploitability_score":3.9,
      |"impact_score":3.6}}]}}""".stripMargin.replaceAll("\n", "")

  private def env(id: String, item: String, schema: String = Envelope.OsSchema) =
    (id, schema, item)

  test("os schema: required-field and required-element violations quarantine") {
    val rows = Seq(
      env("good", ok),
      // missing required Severity
      env("no-sev", """{"Vulnerability":{"Name":"C","NamespaceName":"n","Description":"d","Link":"l"}}"""),
      // flat record without the Vulnerability wrapper: quarantined
      env("no-wrapper", """{"Name":"C","NamespaceName":"n","Description":"d","Severity":"Low","Link":"l"}"""),
      // FixedIn entry missing Version
      env("bad-fix", """{"Vulnerability":{"Name":"C","NamespaceName":"n","Description":"d",
        |"Severity":"Low","Link":"l","FixedIn":[{"Name":"p",
        |"NamespaceName":"n","VersionFormat":"apk"}]}}""".stripMargin.replaceAll("\n", "")),
      // CVSS entry missing base_metrics.impact_score
      env("bad-cvss", """{"Vulnerability":{"Name":"C","NamespaceName":"n","Description":"d",
        |"Severity":"Low","Link":"l","CVSS":[{"version":"3.1",
        |"vector_string":"v","status":"N/A","base_metrics":{
        |"base_score":1.0,"base_severity":"Low",
        |"exploitability_score":1.0}}]}}""".stripMargin.replaceAll("\n", "")),
      // not JSON at all
      env("garbage", "not json")
    ).toDF("identifier", "schema", "item")

    val (good, bad) = SchemaGate.validate(rows)
    assert(good.select("identifier").as[String].collect().toSet == Set("good"))
    assert(bad.select("identifier").as[String].collect().toSet ==
      Set("no-sev", "no-wrapper", "bad-fix", "bad-cvss", "garbage"))
    // valid rows ship byte-identical
    assert(good.select("item").as[String].head() == ok)
  }

  test("empty FixedIn/CVSS arrays and absent optionals are valid") {
    val rows = Seq(
      env("min", """{"Vulnerability":{"Name":"C","NamespaceName":"n","Description":"d",
        |"Severity":"Unknown","Link":"l"}}""".stripMargin.replaceAll("\n", "")),
      env("empty-arrays", """{"Vulnerability":{"Name":"C","NamespaceName":"n","Description":"d",
        |"Severity":"Low","Link":"l","FixedIn":[],"CVSS":[]}}"""
        .stripMargin.replaceAll("\n", ""))
    ).toDF("identifier", "schema", "item")
    val (good, bad) = SchemaGate.validate(rows)
    assert(bad.isEmpty && good.count() == 2)
  }

  test("schema version matrix: a field newer than the declared version " +
      "quarantines; the right version ships it") {
    def fixedIn(extra: String) =
      s"""{"Vulnerability":{"Name":"C","NamespaceName":"rhel:9","Description":"d",
        |"Severity":"Low","Link":"l","FixedIn":[{"Name":"p",
        |"NamespaceName":"rhel:9","Version":"0:1-1.el9",
        |"VersionFormat":"rpm"$extra}]}}""".stripMargin.replaceAll("\n", "")
    val vrange = fixedIn(""","VulnerableRange":"< 0:1-1.el9"""")
    val issued = fixedIn(""","Issued":"2024-01-01"""")
    val avail = fixedIn(
      ""","Available":{"Date":"2024-01-01","Kind":"first-observed"}""")
    val arch = fixedIn(""","Arch":"aarch64"""")
    val advisories = fixedIn(
      ""","Advisories":[{"Advisory":"RHSA-2024:1","Version":"0:1-1.el9",
        |"Minor":2,"Channels":["eus"]}]""".stripMargin.replaceAll("\n", ""))
    val rows = Seq(
      // 1.0.0 accepts none of the later fields
      env("v100-range", vrange, Envelope.osSchema("1.0.0")),
      env("v100-plain", fixedIn(""), Envelope.osSchema("1.0.0")),
      // VulnerableRange arrived in 1.0.1
      env("v101-range", vrange, Envelope.osSchema("1.0.1")),
      // Issued is 1.0.2-only: valid there, gone in 1.1.0
      env("v102-issued", issued, Envelope.osSchema("1.0.2")),
      env("v110-issued", issued, Envelope.osSchema("1.1.0")),
      // Available (1.1.0), Arch (1.1.1), Advisories (1.1.2)
      env("v110-avail", avail, Envelope.osSchema("1.1.0")),
      env("v102-avail", avail, Envelope.osSchema("1.0.2")),
      env("v111-arch", arch, Envelope.osSchema("1.1.1")),
      env("v110-arch", arch, Envelope.osSchema("1.1.0")),
      env("v112-advisories", advisories, Envelope.osSchema("1.1.2")),
      env("v110-advisories", advisories, Envelope.osSchema("1.1.0")),
      // 1.1.2 Advisories entries still require Advisory+Version
      env("v112-bad-advisory", fixedIn(
        ""","Advisories":[{"Minor":2}]"""), Envelope.osSchema("1.1.2"))
    ).toDF("identifier", "schema", "item")
    val (good, bad) = SchemaGate.validate(rows)
    assert(good.select("identifier").as[String].collect().toSet == Set(
      "v100-plain", "v101-range", "v102-issued", "v110-avail",
      "v111-arch", "v112-advisories"))
    assert(bad.select("identifier").as[String].collect().toSet == Set(
      "v100-range", "v110-issued", "v102-avail", "v110-arch",
      "v110-advisories", "v112-bad-advisory"))
  }

  test("rhel envelopes carrying 1.1.2 Advisories pass the gate under " +
      "their pinned schema URL") {
    import graft.providers.RhelProvider
    val hydra = RhelProvider.hydraScan(spark,
      getClass.getResource("/fixtures/rhel_hydra.json").getPath)
    val fpis = Seq(
      ("RHSA-2024:0001", "CVE-2024-1111",
        "AppStream-9.5.0.Z.MAIN:webkit2gtk3-0:2.46.1-2.el9_5.x86_64",
        "cpe:/a:redhat:enterprise_linux:9::appstream", null, "webkit2gtk3",
        "0:2.46.1-2.el9_5"),
      ("RHSA-2024:0002", "CVE-2024-1111",
        "AppStream-9.4.0.Z.EUS:webkit2gtk3-0:2.44.3-2.el9_4.5.x86_64",
        "cpe:/a:redhat:enterprise_linux:9::appstream", null, "webkit2gtk3",
        "0:2.44.3-2.el9_4.5")
    ).toDF("rhsa_id", "cve", "fpi", "plat_cpe", "module", "name", "version")
    val envs = RhelProvider.envelopes(hydra, fpis)
    val (good, bad) = SchemaGate.validate(envs)
    assert(bad.isEmpty,
      "rhel envelopes quarantined: " +
        bad.select("identifier").as[String].collect().mkString(", "))
    // the fixture's two rhel:9 fix streams must actually exercise the
    // Advisories path — otherwise this test pins nothing
    import org.apache.spark.sql.functions.col
    assert(good.filter(col("item").contains("\"Advisories\"")).count() > 0)
  }

  test("unregistered schema family: parseable JSON object passes, junk fails") {
    val rows = Seq(
      env("nvd-ok", """{"anything":{"nested":true}}""", Envelope.NvdSchema),
      env("nvd-bad", "][", Envelope.NvdSchema)
    ).toDF("identifier", "schema", "item")
    val (good, bad) = SchemaGate.validate(rows)
    assert(good.select("identifier").as[String].collect().toSeq == Seq("nvd-ok"))
    assert(bad.select("identifier").as[String].collect().toSeq == Seq("nvd-bad"))
  }

  test("commitValidated: quarantine sidecar + clean store; strict throws") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gate").toString
    val dest = s"$dir/results"
    val rows = Seq(env("good", ok), env("bad", "{}"))
      .toDF("identifier", "schema", "item")

    val (digest, quarantined) = ResultStore.commitValidated(spark, rows, dest)
    assert(digest.startsWith("xxh64:") && quarantined == 1)
    assert(ResultStore.read(spark, dest)
      .select("identifier").as[String].collect().toSeq == Seq("good"))
    assert(spark.read.parquet(s"$dest.quarantine")
      .select("identifier").as[String].collect().toSeq == Seq("bad"))

    val err = intercept[IllegalArgumentException] {
      ResultStore.commitValidated(spark, rows, s"$dir/strict", strict = true)
    }
    assert(err.getMessage.contains("schema validation"))

    // all-valid input: no quarantine dir, zero count
    val cleanDest = s"$dir/clean"
    val (_, zero) = ResultStore.commitValidated(spark,
      Seq(env("good", ok)).toDF("identifier", "schema", "item"), cleanDest)
    assert(zero == 0)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$cleanDest.quarantine")))

    // a clean re-run CLEARS the previous run's quarantine sidecar —
    // stale quarantine parquet would read as "still failing"
    val (_, zeroAgain) = ResultStore.commitValidated(spark,
      Seq(env("good", ok), env("bad", ok))
        .toDF("identifier", "schema", "item"), dest)
    assert(zeroAgain == 0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dest.quarantine")),
      "stale quarantine sidecar must be deleted on a clean run")
  }

  /** Spark jobs started while `body` runs, counted by a listener. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.bridge
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    bridge.settleListenerBus(sc, 10000)
    sc.addSparkListener(l)
    try { body; bridge.settleListenerBus(sc, 10000) }
    finally sc.removeSparkListener(l)
    n.get
  }

  /** `from_json` calls in a physical plan. */
  private def parses(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    p match {
      case a: AdaptiveSparkPlanExec => parses(a.inputPlan)
      case _ => p.expressions.map(_.collect { case j: JsonToStructs => j }
        .size).sum + p.children.map(parses).sum
    }
  }

  // repartitioned so the optimizer cannot fold the gate into a local
  // relation: the plan keeps the shape a provider's scan gives it
  private def scanned =
    Seq(env("good", ok), env("nvd", "{}", Envelope.NvdSchema))
      .toDF("identifier", "schema", "item").repartition(2)

  test("validateCached parses each envelope once: the cached gate plan " +
      "holds one OS parse and one fallback parse") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val (good, bad, release) = SchemaGate.validateCached(scanned)
    try {
      val cached = good.queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation => r }
      assert(cached.isDefined, "the gate's marked frame is not cached")
      val n = parses(cached.get.cacheBuilder.cachedPlan)
      assert(n == 2, s"$n from_json calls in the cached gate plan")
      assert(good.count() == 2 && bad.isEmpty)
    } finally release()
  }

  test("commitValidated parses each envelope once: its executed plans " +
      "hold one OS parse and one fallback parse") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.graft.bridge
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val dest = java.nio.file.Files.createTempDirectory("graft-parse")
      .resolve("r").toString
    bridge.settleListenerBus(spark.sparkContext, 10000)
    spark.listenerManager.register(l)
    try {
      ResultStore.commitValidated(spark, scanned, dest)
      bridge.settleListenerBus(spark.sparkContext, 10000)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    val n = plans.asScala.toSeq.map(parses).sum
    assert(n == 2, s"$n from_json calls in the commit's executed plans")
    assert(ResultStore.manifestRows(dest).contains(2L))
  }

  test("commitValidated on a 2-row frame runs one Spark job, " +
      "plus the quarantine write") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    def jobs(rows: Seq[(String, String, String)], dest: String,
        rejected: Long): Int = {
      val df = rows.toDF("identifier", "schema", "item")
      var out = ("", -1L)
      val n = jobsDuring { out = ResultStore.commitValidated(spark, df, dest) }
      assert(out._2 == rejected)
      assert(ResultStore.manifestRows(dest).contains(rows.size - rejected))
      n
    }
    val clean = Seq(env("a", ok), env("b", ok))
    jobs(clean, s"$dir/warm", 0)   // warm-up
    val n = jobs(clean, s"$dir/clean", 0)
    // the write, carrying the observed manifest aggregate
    assert(n <= 1, s"commitValidated ran $n jobs")
    val q = jobs(Seq(env("a", ok), env("bad", "{}")), s"$dir/quarantine", 1)
    assert(q <= 2, s"commitValidated with a rejected row ran $q jobs")
  }

  test("reading a committed store launches no Spark job") {
    val dest = java.nio.file.Files.createTempDirectory("graft-read")
      .resolve("r").toString
    ResultStore.commitValidated(spark,
      Seq(env("a", ok)).toDF("identifier", "schema", "item"), dest)
    var out: org.apache.spark.sql.DataFrame = null
    val n = jobsDuring { out = ResultStore.read(spark, dest) }
    assert(n == 0, s"ResultStore.read ran $n jobs")
    assert(out.schema == ResultStore.envelopeSchema)
    assert(out.select("identifier").as[String].collect().toSeq == Seq("a"))
  }

  test("a commit of a frame that is not an envelope fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shape").toString
    val wrong = Seq(
      Seq(("a", "s", 1)).toDF("identifier", "schema", "item"),
      Seq(("a", "s")).toDF("identifier", "schema"),
      Seq(("a", "s", "{}", 1)).toDF("identifier", "schema", "item", "extra"),
      Seq(("s", "a", "{}")).toDF("schema", "identifier", "item"))
    wrong.zipWithIndex.foreach { case (df, i) =>
      val err = intercept[IllegalArgumentException] {
        ResultStore.commit(spark, df, s"$dir/r$i")
      }
      assert(err.getMessage.contains("a store holds envelopes"))
      intercept[IllegalArgumentException] {
        ResultStore.commitValidated(spark, df, s"$dir/v$i")
      }
      assert(ResultStore.manifest(s"$dir/r$i").isEmpty &&
        ResultStore.manifest(s"$dir/v$i").isEmpty)
    }
  }

  test("strict failure leaves no staging and the live store and its " +
      "quarantine sidecar untouched") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-strict").toString
    val dest = s"$dir/results"
    val rows = Seq(env("good", ok), env("bad", "{}"))
      .toDF("identifier", "schema", "item")
    val (digest, _) = ResultStore.commitValidated(spark, rows, dest)
    val manifest = ResultStore.manifest(dest)
    val err = intercept[IllegalArgumentException] {
      ResultStore.commitValidated(spark,
        Seq(env("other", ok), env("worse", "[]"))
          .toDF("identifier", "schema", "item"), dest, strict = true)
    }
    assert(err.getMessage.contains("schema validation"))
    assert(!Files.exists(Paths.get(s"$dest.staging")))
    assert(ResultStore.manifest(dest) == manifest)
    assert(manifest.exists(_.startsWith(digest)))
    assert(ResultStore.read(spark, dest)
      .select("identifier").as[String].collect().toSeq == Seq("good"))
    assert(spark.read.parquet(s"$dest.quarantine")
      .select("identifier").as[String].collect().toSeq == Seq("bad"))
  }
}

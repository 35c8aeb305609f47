package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Quarantine
import graft.sinks.{Catalog, ResultStore}

class CliSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  test("cli: run secdb → status → list → clear round-trip (§3.4)") {
    val root = java.nio.file.Files.createTempDirectory("graft-cli").toString
    Cli.run(spark, List("run", "secdb", fixture("secdb.json"),
      "wolfi:rolling", root))
    val status = Catalog.status(spark, root).collect()
    assert(status.length == 1)
    assert(status.head.getString(0) == "wolfi")
    assert(status.head.getLong(1) == 6) // 6 distinct CVE envelopes
    // re-run is an upsert: same identifiers, same count
    Cli.run(spark, List("run", "secdb", fixture("secdb.json"),
      "wolfi:rolling", root))
    assert(ResultStore.read(spark, s"$root/wolfi").count() == 6)
    Cli.run(spark, List("clear", root, "wolfi"))
    assert(Catalog.status(spark, root).count() == 0)
  }

  test("a crash between the promote's two moves loses nothing: cli run " +
      "keeps the earlier envelopes, status and clear see the store") {
    import java.nio.file.{Files, Path, Paths}
    def store(ids: String*) = ids.map(i => (i, Envelope.OsSchema, "{}"))
      .toDF("identifier", "schema", "item")
    def ids(dest: String) = ResultStore.read(spark, dest)
      .select("identifier").as[String].collect().toSet
    val wolfi = {
      val root = Files.createTempDirectory("graft-fresh").toString
      Cli.run(spark, List("run", "secdb", fixture("secdb.json"),
        "wolfi:rolling", root))
      ids(s"$root/wolfi")
    }
    assert(wolfi.size == 6)
    // both crash states leave `wolfi` missing and the previous store
    // in `wolfi.old`; they differ in how far staging got
    for (stagingDone <- Seq(true, false)) {
      def crashed(): (String, Path) = {
        val root = Files.createTempDirectory("graft-crash").toString
        val dest = Paths.get(s"$root/wolfi")
        ResultStore.commit(spark, store("CVE-1999-0001"), dest.toString)
        ResultStore.commit(spark, store("CVE-1999-0001", "CVE-1999-0002"),
          s"$root/next")
        if (!stagingDone)
          Files.delete(Paths.get(s"$root/next/manifest.txt"))
        Files.move(Paths.get(s"$root/next"), Paths.get(s"$dest.staging"))
        Files.move(dest, Paths.get(s"$dest.old"))
        (root, dest)
      }
      def siblings(dest: Path) = Seq(".staging", ".old")
        .filter(s => Files.exists(Paths.get(s"$dest$s")))
      // a finished staging is the newer store: roll it forward;
      // an unfinished one is discarded and the old store restored
      val earlier =
        if (stagingDone) Set("CVE-1999-0001", "CVE-1999-0002")
        else Set("CVE-1999-0001")

      val (root, dest) = crashed()
      Cli.run(spark, List("run", "secdb", fixture("secdb.json"),
        "wolfi:rolling", root))
      assert(ids(dest.toString) == earlier ++ wolfi, s"stagingDone=$stagingDone")
      assert(ResultStore.manifestRows(dest.toString)
        .contains((earlier ++ wolfi).size.toLong))
      assert(siblings(dest).isEmpty)

      val (root2, _) = crashed()
      val status = Catalog.status(spark, root2).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(status == Seq(("wolfi", earlier.size.toLong)))

      val (root3, dest3) = crashed()
      Cli.run(spark, List("clear", root3, "wolfi"))
      assert(Catalog.status(spark, root3).count() == 0)
      assert(!Files.exists(dest3) && siblings(dest3).isEmpty)
    }
  }

  test("registry mirrors the reference's 27-provider catalog + tag select") {
    import graft.providers.Registry
    assert(Registry.providers.size == 27)
    assert(Registry.byName.contains("nvd") && Registry.byName.contains("kev"))
    // T6: ALL-of includes, NONE-of excludes
    val osvOs = Registry.select(Set("os", "osv"))
    assert(osvOs.map(_.name).toSet == Set("alma", "rocky", "ubuntu"))
    val aux = Registry.select(Set("aux"))
    assert(aux.map(_.name).toSet == Set("kev", "epss", "eol"))
    assert(Registry.select(Set("os"), excludes = Set("osv"))
      .forall(s => !s.tags.contains("osv")))
  }

  test("plugin override modes: duplicate name FAIL / REPLACE / IGNORE") {
    import graft.providers.Registry
    import graft.providers.Registry.{OverrideMode, Spec}
    val awesome = Spec("awesome", "osv", "osv-json", Set("application"))
    val nvdClone = Spec("nvd", "custom-nvd", "rest-json", Set("nvd"))

    // a new name registers in every mode, appended after the built-ins
    val added = Registry.withPlugins(Seq(awesome))
    assert(added.size == Registry.providers.size + 1)
    assert(added.last == awesome)

    // FAIL (default): duplicate name with a different spec raises
    val err = intercept[IllegalArgumentException] {
      Registry.withPlugins(Seq(nvdClone))
    }
    assert(err.getMessage.contains("nvd"))
    // ...but re-registering the identical spec is never a conflict
    assert(Registry.withPlugins(Seq(Registry.byName("nvd"))) ==
      Registry.providers)

    // REPLACE: the plugin wins, keeping the original catalog position
    val replaced = Registry.withPlugins(Seq(nvdClone), OverrideMode.Replace)
    assert(replaced.size == Registry.providers.size)
    assert(replaced.find(_.name == "nvd").get.family == "custom-nvd")
    assert(replaced.indexWhere(_.name == "nvd") ==
      Registry.providers.indexWhere(_.name == "nvd"))

    // IGNORE: the built-in wins, plugin dropped
    val ignored = Registry.withPlugins(Seq(nvdClone), OverrideMode.Ignore)
    assert(ignored == Registry.providers)

    // later plugins see earlier ones: plugin-vs-plugin collision
    val awesome2 = awesome.copy(family = "secdb")
    intercept[IllegalArgumentException] {
      Registry.withPlugins(Seq(awesome, awesome2), OverrideMode.Fail)
    }
    assert(Registry.withPlugins(Seq(awesome, awesome2),
      OverrideMode.Replace).last == awesome2)

    // env-style mode parsing: unset/unknown → FAIL
    assert(OverrideMode.parse("replace") == OverrideMode.Replace)
    assert(OverrideMode.parse(" IGNORE ") == OverrideMode.Ignore)
    assert(OverrideMode.parse("") == OverrideMode.Fail)
    assert(OverrideMode.parse("bogus") == OverrideMode.Fail)
  }

  test("config layer: defaults + YAML + env deep-merge, stable YAML out") {
    val yaml = java.nio.file.Files.createTempFile("cfg", ".yaml")
    java.nio.file.Files.writeString(yaml,
      """root: /data/custom
        |providers:
        |  nvd:
        |    request_timeout: 30
        |""".stripMargin)
    val cfg = ConfigLayer.resolve(Seq("nvd", "wolfi"), Some(yaml.toString),
      env = Map("GRAFT_WOLFI_ON_ERROR__ACTION" -> "skip",
        "GRAFT_NVD_REQUEST_TIMEOUT" -> "99"))
    def providers(c: Map[String, Any]) =
      c("providers").asInstanceOf[Map[String, Any]]
    def nvd = providers(cfg)("nvd").asInstanceOf[Map[String, Any]]
    def wolfi = providers(cfg)("wolfi").asInstanceOf[Map[String, Any]]
    assert(cfg("root") == "/data/custom")                  // file beats default
    assert(nvd("request_timeout") == 99)                   // env beats file
    assert(nvd("existing_results") == "delete-before-write") // default kept
    val onErr = wolfi("on_error").asInstanceOf[Map[String, Any]]
    assert(onErr("action") == "skip")                      // nested env path
    assert(onErr("retry_count") == 3)                      // sibling default
    val rendered = ConfigLayer.render(cfg)
    assert(rendered.contains("action: skip"))
    assert(rendered.contains("retry_count: 3"))
    // round-trips through the YAML reader
    val tmp2 = java.nio.file.Files.createTempFile("cfg2", ".yaml")
    java.nio.file.Files.writeString(tmp2, rendered)
    assert(ConfigLayer.loadYaml(tmp2.toString)("root") == "/data/custom")
  }

  test("config env keys bind to the longest provider prefix; floats coerce") {
    val over = ConfigLayer.envOverrides(
      Map("GRAFT_NVD_EXTRA_RETRY_DELAY" -> "2.5",
        "GRAFT_NVD_REQUEST_TIMEOUT" -> "99"),
      Seq("nvd", "nvd-extra"))
    val providers = over("providers").asInstanceOf[Map[String, Any]]
    val nvd = providers("nvd").asInstanceOf[Map[String, Any]]
    // GRAFT_NVD_EXTRA_RETRY_DELAY must go ONLY to nvd-extra, not also
    // land on nvd as a bogus "extra_retry_delay" field
    assert(nvd == Map("request_timeout" -> 99), s"nvd got $nvd")
    val extra = providers("nvd-extra").asInstanceOf[Map[String, Any]]
    assert(extra("retry_delay") == 2.5) // double, not the string "2.5"
  }

  test("quarantine: failing rows routed aside, job survives (§7.4.7)") {
    val df = Seq("2023-01-15", "garbage", "2023-02-20").toDF("raw")
    val parse = Quarantine.tryUdf { s =>
      java.time.LocalDate.parse(s).toString // throws on garbage
    }
    val (good, bad) = Quarantine.split(df, parse(col("raw")), "day")
    assert(good.select("day").as[String].collect().sorted.toSeq ==
      Seq("2023-01-15", "2023-02-20"))
    val q = bad.collect()
    assert(q.length == 1)
    assert(q.head.getAs[String]("raw") == "garbage")
    assert(q.head.getAs[String]("error") != null)
  }
}

package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.providers._

/** Every registered provider wired to its envelope builder over a set of
  * generated replicas: the same calls, inputs and fix-date dimensions the
  * engine's whole-registry integration spec drives, with each fixture path
  * widened to a glob over the replica directories. */
object Providers {

  /** Fixture paths (relative to the fixtures directory) each provider
    * reads. */
  val inputs: Map[String, Seq[String]] = Map(
    "alma" -> Seq("alma"),
    "alpine" -> Seq("secdb.json"),
    "amazon" -> Seq("alas.html"),
    "arch" -> Seq("arch_all.json", "arch_asa_dates.json"),
    "bitnami" -> Seq("bitnami_osv.json"),
    "chainguard" -> Seq("secdb_chainguard.json"),
    "chainguard_libraries" -> Seq("chainguard_openvex.json"),
    "debian" -> Seq("debian_tracker.json", "debian_legacy.json"),
    "echo" -> Seq("echo_data.json"),
    "fedora" -> Seq("fedora_bodhi.json"),
    "github" -> Seq("ghsa.json"),
    "govulndb" -> Seq("govulndb_osv.json"),
    "hummingbird" -> Seq("csaf_vex.json"),
    "mariner" -> Seq("mariner_oval.xml"),
    "minimos" -> Seq("secdb_minimos.json"),
    "nvd" -> Seq("nvd_page.json"),
    "oracle" -> Seq("oval.xml"),
    "photon" -> Seq("photon"),
    "rhel" -> Seq("rhel_hydra.json"),
    "rocky" -> Seq("rocky_osv.json"),
    "secureos" -> Seq("secdb_secureos.json"),
    "sles" -> Seq("sles_oval.xml"),
    "ubuntu" -> Seq("ubuntu_osv", "ubuntu_vex.json", "ubuntu_usn.json"),
    "wolfi" -> Seq("secdb.json"),
    "kev" -> Seq("kev.json"),
    "epss" -> Seq("epss.csv"),
    "eol" -> Seq("eol.json"))

  /** Envelopes of provider `name` over the replicas `tags` written under
    * `gen` (see [[Fixtures.write]]). Lazy: nothing runs until an action. */
  def envelopes(spark: SparkSession, name: String, gen: Path,
      tags: Seq[Int]): DataFrame = {
    import spark.implicits._
    val dir = gen.resolve(name)
    def g(rel: String): String = s"$dir/r*/$rel"
    def retag(s: String, t: Int): String = Fixtures.retag(s, t)
    val emptyFd = UbuntuProvider.emptyFixdates(spark)
    name match {
      case "alma" => AlmaProvider.envelopes(spark,
        g("alma/advisories/almalinux*/*.json"))
      case "alpine" => SecdbProvider.envelopes(spark, g("secdb.json"),
        "alpine:3.18", rejections = Some(tags.map(t =>
          ("busybox", retag("CVE-2022-30065", t))).toDF("pkg_name", "vuln_id")))
      case "amazon" =>
        AmazonProvider.envelopes(tags.map { t =>
          val html = Files.readString(dir.resolve(f"r$t%03d/alas.html"))
          (retag("ALAS-2023-1726", t), "important",
            Seq(retag("CVE-2023-1000", t), retag("CVE-2023-2000", t)), html,
            retag("https://alas.aws.amazon.com/AL2/ALAS-2023-1726.html", t),
            "2023-02-17 22:51:00")
        }.toDF("alas_id", "severity", "cves", "html", "url", "date"), "amzn:2")
      case "arch" => ArchProvider.envelopes(spark, g("arch_all.json"),
        g("arch_asa_dates.json"))
      case "bitnami" => OsvProvider.passthroughEnvelopes(
        OsvProvider.readPassthrough(spark, g("bitnami_osv.json")), emptyFd)
      case "chainguard" => SecdbProvider.envelopes(spark,
        g("secdb_chainguard.json"), "chainguard:rolling")
      case "chainguard_libraries" => VexProvider.libraryEnvelopes(spark,
        g("chainguard_openvex.json"), "maven")
      case "debian" =>
        val rows = DebianProvider.packageRows(spark, g("debian_tracker.json"))
        val dsas = tags.map(t =>
          (retag("DSA-5343-1", t),
            retag("https://www.debian.org/security/2023/dsa-5343", t),
            "bullseye", "openssl", retag("CVE-2023-0286", t), "2023-02-08"))
          .toDF("dsa", "link", "rel", "pkg", "cve", "date")
        DebianProvider.withLegacy(
          DebianProvider.envelopes(DebianProvider.withAdvisories(rows, dsas)),
          DebianProvider.legacyEnvelopes(spark, g("debian_legacy.json"), None))
      case "echo" => EchoProvider.envelopes(spark, g("echo_data.json"))
      case "fedora" => FedoraProvider.envelopes(spark, g("fedora_bodhi.json"))
      case "github" => GhsaProvider.envelopes(
        GhsaProvider.advisories(spark, g("ghsa.json")))
      case "govulndb" => OsvProvider.passthroughEnvelopes(
        OsvProvider.readPassthrough(spark, g("govulndb_osv.json")), emptyFd)
      case "hummingbird" => VexProvider.envelopes(spark, g("csaf_vex.json"))
      case "mariner" => MarinerProvider.envelopes(spark,
        g("mariner_oval.xml"), "2.0")
      case "minimos" => SecdbProvider.envelopes(spark,
        g("secdb_minimos.json"), "minimos:rolling")
      case "nvd" => NvdProvider.envelopes(spark, g("nvd_page.json"),
        Some(tags.map(t => (retag("CVE-2023-1234", t),
          "cpe:2.3:a:vendor:product:*:*:*:*:*:*:*:*", "1.4.3", "2023-04-30",
          "first-observed")).toDF("vuln", "cpe", "version", "date", "kind")))
      case "oracle" => OvalProvider.envelopes(
        OvalProvider.resolvedRows(spark, g("oval.xml")), "ol:9",
        dropKsplice = true)
      case "photon" => PhotonProvider.envelopes(spark,
        g("photon/cve_data_photon*.json"), g("photon/wiki"))
      case "rhel" => RhelProvider.envelopes(
        RhelProvider.hydraScan(spark, g("rhel_hydra.json")),
        webkitFpis(spark, tags))
      case "rocky" => OsvProvider.passthroughEnvelopes(
        OsvProvider.readPassthrough(spark, g("rocky_osv.json")), emptyFd,
        OsvProvider.rockyEcosystem)
      case "secureos" => SecdbProvider.envelopes(spark,
        g("secdb_secureos.json"), "secureos:rolling",
        apkVulnerableRange = true)
      case "sles" => SlesProvider.envelopes(spark, g("sles_oval.xml"),
        majorVersion = "15")
      case "ubuntu" => UbuntuProvider.envelopes(
        UbuntuProvider.records(spark, g("ubuntu_osv")),
        Some(spark.read.option("multiLine", "true").json(g("ubuntu_vex.json"))),
        usnDates = Some(UbuntuProvider.usnFixDates(
          spark.read.option("multiLine", "true").json(g("ubuntu_usn.json")))))
      case "wolfi" => SecdbProvider.envelopes(spark, g("secdb.json"),
        "wolfi:rolling")
      case "kev" => AuxProviders.kevEnvelopes(spark, g("kev.json"))
      case "epss" => AuxProviders.epssEnvelopes(spark, g("epss.csv"))
      case "eol" => AuxProviders.eolEnvelopes(spark, g("eol.json"))
    }
  }

  /** The RHEL CSAF fix-product dimension of the integration spec (GA + EUS
    * streams for the webkit multi-RHSA case), one copy per replica. */
  private def webkitFpis(spark: SparkSession, tags: Seq[Int]): DataFrame = {
    import spark.implicits._
    val base = Seq(
      ("RHSA-2024:0001", "CVE-2024-1111",
        "AppStream-9.5.0.Z.MAIN:webkit2gtk3-0:2.46.1-2.el9_5.x86_64",
        "cpe:/a:redhat:enterprise_linux:9::appstream", null, "webkit2gtk3",
        "0:2.46.1-2.el9_5"),
      ("RHSA-2024:0002", "CVE-2024-1111",
        "AppStream-9.4.0.Z.EUS:webkit2gtk3-0:2.44.3-2.el9_4.5.x86_64",
        "cpe:/a:redhat:enterprise_linux:9::appstream", null, "webkit2gtk3",
        "0:2.44.3-2.el9_4.5"),
      ("RHSA-2024:0003", "CVE-2024-1111",
        "AppStream-8.6.0.Z.EUS:webkit2gtk3-0:2.40.0-1.el8_6.x86_64",
        "cpe:/a:redhat:enterprise_linux:8::appstream", null, "webkit2gtk3",
        "0:2.40.0-1.el8_6"))
    tags.flatMap(t => base.map { case (rhsa, cve, fpi, cpe, mod, n, v) =>
      (Fixtures.retag(rhsa, t), Fixtures.retag(cve, t), fpi, cpe, mod, n, v)
    }).toDF("rhsa_id", "cve", "fpi", "plat_cpe", "module", "name", "version")
  }
}

package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Catalog queries over committed provider stores — the `vunnel status` /
  * `vunnel list` read path (SURVEY §3.4: `cli/cli.py:188-266`,
  * `workspace.py:95-115`) plus the distribution-listing
  * latest-entry-per-version pick (W3, `distribution.py:65-84`).
  */
object Catalog {

  /** One row per committed provider store under root:
    * (provider, n_results, manifest_digest). */
  def status(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val ls = Files.list(Paths.get(root))
    val dirs = try ls.iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toList finally ls.close()
    // a store caught between its promote's two moves exists only as
    // its .staging/.old siblings; ResultStore.manifest recovers it
    val manifests = dirs.map(_.stripSuffix(".staging").stripSuffix(".old"))
      .distinct.sorted
      .flatMap(name => ResultStore.manifest(s"$root/$name").map(name -> _))
    manifests.map { case (name, manifest) =>
      // the manifest carries the row count commit already paid for —
      // status over N providers is N small file reads, never a
      // parquet scan per store; a store whose manifest predates the
      // rows: line (or was hand-built) falls back to one scan
      val n = ResultStore.rowsOf(manifest)
        .getOrElse(ResultStore.read(spark, s"$root/$name").count())
      val digest = manifest.linesIterator.find(_.startsWith("xxh64:"))
        .getOrElse("")
      (name, n, digest)
    }.toDF("provider", "n_results", "digest")
  }

  /** W3: latest listing entry per schema version — max_by over (version,
    * built-date), the distribution archive selection rule. */
  def latestPerVersion(listing: DataFrame): DataFrame =
    listing.groupBy(col("schema_version"))
      .agg(max_by(
        struct(col("built"), col("url"), col("checksum")), col("built"))
        .as("entry"))
      .select(col("schema_version"), col("entry.built").as("built"),
        col("entry.url").as("url"), col("entry.checksum").as("checksum"))
}

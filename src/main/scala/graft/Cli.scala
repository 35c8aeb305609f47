package graft

import org.apache.spark.sql.SparkSession
import graft.providers.SecdbProvider
import graft.sinks.{Catalog, ResultStore}

/** The reference's CLI entry points (`src/vunnel/cli/cli.py:150-311`:
  * run / status / list / clear) over the Spark engine. Sources are
  * staged local paths (fetch is a driver-side concern; zero-egress here).
  *
  * Usage:
  *   graft.Cli run secdb <secdb.json> <namespace> <storeRoot>
  *   graft.Cli status <storeRoot>
  *   graft.Cli list <storeRoot>
  *   graft.Cli clear <storeRoot> <provider>
  */
object Cli {
  def main(args: Array[String]): Unit = {
    // engine performance configs shared with Bench/Verify — without
    // EngineConf a production session silently falls back to sort-based
    // aggregation for every TypedImperativeAggregate past 128 keys
    val spark = EngineConf.tuned(SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", "local[4]"))
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toList) finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, args: List[String]): Unit =
    args match {
      case "run" :: "secdb" :: path :: namespace :: root :: Nil =>
        val env = SecdbProvider.envelopes(spark, path, namespace)
        val provider = namespace.takeWhile(_ != ':')
        val dest = s"$root/$provider"
        val merged =
          if (ResultStore.manifest(dest).isDefined)
            ResultStore.upsert(ResultStore.read(spark, dest), env)
          else env
        val digest = ResultStore.commit(spark, merged, dest)
        // the count commit just wrote to the manifest, not a re-scan
        val n = ResultStore.manifestRows(dest).getOrElse(0L)
        println(s"[graft] $provider: $n results, $digest")
      case "status" :: root :: Nil =>
        Catalog.status(spark, root).collect().foreach { r =>
          println(s"${r.getString(0)}: results=${r.getLong(1)} ${r.getString(2)}")
        }
      case "list" :: root :: Nil =>
        Catalog.status(spark, root).collect()
          .foreach(r => println(r.getString(0)))
      case "list-providers" :: Nil =>
        graft.providers.Registry.providers.foreach(s =>
          println(f"${s.name}%-22s ${s.family}%-12s ${s.source}%-18s ${s.tags.toSeq.sorted.mkString(",")}"))
      case "clear" :: root :: provider :: Nil =>
        val rootP = java.nio.file.Paths.get(root).toAbsolutePath.normalize()
        val p = rootP.resolve(provider).normalize()
        // path-traversal guard: `clear <root> ../other` must not
        // resolve outside the store root and delete an unrelated tree
        require(p.startsWith(rootP) && p != rootP,
          s"provider '$provider' escapes the store root")
        // the store's siblings go too: a leftover .staging or .old
        // would otherwise be recovered as the store on the next open
        val dirs = Seq("", ".staging", ".old", ".quarantine")
          .map(s => java.nio.file.Paths.get(s"$p$s"))
          .filter(java.nio.file.Files.exists(_))
        dirs.foreach { d =>
          val walk = java.nio.file.Files.walk(d)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.delete(f))
          finally walk.close()
        }
        if (dirs.nonEmpty) println(s"[graft] cleared $provider")
        else println(s"[graft] nothing to clear for $provider")
      case "config" :: rest if rest.length <= 1 =>
        // `vunnel config` parity: resolved defaults ⊕ YAML ⊕ env as YAML
        print(ConfigLayer.render(ConfigLayer.resolve(
          graft.providers.Registry.providers.map(_.name), rest.headOption)))
      case other =>
        System.err.println(s"unknown command: ${other.mkString(" ")}")
        System.err.println("commands: run secdb <path> <ns> <root> | " +
          "status <root> | list <root> | clear <root> <provider> | " +
          "config [file.yaml]")
        // a typo'd subcommand must be detectable by CI scripting —
        // usage-on-stderr with exit 0 reads as success
        throw new IllegalArgumentException(
          s"unknown command: ${other.mkString(" ")}")
    }
}

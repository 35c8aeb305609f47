package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Keyed, checksummed, atomically-promoted result store — the Spark-first
  * re-expression of vunnel's result layer:
  *
  *  - envelope rows `(identifier, schema, item)` (`result.py:33-37`)
  *  - `OR REPLACE` / `OR IGNORE` keyed-write semantics (`result.py:186-208`)
  *    as last-wins / first-wins dedup over an explicit precedence column
  *    (never row order — SURVEY §7.4 hard part 3)
  *  - atomic tmp→final promote (`result.py:259-302`): a commit is
  *    stage (write the results to a staging directory) → one manifest
  *    aggregate over the written files → promote (rename into place);
  *    every open first recovers from a crash between the promote's
  *    two moves
  *  - xxh64 checksum manifest of the result files (`workspace.py:268-284`)
  *  - incremental merge: new batch upserted over the previous snapshot
  *    (`result.py:259-267` "copy previous DB then INSERT OR REPLACE")
  *
  * Scale: identifiers are hash-partitioned by Spark's normal shuffle; the
  * upsert is a unionByName + window dedup where the window key is the
  * identifier — one shuffle, no driver-side state. At 100 TB the store
  * would add `partitionBy(provider)` so per-provider refreshes use dynamic
  * partition overwrite (K4 fragment semantics) instead of full rewrites.
  */
object ResultStore {

  sealed trait WriteMode
  /** last write (highest precedence) wins — SQLite INSERT OR REPLACE. */
  case object Replace extends WriteMode
  /** first write wins — SQLite INSERT OR IGNORE. */
  case object Ignore extends WriteMode

  /** Dedup envelopes by identifier under explicit precedence order.
    * `precedence` must be monotonically increasing across batches
    * (e.g. a batch sequence number); ties break by the tieBreak column
    * for full determinism. */
  def dedupKeyed(df: DataFrame, mode: WriteMode,
      idCol: String = "identifier", precCol: String = "precedence"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = mode match {
      case Replace => col(precCol).desc
      case Ignore => col(precCol).asc
    }
    val w = Window.partitionBy(col(idCol)).orderBy(ord)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Merge a new batch over an existing snapshot (incremental store I4):
    * rows in `batch` replace same-identifier rows in `snapshot`. */
  def upsert(snapshot: DataFrame, batch: DataFrame,
      idCol: String = "identifier"): DataFrame = {
    val s = snapshot.withColumn("precedence", lit(0))
    val b = batch.withColumn("precedence", lit(1))
    dedupKeyed(s.unionByName(b), Replace, idCol).drop("precedence")
  }

  /** Write results + manifest to a staging dir, then atomically promote.
    * Returns the manifest digest (digest-of-sorted-listing, the
    * workspace.py:268-284 scheme, with Spark's xxhash64).
    *
    * `df` MAY read from `destDir` itself (the upsert path): it is fully
    * materialized into staging before the promote. But the caller must
    * not re-execute `df` after commit — its lazy plan still references
    * the replaced files; use [[read]] on the committed store instead. */
  def commit(spark: SparkSession, df: DataFrame, destDir: String): String = {
    val (digest, _) = stage(spark, df, destDir)
    promote(destDir)
    digest
  }

  /** Write `df` to `<destDir>.staging` and its manifest beside it:
    * the write job, then ONE aggregate over the written files that
    * yields the digest and the row count — read back with the writer's
    * own schema, so no schema-inference job. `rejected` rows (the
    * gate's quarantine) join that aggregate through a union only to be
    * counted. Returns (digest, rejected count).
    *
    * Manifest: xxh64 of each row's canonical form, sorted by identifier
    * (deterministic listing order, O2), then digest-of-listing. The
    * sort lives INSIDE the aggregate (sort_array over the collected
    * pairs): a plain orderBy before a global collect_list is not
    * order-stable — the final aggregate merges per-partition partial
    * lists in shuffle-fetch arrival order, so the same store could
    * digest differently across runs once the listing spans partitions
    * (invisible at test scale, where AQE coalesces to one partition).
    * The single aggregation task holds (identifier, 8-byte hash)
    * pairs — the listing itself, same scale as the checksum listing
    * the reference builds in one process (workspace.py:268-284), not
    * the store's payload bytes. */
  private def stage(spark: SparkSession, df: DataFrame, destDir: String,
      rejected: Option[DataFrame] = None): (String, Long) = {
    recover(destDir)
    val staging = Paths.get(destDir + ".staging")
    deleteRecursive(staging)
    val results = staging.resolve("results").toString
    df.write.mode(SaveMode.Overwrite).parquet(results)

    val listing = spark.read.schema(df.schema).parquet(results)
      .select(struct(col("identifier"),
        xxhash64(col("identifier"), col("schema"), col("item")).as("h"))
        .as("e"))
    val entryType = listing.schema("e").dataType
    val r = rejected.fold(listing)(b =>
        listing.unionByName(b.select(lit(null).cast(entryType).as("e"))))
      .agg(xxhash64(array_join(transform(sort_array(collect_list(col("e"))),
          e => concat_ws(":", e.getField("identifier"), e.getField("h"))),
          "\n")),
        count(col("e")), count(lit(1)))
      .head()
    val digest = s"xxh64:${java.lang.Long.toHexString(r.getLong(0))}"
    val rows = r.getLong(1)
    // written last: a staging dir holding a manifest is complete
    Files.writeString(staging.resolve("manifest.txt"),
      s"$digest\nrows:$rows\n")
    (digest, r.getLong(2) - rows)
  }

  /** Atomic promote: move the live store aside, rename staging into
    * place, drop the old copy. A crash between the two moves leaves no
    * live store; [[recover]] repairs that on the next open. */
  private def promote(destDir: String): Unit = {
    val dest = Paths.get(destDir)
    val old = Paths.get(destDir + ".old")
    deleteRecursive(old)
    if (Files.exists(dest)) Files.move(dest, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(destDir + ".staging"), dest,
      StandardCopyOption.ATOMIC_MOVE)
    deleteRecursive(old)
  }

  /** Recover-on-open for a crash inside [[promote]]: with the store
    * directory missing, a staging dir holding its manifest is the
    * finished newer store and rolls forward; otherwise the moved-aside
    * `.old` copy is restored. A present store is left as it is (a
    * leftover staging dir is a commit that never promoted). */
  private def recover(destDir: String): Unit = {
    val dest = Paths.get(destDir)
    if (!Files.exists(dest)) {
      val staging = Paths.get(destDir + ".staging")
      val old = Paths.get(destDir + ".old")
      if (Files.exists(staging.resolve("manifest.txt")))
        Files.move(staging, dest, StandardCopyOption.ATOMIC_MOVE)
      else if (Files.exists(old))
        Files.move(old, dest, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** [[commit]] behind the schema-validation gate
    * (`src/vunnel/schema.py:23-36` semantics): envelopes failing their
    * named schema's structural check are written to a `.quarantine`
    * sidecar (never into the store); valid rows commit as usual. With
    * `strict = true` any invalid envelope fails the commit instead
    * (the reference's raise-on-invalid mode): the valid rows are
    * staged first (their write fills the gate's cache, and the stage
    * aggregate counts the rejected rows), then the staging dir is
    * deleted and the call throws before anything is promoted — the
    * live store and its sidecar stay as they were. Returns (manifest
    * digest, quarantined count). */
  def commitValidated(spark: SparkSession, df: DataFrame, destDir: String,
      strict: Boolean = false): (String, Long) = {
    val (good, bad, release) = SchemaGate.validateCached(df)
    try {
      val (digest, badCount) = stage(spark, good, destDir, Some(bad))
      if (strict && badCount > 0) {
        deleteRecursive(Paths.get(destDir + ".staging"))
        throw new IllegalArgumentException(
          s"$badCount envelope(s) fail schema validation; first: " +
            bad.select("identifier", "schema").head().mkString(", "))
      }
      if (badCount > 0)
        bad.write.mode(SaveMode.Overwrite)
          .parquet(Paths.get(destDir + ".quarantine").toString)
      else
        // a clean run must clear the previous run's sidecar — stale
        // quarantine parquet after the producer fixed its records
        // reads as "still failing validation" to anything inspecting
        deleteRecursive(Paths.get(destDir + ".quarantine"))
      promote(destDir)
      (digest, badCount)
    } finally release()
  }

  /** K4: per-ecosystem fragment sink (ubuntu `parser.py:307-373`
    * DELETE_BEFORE_WRITE): dynamic partition overwrite replaces ONLY the
    * partitions present in `batch`; untouched (frozen/EOL, I6) partitions
    * keep their files. At 100 TB this is the difference between rewriting
    * one ecosystem and rewriting the store. */
  def writeFragments(batch: DataFrame, destDir: String,
      partitionCol: String): Unit = {
    // per-write option, NOT a session conf set: mutating the session
    // default would silently turn every later partitioned Overwrite
    // in the same session into a dynamic overwrite (the leak
    // Shards.writeTrainingShards defends against with an explicit
    // "static")
    batch.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(destDir)
  }

  /** Compact a committed store's results to ~`targetBytes` output files
    * (the small-file problem: a 1000-executor incremental pipeline that
    * appends per-run fragments degrades every later scan with
    * thousands of KB-sized files and per-file open/footer costs).
    * Rewrites through the same staged atomic promote as [[commit]], so
    * the manifest digest is recomputed and a crash never leaves a
    * half-compacted store. Row-content-preserving by construction —
    * the manifest's sorted-listing digest is identical before/after. */
  def compact(spark: SparkSession, destDir: String,
      targetBytes: Long = 128L * 1024 * 1024): String = {
    // materialize before the promote replaces the files being read
    val df = read(spark, destDir)
    val walk = Files.walk(Paths.get(destDir).resolve("results"))
    val bytes = try walk.filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum() finally walk.close()
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    commit(spark, df.coalesce(nFiles), destDir)
  }

  /** Read back a committed store. */
  def read(spark: SparkSession, destDir: String): DataFrame = {
    recover(destDir)
    spark.read.parquet(Paths.get(destDir).resolve("results").toString)
  }

  /** The store's manifest line, if committed. */
  def manifest(destDir: String): Option[String] = {
    recover(destDir)
    val p = Paths.get(destDir).resolve("manifest.txt")
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  /** Row count from the committed manifest — what [[commit]] already
    * counted, so callers don't re-scan the store for it. */
  def manifestRows(destDir: String): Option[Long] =
    manifest(destDir).flatMap(_.linesIterator
      .collectFirst { case l if l.startsWith("rows:") =>
        l.stripPrefix("rows:").trim.toLong })

  private def deleteRecursive(p: Path): Unit = {
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
  }
}

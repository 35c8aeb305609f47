package graft.sinks

import org.apache.spark.sql.{DataFrame, Encoders, Observation, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.concurrent.Await
import scala.concurrent.duration._

/** Keyed, checksummed, atomically-promoted result store — the Spark-first
  * re-expression of vunnel's result layer:
  *
  *  - envelope rows `(identifier, schema, item)` (`result.py:33-37`)
  *  - `OR REPLACE` / `OR IGNORE` keyed-write semantics (`result.py:186-208`)
  *    as last-wins / first-wins dedup over an explicit precedence column
  *    (never row order — SURVEY §7.4 hard part 3)
  *  - atomic tmp→final promote (`result.py:259-302`): a commit is
  *    stage (ONE write job into a staging directory, the manifest
  *    aggregate observed on the rows as they are written) → promote
  *    (rename into place); every open first recovers from a crash
  *    between the promote's two moves
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

  /** The envelope columns every store holds (`result.py:33-37`), in
    * order: [[commit]] requires them and [[read]] reads with them. */
  val envelopeSchema: StructType = Encoders.product[graft.Envelope].schema

  /** Write results + manifest to a staging dir, then atomically promote.
    * Returns the manifest digest (digest-of-sorted-listing, the
    * workspace.py:268-284 scheme, with Spark's xxhash64). `df` must hold
    * exactly the [[envelopeSchema]] columns; anything else fails loudly.
    *
    * `df` MAY read from `destDir` itself (the upsert path): it is fully
    * materialized into staging before the promote. But the caller must
    * not re-execute `df` after commit — its lazy plan still references
    * the replaced files; use [[read]] on the committed store instead. */
  def commit(spark: SparkSession, df: DataFrame, destDir: String): String = {
    val (digest, _) = stage(envelopes(df).withColumn("__ok", lit(true)),
      destDir)
    promote(destDir)
    digest
  }

  /** `df`, once it is checked to hold exactly the [[envelopeSchema]]
    * columns. */
  private def envelopes(df: DataFrame): DataFrame = {
    require(df.schema.map(f => f.name -> f.dataType) ==
        envelopeSchema.map(f => f.name -> f.dataType),
      s"a store holds envelopes ${envelopeSchema.simpleString}, " +
        s"not ${df.schema.simpleString}")
    df
  }

  /** How long [[stage]] waits for its observed manifest after the write
    * returns: the observation arrives on the listener bus, normally
    * within milliseconds, and a missing one fails the commit instead of
    * hanging it. */
  private val manifestWait = 2.minutes

  /** Write the valid rows of `marked` (envelopes plus the gate's
    * boolean `__ok`) to `<destDir>.staging` and the manifest beside it,
    * in ONE Spark job: the write's input carries a
    * [[org.apache.spark.sql.Observation]] whose aggregate yields the
    * digest, the row count and the rejected count as the rows stream
    * into the writer — no read-back of the written files, no second
    * aggregate job. Returns (digest, rejected count).
    *
    * Manifest: xxh64 of each valid row's canonical form, sorted by
    * identifier (deterministic listing order, O2), then
    * digest-of-listing. The sort lives INSIDE the aggregate (sort_array
    * over the collected pairs): the observation merges per-task partial
    * lists in task-completion order, so an unsorted list could digest
    * the same store differently across runs. The collected pairs
    * gather on the driver: (identifier, 8-byte hash) per row — the
    * listing itself, the scale of the single aggregation task this
    * replaces and of the checksum listing the reference builds in one
    * process (workspace.py:268-284), not the store's payload bytes.
    * The observe node sits directly under the write, above any join or
    * shuffle in `marked`, so AQE's empty-relation propagation (which
    * can erase an observe inside a pruned subtree, see
    * [[graft.operators.Dedup.minhashCandidates]]) leaves it in place. */
  private def stage(marked: DataFrame, destDir: String): (String, Long) = {
    recover(destDir)
    val staging = Paths.get(destDir + ".staging")
    deleteRecursive(staging)
    val ok = col("__ok")
    val entry = struct(col("identifier"),
      xxhash64(col("identifier"), col("schema"), col("item")).as("h"))
    val manifest = Observation()
    marked.observe(manifest,
        xxhash64(array_join(transform(
            sort_array(collect_list(when(ok, entry))),
            e => concat_ws(":", e.getField("identifier"), e.getField("h"))),
          "\n")).as("digest"),
        count_if(ok).as("rows"), count_if(!ok).as("rejected"))
      .filter(ok).drop("__ok")
      .write.mode(SaveMode.Overwrite)
      .parquet(staging.resolve("results").toString)
    val r = Await.result(manifest.future, manifestWait)
    val digest = s"xxh64:${java.lang.Long.toHexString(r.getLong(0))}"
    // written last: a staging dir holding a manifest is complete
    Files.writeString(staging.resolve("manifest.txt"),
      s"$digest\nrows:${r.getLong(1)}\n")
    (digest, r.getLong(2))
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
    * (the reference's raise-on-invalid mode): the staging dir is
    * deleted and the call throws before anything is promoted — the
    * live store and its sidecar stay as they were. Returns (manifest
    * digest, quarantined count).
    *
    * The gate's marked frame feeds [[stage]] uncached, so a clean
    * commit is one job that parses each envelope once. The trade: only
    * when rejects exist, the quarantine write (or the strict error's
    * first-bad-identifier lookup) re-evaluates `df` and the gate,
    * filtered to the rejected rows. Both run before the promote, so
    * an upsert `df` reading `destDir` still sees the old store. */
  def commitValidated(spark: SparkSession, df: DataFrame, destDir: String,
      strict: Boolean = false): (String, Long) = {
    val marked = SchemaGate.mark(envelopes(df))
    val (digest, badCount) = stage(marked, destDir)
    val bad = marked.filter(!col("__ok")).drop("__ok")
    if (strict && badCount > 0) {
      deleteRecursive(Paths.get(destDir + ".staging"))
      throw new IllegalArgumentException(
        s"$badCount envelope(s) fail schema validation; first: " +
          bad.select("identifier", "schema").take(1)
            .map(_.mkString(", ")).mkString)
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

  /** Read back a committed store: its envelopes, read with
    * [[envelopeSchema]] (every commit requires those columns), so no
    * schema-inference job runs. */
  def read(spark: SparkSession, destDir: String): DataFrame = {
    recover(destDir)
    spark.read.schema(envelopeSchema)
      .parquet(Paths.get(destDir).resolve("results").toString)
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
    manifest(destDir).flatMap(rowsOf)

  /** The `rows:` line of a manifest's text. */
  private[sinks] def rowsOf(manifest: String): Option[Long] =
    manifest.linesIterator.collectFirst { case l if l.startsWith("rows:") =>
      l.stripPrefix("rows:").trim.toLong }

  private def deleteRecursive(p: Path): Unit = {
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
  }
}

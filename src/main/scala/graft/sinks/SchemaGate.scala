package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Envelope

/** Output schema-validation gate, mirroring the reference's per-envelope
  * JSON-Schema check (`src/vunnel/schema.py:23-36`; required lists from
  * `schema/vulnerability/os/schema-1.1.0.json`): every envelope names
  * its payload schema, and a payload that does not satisfy the named
  * schema's structural requirements must not ship silently.
  *
  * The check is row-local Column work with no extra pass over the
  * data: one projection parses each OS envelope's payload once with
  * `from_json` against the typed shape (PERMISSIVE — a type-mismatched
  * or missing field parses to null), and one version-parameterized
  * predicate applies the required-field/required-element conditions
  * to that column. The payload carries the reference's
  * `{"Vulnerability": {...}}` wrapper (`utils/vulnerability.py:145-146`);
  * the required list applies to the wrapped object.
  */
object SchemaGate {

  // Typed shape of the OS-vulnerability payload at its NEWEST version
  // (1.1.2): parsing every envelope with the full shape is what lets a
  // version-gated field be DETECTED under an older schema URL — a field
  // from_json doesn't know about is silently dropped and could never be
  // rejected. Extra payload fields beyond this shape are ignored
  // (additionalProperties are allowed, as in draft-04 by default).
  private val fixedInType = ArrayType(StructType(Seq(
    StructField("Name", StringType),
    StructField("NamespaceName", StringType),
    StructField("Version", StringType),
    StructField("VersionFormat", StringType),
    // 1.0.1+: grype version-constraint override
    StructField("VulnerableRange", StringType),
    // 1.0.2 only: fix-availability date; replaced in 1.1.0
    StructField("Issued", StringType),
    // 1.1.0+: {Date, Kind} fix-availability object. The published
    // schema document spells the property "Availability", but the
    // reference's emitters write "Available" and draft-04's open
    // additionalProperties masks the mismatch — the gate validates the
    // field that actually ships. Inner-key casing is inconsistent IN
    // THE REFERENCE: wolfi/debian/minimos/secureos/oracle parsers and
    // the ubuntu downconvert all write "Date"/"Kind"
    // (`providers/wolfi/parser.py:250`, `providers/ubuntu/
    // os_downconvert.py:147`), while `providers/rhel/parser.py:991`
    // alone writes lowercase "date"/"kind". This repo's providers emit
    // the majority uppercase convention everywhere; the gate tests
    // Available only for PRESENCE, so rhel-shaped lowercase payloads
    // still validate — but any future check of the inner fields must
    // remember the reference's rhel records spell them lowercase.
    StructField("Available", StructType(Seq(
      StructField("Date", StringType),
      StructField("Kind", StringType)))),
    // 1.1.1+: per-architecture fix split
    StructField("Arch", StringType),
    // 1.1.2+: per-stream fix table for multi-minor RHSAs
    // (`providers/rhel/parser.py:961-980`)
    StructField("Advisories", ArrayType(StructType(Seq(
      StructField("Advisory", StringType),
      StructField("Version", StringType),
      StructField("Minor", IntegerType),
      StructField("Channels", ArrayType(StringType)))))))))

  private val cvssType = ArrayType(StructType(Seq(
    StructField("version", StringType),
    StructField("vector_string", StringType),
    StructField("status", StringType),
    StructField("base_metrics", StructType(Seq(
      StructField("base_score", DoubleType),
      StructField("base_severity", StringType),
      StructField("exploitability_score", DoubleType),
      StructField("impact_score", DoubleType)))))))

  private val osType = StructType(Seq(
    StructField("Vulnerability", StructType(Seq(
      StructField("Name", StringType),
      StructField("NamespaceName", StringType),
      StructField("Description", StringType),
      StructField("Severity", StringType),
      StructField("Link", StringType),
      StructField("FixedIn", fixedInType),
      StructField("CVSS", cvssType))))))

  /** Per-version feature availability of the FixedIn entry, from the
    * published version lineage (diffs of `schema/vulnerability/os/
    * schema-1.0.0.json` … `schema-1.1.2.json`): VulnerableRange arrived
    * in 1.0.1; Issued arrived in 1.0.2 and was REPLACED by the
    * Available object in 1.1.0; Arch arrived in 1.1.1; Advisories in
    * 1.1.2. */
  final case class OsFeatures(
      vulnerableRange: Boolean, issued: Boolean, available: Boolean,
      arch: Boolean, advisories: Boolean)

  val osVersions: Map[String, OsFeatures] = Map(
    "1.0.0" -> OsFeatures(false, false, false, false, false),
    "1.0.1" -> OsFeatures(true, false, false, false, false),
    "1.0.2" -> OsFeatures(true, true, false, false, false),
    "1.1.0" -> OsFeatures(true, false, true, false, false),
    "1.1.1" -> OsFeatures(true, false, true, true, false),
    "1.1.2" -> OsFeatures(true, false, true, true, true))

  /** Registered os-schema urls, one per published version
    * (Envelope.OsSchema is the 1.1.0 entry), with the features each
    * grants. Non-OS families (nvd/osv/github/csaf-vex) are NOT
    * registered — they fall through to the parseable-JSON-object
    * fallback, the same scope the reference's known-schema validation
    * has. */
  private val osUrls: Map[String, OsFeatures] =
    osVersions.map { case (v, f) => Envelope.osSchema(v) -> f }

  /** `schema` names a registered os-schema version granting `feature`. */
  private def grants(schema: Column, feature: OsFeatures => Boolean): Column =
    schema.isin(osUrls.collect { case (u, f) if feature(f) => u }
      .toSeq.sorted: _*)

  /** OS-schema validity of the parsed `Vulnerability` object `p` under
    * the version `schema` names (required: Name, NamespaceName,
    * Description, Severity, Link; every FixedIn entry: Name,
    * NamespaceName, Version, VersionFormat; every CVSS entry: version,
    * vector_string, status, base_metrics with all four scores).
    * Version-gated: a field newer than the declared schema version
    * fails the row — a consumer parsing by URL would silently drop it,
    * so emitting it under the old URL is a version-labeling bug, not
    * compatible output. (Stricter than raw draft-04, whose open
    * additionalProperties accepts any unknown field.) One predicate
    * serves every version: a feature gate reads `field IS NULL OR
    * schema IN (urls granting it)`. */
  private def osValid(p: Column, schema: Column): Column = {
    def gated(entry: Column, field: String, f: OsFeatures => Boolean) =
      entry.getField(field).isNull || grants(schema, f)
    val fixedInOk = p.getField("FixedIn").isNull ||
      forall(p.getField("FixedIn"), fi =>
        fi.getField("Name").isNotNull &&
          fi.getField("NamespaceName").isNotNull &&
          fi.getField("Version").isNotNull &&
          fi.getField("VersionFormat").isNotNull &&
          gated(fi, "VulnerableRange", _.vulnerableRange) &&
          gated(fi, "Issued", _.issued) &&
          gated(fi, "Available", _.available) &&
          gated(fi, "Arch", _.arch) &&
          (fi.getField("Advisories").isNull ||
            grants(schema, _.advisories) &&
            forall(fi.getField("Advisories"), a =>
              a.getField("Advisory").isNotNull &&
                a.getField("Version").isNotNull)))
    val cvssOk = p.getField("CVSS").isNull ||
      forall(p.getField("CVSS"), c =>
        c.getField("version").isNotNull &&
          c.getField("vector_string").isNotNull &&
          c.getField("status").isNotNull &&
          c.getField("base_metrics").isNotNull &&
          c.getField("base_metrics").getField("base_score").isNotNull &&
          c.getField("base_metrics").getField("base_severity").isNotNull &&
          c.getField("base_metrics")
            .getField("exploitability_score").isNotNull &&
          c.getField("base_metrics").getField("impact_score").isNotNull)
    // the wrapper itself is required: a flat (unwrapped) record parses
    // to a null Vulnerability field and fails the p.isNotNull check
    p.isNotNull &&
      p.getField("Name").isNotNull &&
      p.getField("NamespaceName").isNotNull &&
      p.getField("Description").isNotNull &&
      p.getField("Severity").isNotNull &&
      p.getField("Link").isNotNull &&
      fixedInOk && cvssOk
  }

  /** `df` plus the per-row validity column `__ok`: a registered os
    * family gets its structural check; an unregistered family only
    * requires a parseable JSON object (the reference likewise validates
    * only known schemas). The OS payload is parsed in its own
    * projection, once per envelope and only for os-schema rows, and
    * the predicate reads that column: the optimizer does not collapse
    * a projection whose non-trivial expression its consumer reads more
    * than once. `ResultStore.commitValidated` feeds this frame straight
    * into its one write job. */
  private[sinks] def mark(df: DataFrame): DataFrame = {
    val (schema, item) = (col("schema"), col("item"))
    val isOs = grants(schema, _ => true)
    val fallback = item.isNotNull &&
      from_json(item, MapType(StringType, StringType)).isNotNull
    df.withColumn("__os",
        when(isOs, from_json(item, osType).getField("Vulnerability")))
      .withColumn("__ok",
        when(isOs, osValid(col("__os"), schema)).otherwise(fallback))
      .drop("__os")
  }

  /** Split envelopes into (valid, quarantined) — the §7.4.7 pattern:
    * malformed records are routed aside, never shipped and never a job
    * failure. Uncached: each returned frame re-evaluates the row-local
    * predicate on its own scan. Callers consuming BOTH frames in one
    * flow should use [[validateCached]] — an unconditional cache here
    * leaked one pinned entry per call for the session lifetime, with
    * no handle for anyone to release it. */
  def validate(df: DataFrame): (DataFrame, DataFrame) = {
    val marked = mark(df)
    (marked.filter(col("__ok")).drop("__ok"),
      marked.filter(!col("__ok")).drop("__ok"))
  }

  /** [[validate]] with the marked frame cached, so a caller consuming
    * both frames in several actions parses each envelope once. Not on
    * the commit path: `ResultStore.commitValidated` counts the rejected
    * rows inside its write job and needs no cache. The caller MUST
    * invoke the returned release thunk after consuming both frames. */
  def validateCached(df: DataFrame)
      : (DataFrame, DataFrame, () => Unit) = {
    val marked = mark(df)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (marked.filter(col("__ok")).drop("__ok"),
      marked.filter(!col("__ok")).drop("__ok"),
      () => { marked.unpersist(blocking = false); () })
  }
}

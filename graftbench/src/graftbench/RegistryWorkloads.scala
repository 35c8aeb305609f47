package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.providers.Registry
import graft.sinks.{Catalog, ResultStore, SchemaGate}

/** The product path: provider parse → envelopes → SchemaGate →
  * `ResultStore` commit → manifest, for every registered provider. */
object RegistryWorkloads {

  /** Replicas per provider at full size, after the real sources'
    * relative sizes: NVD, GitHub, Ubuntu, Debian and RHEL large; the
    * decorators echo, kev and eol a single copy. */
  val fullFactors: Map[String, Int] = Map(
    "nvd" -> 24, "github" -> 16, "ubuntu" -> 16, "debian" -> 16, "rhel" -> 16,
    "sles" -> 8, "alpine" -> 8, "oracle" -> 8, "amazon" -> 8, "epss" -> 8,
    "alma" -> 4, "rocky" -> 4, "wolfi" -> 4, "chainguard" -> 4,
    "mariner" -> 4, "photon" -> 4, "bitnami" -> 4, "govulndb" -> 4,
    "fedora" -> 4, "arch" -> 2, "minimos" -> 2, "secureos" -> 2,
    "hummingbird" -> 2, "chainguard_libraries" -> 2,
    "echo" -> 1, "kev" -> 1, "eol" -> 1)

  /** Revision 2 changes this share of each provider's replicas (at least
    * one) and adds this share as new replicas. */
  val changedShare = 0.25
  val newShare = 0.125

  private def factors(run: Run): Map[String, Int] =
    if (run.args.smoke) Registry.providers.map(_.name -> 1).toMap
    else fullFactors

  /** Pinned per-provider envelope count of one fixture replica, and the
    * store digest that replica alone commits. */
  final case class Expected(rows: Long, digest: String)

  def expected(run: Run): Map[String, Expected] =
    scala.io.Source.fromFile(run.benchDir.resolve("expected/registry.tsv")
        .toFile).getLines().filterNot(_.startsWith("#")).map { l =>
      val Array(p, n, d) = l.split("\t")
      p -> Expected(n.toLong, d)
    }.toMap

  /** Build a provider's envelopes, `merge` them into the batch to commit
    * and commit that to `dest` through the schema gate. Untraced this is
    * exactly `commitValidated`; traced, the envelopes are materialized
    * first and the gate and the commit run in their own spans, so parse,
    * gate and commit time separate. */
  private def commit(run: Run, build: () => DataFrame,
      merge: DataFrame => DataFrame, dest: Path): String = {
    val t = run.tracer
    if (!t.enabled)
      ResultStore.commitValidated(run.spark, merge(build()), dest.toString)._1
    else {
      val env = t.span("providers") { s =>
        val e = build().persist()
        s.counts("rows") = e.count().toDouble
        e
      }
      try {
        val (good, bad, release) = t.span("sinks.gate") { s =>
          val r = SchemaGate.validateCached(merge(env))
          s.counts("rejected") = r._2.count().toDouble
          s.counts("checked") = s.counts("rejected") + r._1.count()
          r
        }
        try t.span("sinks.commit")(_ => ResultStore.commit(run.spark, good, dest.toString))
        finally release()
      } finally { env.unpersist(); () }
    }
  }

  /** Row count and order-insensitive content hash of a committed store. */
  private def contentOf(run: Run, dest: Path): (Long, BigDecimal) = {
    val r = ResultStore.read(run.spark, dest.toString)
      .agg(count(lit(1)), sum(xxhash64(col("identifier"), col("schema"),
        col("item")).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Canonical JSON bytes of a set of envelopes. */
  private def jsonBytes(df: DataFrame): Long =
    Option(df.agg(sum(length(envelopeJson))).head().get(0)).fold(0L)(
      _.asInstanceOf[Long])

  /** Generate the inputs, three times and fresh each time, for a steady
    * set-up figure. */
  private def inputGen(run: Run, plans: Seq[(String, Fixtures.Plan)]): Seq[Path] =
    run.setup("setup.inputgen", reps = 3) { i =>
      plans.map { case (tag, plan) =>
        val d = run.args.runDir.resolve(s"gen-$tag-$i")
        Fixtures.write(run.fixtures, d, plan, Providers.inputs)
        if (i > 0) run.deleteTree(run.args.runDir.resolve(s"gen-$tag-${i - 1}"))
        d
      }
    }


  /** registry_sync: every provider, in registry order, committed into a
    * fresh store root, then read back. */
  def sync(run: Run): Unit = {
    val exp = expected(run)
    val rev1 = Fixtures.revision1(run.args.seed, factors(run))
    val Seq(gen) = inputGen(run, Seq("rev1" -> rev1))
    pass(run, "registry_sync", run.args.runDir.resolve("stores")) { root =>
      val committed = run.tracer.span("sync") { _ =>
        names.flatMap { p =>
          run.op("commit", p) {
            run.tracer.span(s"provider.$p") { _ =>
              commit(run, () => Providers.envelopes(run.spark, p, gen,
                rev1.replicas(p).map(_.tag)), identity, root.resolve(p))
            }
          }.map(p -> _)
        }.toMap
      }
      // output checks, outside the timed window
      committed.foreach { case (p, digest) =>
        if (rev1.factor(p) == 1)
          run.check(digest == exp(p).digest, p,
            s"$p digest $digest, expected ${exp(p).digest}")
      }
      if (run.args.record) {
        require(run.args.smoke, "expected digests are recorded at replication 1")
        Files.writeString(run.benchDir.resolve("expected/registry.tsv"),
          "# provider\tenvelopes per fixture replica\tstore digest of one replica\n" +
            names.map(p => s"$p\t${ResultStore.manifestRows(root.resolve(p).toString)
              .getOrElse(-1L)}\t${committed.getOrElse(p, "")}").mkString("", "\n", "\n"))
      }
      (committed, p => exp(p).rows * rev1.factor(p))
    }
  }

  /** registry_resync: revision 2 upserted over the committed revision-1
    * stores (the `Cli run` path: read → upsert → commitValidated), then
    * read back. */
  def resync(run: Run): Unit = {
    val exp = expected(run)
    val rev1 = Fixtures.revision1(run.args.seed, factors(run))
    val rev2 = Fixtures.revision2(run.args.seed, rev1, changedShare, newShare)
    val Seq(gen1, gen2) = inputGen(run, Seq("rev1" -> rev1, "rev2" -> rev2))
    val base = run.args.runDir.resolve("base")
    run.setup("setup.basestore", reps = 1) { _ =>
      names.foreach { p =>
        ResultStore.commitValidated(run.spark, Providers.envelopes(run.spark, p,
          gen1, rev1.replicas(p).map(_.tag)), base.resolve(p).toString)
      }
    }
    // the canonical bytes of the batch, for the traced write amplification
    val batchJson = if (!run.tracer.enabled) 0L else names.map { p =>
      jsonBytes(Providers.envelopes(run.spark, p, gen2, rev2.replicas(p).map(_.tag)))
    }.sum
    pass(run, "registry_resync", base) { root =>
      val committed = run.tracer.span("resync") { s =>
        s.counts("changed_json_bytes") = batchJson.toDouble
        names.flatMap { p =>
          val dest = root.resolve(p)
          run.op("upsert", p) {
            run.tracer.span(s"provider.$p") { _ =>
              commit(run,
                () => Providers.envelopes(run.spark, p, gen2,
                  rev2.replicas(p).map(_.tag)),
                batch => ResultStore.upsert(
                  ResultStore.read(run.spark, dest.toString), batch), dest)
            }
          }.map(p -> _)
        }.toMap
      }
      (committed, p => exp(p).rows * (rev1.factor(p) +
        rev2.replicas(p).count(r => !rev1.replicas(p).exists(_.tag == r.tag))))
    }
  }

  private val names = Registry.providers.map(_.name)

  private def envelopeJson =
    to_json(struct(col("identifier"), col("schema"), col("item")))

  /** Run the workload once: write the stores under `root` (`write` returns
    * each provider's manifest digest and the row count it must hold), then
    * run `Catalog.status` and a read-back that content-hashes every store,
    * the way a downstream DB build consumes them. Checks run after the
    * timed part. */
  private def pass(run: Run, workload: String, root: Path)(
      write: Path => (Map[String, String], String => Long)): Unit = {
    val (committed, wantRows) = write(root)
    val (status, content) = run.tracer.span("readback") { _ =>
      val status = run.op("catalog", "status") {
        run.tracer.span("sinks.catalog") { _ =>
          Catalog.status(run.spark, root.toString).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        }
      }.getOrElse(Map.empty)
      val content = names.flatMap { p =>
        run.op("readback", p) {
          run.tracer.span("sinks.read")(_ => contentOf(run, root.resolve(p)))
        }.map(p -> _)
      }.toMap
      (status, content)
    }
    run.wall = run.ops.map(_.wall).sum
    // output checks, outside the timed window
    names.foreach { p =>
      val want = Some(wantRows(p))
      val rows = ResultStore.manifestRows(root.resolve(p).toString)
      run.check(rows == want, p, s"$p holds $rows rows, expected ${want.get}")
      run.check(status.get(p) == want, p,
        s"$p status ${status.get(p)} rows, expected ${want.get}")
      run.check(content.get(p).map(_._1) == want, p,
        s"$p read back ${content.get(p).map(_._1)} rows, expected ${want.get}")
    }
    run.sameAsLastRun(s"$workload-${if (run.args.smoke) "smoke" else "full"}",
      names.map(p => p -> committed.getOrElse(p, "")) ++
        names.map(p => s"$p.content" -> content.get(p).fold("")(_._2.toString)))
    // on-disk bytes per canonical envelope byte, for the traced run
    run.tracer.spans.filter(s => s.parent == -1 && s.name != "readback" &&
        !s.name.startsWith("setup.")).lastOption.foreach { s =>
      val json = names.map(p => jsonBytes(ResultStore.read(run.spark,
        root.resolve(p).toString))).sum.toDouble
      s.counts("store_bytes_ratio") =
        names.map(p => run.treeBytes(root.resolve(p))).sum / math.max(1.0, json)
      s.counts.getOrElseUpdate("changed_json_bytes", json)
    }
    run.deleteTree(root)
  }
}

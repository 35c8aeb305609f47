package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Benchmark inputs for the registry workloads: the committed provider
  * fixtures, replicated. Replica 0 is the fixture verbatim; every other
  * replica carries a distinct three-digit tag spliced into each
  * identifier (CVE, advisory and OVAL ids), so replicas never collide
  * and every replica yields the fixture's envelope count. Tags are drawn
  * from the seed, so a seed fixes the inputs byte for byte. */
object Fixtures {

  /** Identifier prefixes whose trailing digit run takes the tag. */
  private val idRe = ("(?<![A-Za-z0-9])(" + Seq(
    "CVE-\\d{4}-", "ALAS-\\d{4}-", "ALSA-\\d{4}:", "AVG-", "ASA-\\d{6}-",
    "BIT-[a-z0-9]+-\\d{4}-", "DSA-", "FEDORA-\\d{4}-[a-z]*", "GO-\\d{4}-",
    "RHSA-\\d{4}:", "RLSA-\\d{4}:", "PHSA-\\d{4}-\\d+\\.\\d+-", "USN-",
    "TEMP-", "ELSA-\\d{4}-", "oval:[A-Za-z0-9.-]+:(?:def|tst|obj|ste):",
  ).mkString("|") + ")(\\d+)").r
  private val ghsaRe = "GHSA-[a-z0-9]{4}-".r
  /** A three-part dotted version; revision 2 bumps its last part. */
  private val versionRe = "(?<![\\d.])(\\d+)\\.(\\d+)\\.(\\d+)(?![\\d.])".r

  def retag(text: String, tag: Int): String =
    if (tag == 0) text
    else ghsaRe.replaceAllIn(
      idRe.replaceAllIn(text,
        m => Regex.quoteReplacement(m.group(1) + tag + m.group(2))),
      Regex.quoteReplacement(s"GHSA-x$tag-"))

  /** The revision-2 edit of a changed replica: same identifiers, every
    * three-part version bumped, as a source's daily update would. */
  def bumpVersions(text: String): String =
    versionRe.replaceAllIn(text, m =>
      s"${m.group(1)}.${m.group(2)}.${m.group(3).toInt + 1}")

  /** One replica of one provider's inputs. */
  final case class Replica(tag: Int, changed: Boolean)

  /** Replicas per provider for one revision of the source. */
  final case class Plan(replicas: Map[String, Seq[Replica]]) {
    def factor(p: String): Int = replicas(p).size
  }

  /** Revision 1: `factor(p)` replicas, tag 0 first, the rest seeded. */
  def revision1(seed: Long, factors: Map[String, Int]): Plan =
    Plan(factors.map { case (p, f) =>
      p -> (Replica(0, changed = false) +:
        tags(seed, p).take(f - 1).map(Replica(_, changed = false)))
    })

  /** Revision 2's batch: a seeded `changedShare` of the revision-1
    * replicas (at least one) with bumped versions, plus `newShare` new
    * replicas under unused tags. */
  def revision2(seed: Long, rev1: Plan, changedShare: Double,
      newShare: Double): Plan =
    Plan(rev1.replicas.map { case (p, reps) =>
      val f = reps.size
      val rnd = new scala.util.Random(seed * 31 + p.hashCode)
      val nChanged = math.max(1, math.round(changedShare * f).toInt)
      val nNew = math.round(newShare * f).toInt
      val changed = rnd.shuffle(reps).take(nChanged).map(_.copy(changed = true))
      val fresh = tags(seed, p).slice(f - 1, f - 1 + nNew)
        .map(Replica(_, changed = false))
      p -> (changed.sortBy(_.tag) ++ fresh)
    })

  /** Distinct seeded tags in [100, 999] for provider `p`. */
  private def tags(seed: Long, p: String): Seq[Int] =
    new scala.util.Random(seed * 1000003L + p.hashCode).shuffle((100 to 999).toVector)

  /** Write every replica of every provider under `dest/<provider>/r<tag>/`,
    * each holding the provider's fixture paths with identifiers retagged. */
  def write(fixtures: Path, dest: Path, plan: Plan,
      inputs: Map[String, Seq[String]]): Unit =
    plan.replicas.foreach { case (p, reps) =>
      reps.foreach { r =>
        val base = dest.resolve(p).resolve(f"r${r.tag}%03d")
        inputs(p).foreach { rel =>
          val src = fixtures.resolve(rel)
          val files =
            if (Files.isDirectory(src)) {
              val w = Files.walk(src)
              try w.iterator().asScala.filter(Files.isRegularFile(_)).toList
              finally w.close()
            } else List(src)
          files.foreach { f =>
            val out = base.resolve(fixtures.relativize(f).toString)
            Files.createDirectories(out.getParent)
            val text = retag(Files.readString(f, UTF_8), r.tag)
            Files.writeString(out, if (r.changed) bumpVersions(text) else text,
              UTF_8)
          }
        }
      }
    }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** One generated IMGT/HLA release flat file. */
final case class Release(id: String, path: Path, alleles: Int, bytes: Long,
    names: IndexedSeq[String])

/** Seeded release history plus the names reads ask for.
  *
  * @param releases base release first, then increments; each is a
  *                 nested prefix of one seeded ordering of the pool
  * @param absent   allele names of pool records that no release holds
  */
final case class Inputs(releases: IndexedSeq[Release],
    absent: IndexedSeq[String]) {

  /** Input properties for the run record. */
  def describe: Map[String, Any] = Map(
    "alleles_per_release" -> releases.map(_.alleles),
    "release_bytes" -> releases.map(_.bytes),
    "delta_share" -> releases.sliding(2).collect {
      case Seq(a, b) => (b.alleles - a.alleles).toDouble / b.alleles
    }.toSeq,
    "absent_names" -> absent.length,
    "sha256" -> Inputs.digest(releases.map(_.path)))
}

object Inputs {

  /** Release sizes: `base` alleles, then `increments` releases each
    * `growth` larger than the one before, like consecutive IMGT
    * releases. */
  def sizes(base: Int, growth: Double, increments: Int): IndexedSeq[Int] =
    (0 to increments).map(k => math.round(base * math.pow(1 + growth, k)).toInt)

  /** Order of the base release's records. The base release is the same
    * for every seed: the build turns it into a fixture once (see
    * [[Fixture]]), so no run pays for its cold GFE build. */
  val BaseSeed: Long = 0x6F5EL

  /** Write the release files under `dir`.
    *
    * The record pool comes from [[graft.gfe.SyntheticRelease]] and does
    * not depend on the seed. The base release holds the pool's first
    * `base` records in a fixed order; the seed picks which of the other
    * records each increment appends, and in which order, and which
    * are never released. Every release lists the records of the one
    * before it in the same order and appends new ones, so the
    * increments' file order (the build's `first_seen`) and accession
    * numbering follow the seed. Records never released supply absent
    * names. */
  def generate(dir: Path, seed: Long, base: Int, growth: Double,
      increments: Int, absentCount: Int): Inputs = {
    val n = sizes(base, growth, increments)
    val pool = poolRecords(n.last + absentCount)
    val order = shuffled(base, BaseSeed) ++
      shuffled(pool.length - base, seed).map(_ + base)
    Files.createDirectories(dir)
    val releases = n.zipWithIndex.map { case (size, k) =>
      val id = (3500 + 10 * k).toString
      val path = dir.resolve(s"hla.$id.dat")
      val picked = order.take(size).map(pool)
      Files.write(path, picked.mkString.getBytes(UTF_8))
      Release(id, path, size, Files.size(path), picked.map(nameOf))
    }
    Inputs(releases, order.drop(n.last).map(i => nameOf(pool(i))))
  }

  private def poolRecords(count: Int): IndexedSeq[String] = {
    val text = new String(
      Files.readAllBytes(graft.gfe.SyntheticRelease.materialize(count)), UTF_8)
    val recs = text.split("(?m)(?<=^//\n)").toIndexedSeq.filter(_.trim.nonEmpty)
    require(recs.length == count,
      s"pool holds ${recs.length} records, expected $count")
    recs
  }

  /** Fisher-Yates over 0 until n driven by java.util.Random, whose
    * sequence is fixed by its specification, so a seed means the same
    * ordering on every JVM. */
  def shuffled(n: Int, seed: Long): IndexedSeq[Int] = {
    val a = Array.tabulate(n)(identity)
    val rnd = new java.util.Random(seed)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }

  private val De = "(?m)^DE   ([^,]+),".r

  def nameOf(record: String): String =
    De.findFirstMatchIn(record).map(_.group(1))
      .getOrElse(sys.error("record without a DE line"))

  def digest(paths: Seq[Path]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    paths.foreach(p => md.update(Files.readAllBytes(p)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

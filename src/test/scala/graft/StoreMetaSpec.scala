package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.BucketStore.StoreMeta

/** One store-meta format for every bucket-store writer: each form on
  * disk — the one-line count (cdcApply, the dedup cluster state), the
  * two-line count + keys form (GraphStore tables, sink-created
  * stores), and the `bloom=` / `zones=` declaration lines — parses to
  * exactly what that form's former per-writer parser returned, and
  * writes back byte-identical to what its former writer wrote. */
class StoreMetaSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def lines(body: String) =
    body.linesIterator.filter(_.nonEmpty).toSeq

  // The per-writer parsers the one StoreMeta.parse replaced, verbatim
  // in what they returned.
  /** GraphStore's (count, keys, bloom bits, zones); legacy one-line
    * metas failed. */
  private def graphStoreParse(body: String) = {
    val ls = lines(body)
    require(ls.length >= 2, "legacy one-line store meta")
    (ls.head.trim.toInt, ls(1).split(',').toSeq,
      ls.drop(2).find(_.startsWith("bloom="))
        .map(_.stripPrefix("bloom=").trim.toInt),
      ls.drop(2).exists(_.startsWith("zones=")))
  }
  /** The SQL source's persisted keys (read by the sink too). */
  private def sourceKeys(body: String): Option[Seq[String]] = {
    val ls = lines(body)
    if (ls.length >= 2) Some(ls(1).split(',').map(_.trim).toSeq) else None
  }
  /** The SQL source's persisted bloom width (read by the sink too). */
  private def sourceBloom(body: String): Option[Int] =
    lines(body).drop(2).find(_.startsWith("bloom="))
      .map(_.stripPrefix("bloom=").trim.toInt)
  /** The sink's zone-map re-read. */
  private def sinkZones(body: String): Boolean =
    body.linesIterator.exists(_.startsWith("zones="))
  /** cdcApply's and the dedup state's count read. */
  private def countParse(body: String): Int = body.trim.toInt

  // (form, body as its former writer wrote it, expected meta)
  private val forms: Seq[(String, String, StoreMeta)] = Seq(
    ("one-line count (cdcApply, dedup)", "16\n", StoreMeta(16)),
    ("two-line count + key (GraphStore, sink)", "16\nname\n",
      StoreMeta(16, Some(Seq("name")))),
    ("two-line composite key", "8\nlocus,rank,term,accession\n",
      StoreMeta(8, Some(Seq("locus", "rank", "term", "accession")))),
    ("bloom declaration", "16\ndst\nbloom=131072\n",
      StoreMeta(16, Some(Seq("dst")), bloomBits = Some(131072))),
    ("zone-map declaration", "4\nsrc\nzones=*\n",
      StoreMeta(4, Some(Seq("src")), zones = true)),
    ("bloom and zone-map declarations", "4\nid\nbloom=4096\nzones=*\n",
      StoreMeta(4, Some(Seq("id")), Some(4096), zones = true)))

  forms.foreach { case (form, body, expect) =>
    test(s"store meta form: $form") {
      val m = StoreMeta.parse(body)
      assert(m == expect)
      // the writer side: the same bytes its former writer produced
      assert(m.body == body)
      // every former reader of this form sees the same values
      assert(m.keys == sourceKeys(body))
      assert(m.bloomBits == sourceBloom(body))
      assert(m.zones == sinkZones(body))
      if (m.keys.isEmpty) {
        assert(m.buckets == countParse(body))
        assert(intercept[IllegalArgumentException](graphStoreParse(body))
          .getMessage.contains("legacy one-line store meta"))
      } else
        assert((m.buckets, m.keys.get, m.bloomBits, m.zones) ==
          graphStoreParse(body))
    }
  }

  test("store meta: read/write round-trip on disk; absent meta is None") {
    val dir = java.nio.file.Files.createTempDirectory("store_meta").toString
    assert(StoreMeta.read(spark, dir).isEmpty)
    forms.foreach { case (_, body, expect) =>
      StoreMeta.write(spark, dir, expect)
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(StoreMeta.path(dir))), "UTF-8") == body)
      assert(StoreMeta.read(spark, dir).contains(expect))
    }
  }

  test("store meta: a declaration without keys is refused (it would " +
      "parse back as the key line)") {
    intercept[IllegalArgumentException](StoreMeta(4, bloomBits = Some(64)))
    intercept[IllegalArgumentException](StoreMeta(4, zones = true))
  }
}

package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.gfe.GfeBuild
import graft.graph.{GraphLoad, GraphStore}
import graft.ingest.ImgtFlatFile

/** The base release's GFE build, made once per build of the benchmark
  * (by [[Prime]]) and read back by every run.
  *
  * The base release does not depend on the seed (see [[Inputs]]), and
  * its scan and GFE build in a fresh JVM cost about as much as the
  * rest of a run together, nearly all of it one-off class loading,
  * JIT and code generation. So runs start from the built relations and
  * registry: anchored_reads loads them into a new store through
  * `GraphLoad.loadAll` and `GraphStore.init`, its release step, and
  * release_fold copies the store the build loaded them into and then
  * scans, builds and applies its increment itself. */
object Fixture {

  private val parts = Seq("gfe_sequences", "all_features", "all_groups", "registry")

  def dir(root: Path, size: Size): Path = root.resolve(s"base-${size.base}")

  /** Scan and build the base release of `size`, write the result under
    * `dir`, and load what was written into a new store there. Returns
    * the base release. */
  def write(spark: SparkSession, dir: Path, size: Size): Release = {
    val inputs = Inputs.generate(dir.resolve("inputs"), 0L, size.base,
      size.growth, 0, 0)
    val base = inputs.releases.head
    val recs = ImgtFlatFile.read(spark, base.path.toString)
    val r = GfeBuild.run(spark, recs, base.id)
    Seq(r.gfeSequences, r.allFeatures, r.allGroups, r.registry).zip(parts)
      .foreach { case (df, part) => df.write.parquet(dir.resolve(part).toString) }
    val (rels, _) = readParts(spark, dir, base.id)
    GraphStore.init(spark, store(dir).toString, GraphLoad.loadAll(spark, Seq(rels)))
    Files.writeString(dir.resolve("_done"), base.id)
    base
  }

  /** The base release's store, as [[write]] left it. */
  def store(dir: Path): Path = dir.resolve("store")

  /** The base release's relations and registry, as written by [[write]]. */
  def read(spark: SparkSession, dir: Path): (Workloads.Relations, DataFrame) = {
    require(Files.exists(dir.resolve("_done")),
      s"no base-release fixture at $dir; rebuild the benchmark")
    readParts(spark, dir, Files.readString(dir.resolve("_done")))
  }

  private def readParts(spark: SparkSession, dir: Path,
      release: String): (Workloads.Relations, DataFrame) = {
    val Seq(seqs, feats, groups, registry) =
      parts.map(p => spark.read.parquet(dir.resolve(p).toString))
    ((release, seqs, feats, groups), registry)
  }
}

package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** The one reader of an index snapshot's immutable state — the `meta`
  * row, the vector quantizer, each table's schema — read once per
  * snapshot, so a warm probe runs no meta, centroid or schema job.
  *
  * Key: the data root ([[IndexMaintenance.liveRoot]]) plus the sorted
  * (name, length, mtime) of the files under `<root>/meta`, from ONE
  * listStatus per call. Every committing verb (build, append, remove,
  * logicalRemove, compact, retrain) writes `meta` last under a fresh
  * part-file name, so a commit always changes the key; compact and
  * retrain also move the root. Per index dir only the current key's
  * entry is kept. Row data, file listings and the tombstone set are not
  * cached (appends add files under an unchanged schema). A probe that
  * overlaps a meta overwrite fails or succeeds as an uncached read. */
private[graft] object IndexSnapshot {

  final class Snapshot private[IndexSnapshot] (s: SparkSession, val root: String,
                                               private[IndexSnapshot] val key: Seq[(String, Long, Long)]) {
    lazy val meta: Row = s.read.parquet(s"$root/meta").head()

    /** The persisted quantizer, reassembled in cell order (nlist x dim). */
    lazy val centroids: Seq[Seq[Double]] =
      s.read.parquet(s"$root/centroids").collect()
        .groupBy(_.getAs[Int]("cell")).toSeq.sortBy(_._1)
        .map { case (_, rs) =>
          rs.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("value")).toSeq
        }

    private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

    /** `table`'s schema, inferred (one footer) on first use. */
    def schema(table: String): StructType =
      schemas.computeIfAbsent(table, t => s.read.parquet(s"$root/$t").schema)

    /** `table` read under its pinned schema: the file listing is fresh,
      * the schema inference job is gone. */
    def table(name: String): DataFrame =
      s.read.schema(schema(name)).parquet(s"$root/$name")

    /** [[table]] with its ingest-provenance `_src` column. One sampled
      * footer can lack `_src` on an index mixing pre-`_src` files with
      * tagged appends, which would hide the appended rows' provenance
      * and silently disable the probes' replay guard; only then (the
      * rare mixed-legacy index, which ensure() rebuilds anyway) is every
      * footer merged, per read. A fully pre-provenance index reads
      * `_src` as null. */
    def withSrc(name: String): DataFrame = {
      val pinned = table(name)
      val read =
        if (pinned.columns.contains("_src")) pinned
        else s.read.option("mergeSchema", "true").parquet(s"$root/$name")
      if (read.columns.contains("_src")) read
      else read.withColumn("_src", lit(null).cast("string"))
    }
  }

  private val live = new java.util.concurrent.ConcurrentHashMap[String, Snapshot]()

  /** The snapshot currently live under `indexDir`. */
  def apply(s: SparkSession, indexDir: String): Snapshot =
    at(s, indexDir, IndexMaintenance.liveRoot(s.sparkContext.hadoopConfiguration, indexDir))

  /** The snapshot under an already resolved `root` of `indexDir` (a
    * verb's root under its lease, a compact's source generation). */
  def at(s: SparkSession, indexDir: String, root: String): Snapshot = {
    val dir = new Path(s"$root/meta")
    val key = dir.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(dir)
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted.toSeq
    live.compute(IndexMaintenance.normalize(indexDir), (_, old) =>
      if (old != null && old.root == root && old.key == key) old
      else new Snapshot(s, root, key))
  }

  /** The meta fingerprint under `root`; None when meta is absent or
    * legacy, which reads as stale. */
  def fingerprint(s: SparkSession, indexDir: String, root: String): Option[(Long, Long)] =
    scala.util.Try(IndexMaintenance.fingerprintOf(at(s, indexDir, root).meta)).toOption.flatten
}

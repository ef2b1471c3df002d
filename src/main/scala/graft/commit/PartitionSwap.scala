package graft.commit

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The partition-swap commit protocol behind every in-place mutation
  * of a standing partitioned layer: takedown, the IVF/PQ index patch
  * and the `_delta` fold. Fresh content for each affected entry (a
  * partition dir, a subdir partition, a model sidecar file) is
  * written under the invisible `_takedown_tmp` while the live layer
  * stays readable; the `_TAKEDOWN_COMMIT` marker, one
  * `<hasFresh> <relativePath>` line per entry, is the commit point;
  * only then are live entries swapped (delete live, rename fresh in;
  * a flag-0 entry's new content is empty, so its live copy is
  * deleted). The marker is written under a staging name and renamed
  * into place, so it exists only complete: a tmp without it is
  * pre-commit garbage over an untouched layer.
  *
  * [[recover]] replays a committed tmp and discards an uncommitted
  * one; every maintenance entry runs it (through [[stage]]) before it
  * reads the layer, so a crash at any point converges on the next
  * entry to the pre-image or the post-image, never a mix. Untouched
  * partitions keep their files byte-for-byte. */
object PartitionSwap {

  val TmpName = "_takedown_tmp"
  val MarkerName = "_TAKEDOWN_COMMIT"
  private val MarkerStaging = "_TAKEDOWN_COMMIT.staging"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Execute (or re-execute) the swap of a COMMITTED tmp. Safe to
    * rerun from any crash point: live is deleted only when its fresh
    * replacement still sits in tmp, or when the flag proves the new
    * content is empty; a flag-1 entry whose fresh copy is gone was
    * already renamed into place and is left alone. */
  private def swap(fs: FileSystem, root: Path, tmp: Path,
                   entries: Seq[(String, Boolean)]): Unit =
    entries.foreach { case (rel, hasFresh) =>
      val live = new Path(root, rel)
      val fresh = new Path(tmp, rel)
      if (hasFresh) {
        if (fs.exists(fresh)) {
          if (fs.exists(live)) fs.delete(live, true)
          require(fs.rename(fresh, live),
            s"swap rename $fresh -> $live failed")
        }
      } else if (fs.exists(live)) fs.delete(live, true)
    }

  /** Entry-time crash recovery for the layer at `dir`: a leftover tmp
    * WITH its marker is the authoritative source of an interrupted
    * swap and is finished; without it no live entry was touched and
    * the tmp is cleared. Public so operators can force recovery
    * before serving after a suspected crash. */
  def recover(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    val tmp = new Path(root, TmpName)
    if (!fs.exists(tmp)) return
    val marker = new Path(tmp, MarkerName)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val text = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
        buf.toString("UTF-8")
      } finally in.close()
      swap(fs, root, tmp, text.split("\n").iterator.map(_.trim)
        .filter(_.nonEmpty).map { line =>
          val (flag, rel) = line.span(_ != ' ')
          (rel.drop(1), flag == "1")
        }.toSeq)
    }
    fs.delete(tmp, true)
    spark.catalog.refreshByPath(dir)
  }

  /** [[recover]] the layer, then return its tmp path, empty (nothing
    * exists there): write each entry's fresh content at `tmp/<rel>`,
    * then [[commit]]. */
  def stage(spark: SparkSession, dir: String): Path = {
    recover(spark, dir)
    new Path(new Path(dir), TmpName)
  }

  /** Commit and apply the staged mutation of `dir`. Each of `rels`
    * gets its has-fresh flag from whether `tmp/<rel>` exists (a rel
    * without fresh content is deleted by the swap). `sidecar` (file
    * name, text) is staged into tmp and swapped in last as one more
    * entry, so a model file advances together with its partitions
    * and never appears truncated. */
  def commit(spark: SparkSession, dir: String, rels: Seq[String],
             sidecar: Option[(String, String)] = None): Unit = {
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    val tmp = new Path(root, TmpName)
    sidecar.foreach { case (name, text) =>
      writeText(fs, new Path(tmp, name), text)
    }
    val entries = (rels ++ sidecar.map(_._1))
      .map(rel => rel -> fs.exists(new Path(tmp, rel)))
    val staging = new Path(tmp, MarkerStaging)
    writeText(fs, staging, entries.map { case (rel, hasFresh) =>
      s"${if (hasFresh) 1 else 0} $rel"
    }.mkString("", "\n", "\n"))
    require(fs.rename(staging, new Path(tmp, MarkerName)),
      s"commit marker rename under $tmp failed")
    swap(fs, root, tmp, entries)
    fs.delete(tmp, true)
    spark.catalog.refreshByPath(dir)
  }
}

package graft

import graft.commit.PartitionSwap
import graft.llm._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Crash-point sweep over every operation that commits through
  * [[PartitionSwap]]: each run fails the k-th mutating filesystem call
  * of the operation ([[CrashFileSystem]]), for every k from the first
  * call until a run completes. After each crash, recovery must leave
  * the layer's rows and its model sidecar equal to either the
  * pre-image or the post-image — never a mix, a duplicate, a loss or
  * a truncated file. */
class CommitSweepSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Graft.builder(4, "commit-sweep-spec")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.hadoopConfiguration.set("fs.crashfs.impl",
      classOf[CrashFileSystem].getName)
    s
  }

  private def scratch(name: String): String = {
    val dir = s"${graft.Scratch.root}/commit_sweep_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  /** A layer's observable state: the sorted rows of each parquet
    * subtree in `parts` ("" = the layer root; a subtree without data
    * files reads as absent) and the text of each sidecar file. */
  private def image(dir: String, parts: Seq[String],
                    sidecars: Seq[String]): Seq[Any] = {
    def hasData(d: java.io.File): Boolean =
      d.isDirectory && d.listFiles().exists(f =>
        !f.getName.startsWith("_") && !f.getName.startsWith(".") &&
          (f.getName.endsWith(".parquet") || hasData(f)))
    parts.map { p =>
      val d = if (p.isEmpty) dir else s"$dir/$p"
      if (!hasData(new java.io.File(d))) None
      else Some(spark.read.parquet(d).collect().map(_.toString)
        .sorted.toSeq)
    } ++ sidecars.map { n =>
      val f = new java.io.File(s"$dir/$n")
      if (f.exists) Some(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      else None
    }
  }

  /** Sweep one operation: `build` writes the pristine layer into the
    * given dir; `op` mutates the layer at the given `crashfs://` URI.
    * Returns (crash points, recoveries to the pre-image, recoveries
    * to the post-image). */
  private def sweep(name: String, parts: Seq[String],
                    sidecars: Seq[String])(build: String => Unit)
                   (op: String => Any): (Int, Int, Int) = {
    val pristine = scratch(s"${name}_pristine")
    build(pristine)
    val work = scratch(name)
    val uri = s"crashfs://sweep$work"
    def run(k: Int): (Int, Boolean) = {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(work))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(pristine), new java.io.File(work))
      spark.catalog.refreshByPath(uri)
      CrashFileSystem.arm(k)
      val outcome = scala.util.Try(op(uri))
      val (calls, crashed) = CrashFileSystem.disarm()
      if (!crashed) outcome.get
      (calls, crashed)
    }
    val pre = image(pristine, parts, sidecars)
    val (n, crashed) = run(Int.MaxValue)
    assert(!crashed && n > 0, s"$name: a complete run mutates")
    val post = image(work, parts, sidecars)
    assert(post != pre, s"$name: the operation must change the layer")
    var (toPre, toPost) = (0, 0)
    for (k <- 1 to n) {
      assert(run(k)._2, s"$name: crash point $k of $n must fire")
      PartitionSwap.recover(spark, uri)
      assert(!new java.io.File(s"$work/${PartitionSwap.TmpName}")
        .exists(), s"$name k=$k: recovery clears the tmp")
      val got = image(work, parts, sidecars)
      if (got == pre) toPre += 1
      else if (got == post) toPost += 1
      else fail(s"$name: crash at call $k of $n recovered to neither " +
        s"image:\n$got\npre:  $pre\npost: $post")
    }
    assert(toPre > 0 && toPost > 0,
      s"$name: the sweep must cross the commit point ($toPre/$toPost)")
    info(s"$name: $n crash points, $toPre recovered to the pre-image, " +
      s"$toPost to the post-image")
    (n, toPre, toPost)
  }

  private def pad(v: Seq[Double]) = v.padTo(8, 0.0)
  private def vec(x: Float, y: Float) = Seq(x, y).padTo(8, 0.0f)
  private val oldCents =
    Seq(pad(Seq(0.0, 0.0)), pad(Seq(10.0, 0.0)), pad(Seq(100.0, 100.0)))

  private def ivfIndex(dir: String): Unit = {
    import spark.implicits._
    Similarity.ivfWriteIndex(Seq((1L, vec(1f, 0f)), (2L, vec(7f, 0f)),
        (3L, vec(100f, 99f))).toDF("vec_id", "embedding"),
      oldCents, dir)
  }

  test("layerTakedown: every crash point recovers to the pre- or " +
       "post-image (one partition emptied, one rewritten)") {
    import spark.implicits._
    sweep("layer", Seq(""), Nil) { dir =>
      Seq((0L, 1L, "a"), (0L, 2L, "b"), (1L, 3L, "c"), (2L, 4L, "d"))
        .toDF("ingest_batch", "doc_id", "text")
        .write.partitionBy("ingest_batch").parquet(dir)
    } { uri =>
      Takedown.layerTakedown(spark, uri, Seq(2L, 3L).toDF("doc_id"),
        "doc_id")
    }
  }

  test("bm25Takedown: postings, stats and termdf cross every crash " +
       "point together") {
    import spark.implicits._
    sweep("bm25", Seq("postings", "stats", "termdf"), Nil) { dir =>
      TextAnalysis.bm25PostingsBatch(Seq((1L, "red fox"),
        (2L, "blue fox")).toDF("doc_id", "text"), dir, batchId = 0L)
      TextAnalysis.bm25PostingsBatch(Seq((3L, "red hen"))
        .toDF("doc_id", "text"), dir, batchId = 1L)
    } { uri =>
      Takedown.bm25Takedown(spark, uri, Seq(2L, 3L).toDF("doc_id"))
    }
  }

  test("ivfCompactDelta: the delta fold crosses every crash point " +
       "without losing or doubling a row") {
    import spark.implicits._
    sweep("compact", Seq("", "_delta"), Nil) { dir =>
      ivfIndex(dir)
      Similarity.ivfAppendBatch(spark, dir, Seq((4L, vec(2f, 0f)),
        (5L, vec(99f, 100f))).toDF("vec_id", "embedding"), batchId = 0L)
    } { uri =>
      Similarity.ivfCompactDelta(spark, uri)
    }
  }

  test("ivfPatchIndex: moved rows and the centroid sidecar cross " +
       "every crash point together") {
    val newCents =
      Seq(pad(Seq(6.0, 0.0)), pad(Seq(10.0, 0.0)), pad(Seq(100.0, 100.0)))
    sweep("patch", Seq(""), Seq("_centroids.txt"))(ivfIndex) {
      uri =>
        assert(Similarity.ivfPatchIndex(spark, uri, newCents) ==
          ((1L, 2L)))
    }
  }

  test("ivfPatchIndex that moves no row: the sidecar advances under " +
       "a commit, never truncated") {
    val newCents =
      Seq(pad(Seq(0.0, 0.0)), pad(Seq(10.0, 0.0)), pad(Seq(100.0, 101.0)))
    sweep("patch_nomove", Seq(""), Seq("_centroids.txt"))(
        ivfIndex) { uri =>
      assert(Similarity.ivfPatchIndex(spark, uri, newCents) ==
        ((0L, 0L)))
    }
  }
}

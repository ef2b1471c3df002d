package graft.access

import graft.model._
import graft.serial.Formats
import graft.task.{PTask, RunCtx}
import graft.loc.LocTemplate
import java.net.URI
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** The IO access operators: virtual-file reads/writes with layer-merge
  * semantics (reference VirtualFileAccess.hs + PorcupineTree.hs:573-642).
  *
  * All reads stay declarative: a load is a lazy DataFrame whose scan
  * carries pushed filters/pruned columns; a multi-layer read is a
  * `unionByName` plan (or the entry's custom merge), not a driver loop.
  */
object Access {

  /** Per-access audit log — reference `VFileImportance` / access
    * logging with severities + timing (VF:84-94, PTREE:585-600). Every
    * virtual-file read/write logs (vpath, locations, duration). */
  private val auditLog = org.slf4j.LoggerFactory.getLogger("graft.access")
  private def audited[T](op: String, vf: VirtualFile,
                         locs: Seq[LocTemplate])(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    auditLog.info(f"$op ${vf.path} -> [${locs.mkString(", ")}] " +
      f"(${(System.nanoTime() - t0) / 1e9}%.3fs)")
    r
  }

  /** Read one layer through the format implied by its extension.
    * Scheme dispatch: http(s) layers go through the [[Http]] accessor
    * (an HTTP URL is a first-class location for any virtual file,
    * reference HTTP.hs:58-153); everything else through the Hadoop FS
    * registry via the format's Spark reader. */
  private def readLayer(spark: SparkSession, vf: VirtualFile,
                        loc: LocTemplate): DataFrame = {
    val ext = loc.dataExtension.getOrElse(vf.defaultExt)
    if (loc.isHttp) Http.readLocation(spark, loc, ext, vf.schema)
    else Formats(ext).read(spark, Seq(loc.raw), vf.schema)
  }

  /** Core read with the reference's layered-read semantics
    * (PorcupineTree.hs:614-636):
    *  - SingleLayer: last bound layer wins (warn if several);
    *  - Layered: fold layers with the entry's merge, default as base;
    *  - LayeredWithNull: zero layers -> embedded default or empty DF.
    */
  def readVF(ctx: RunCtx, vf: VirtualFile): DataFrame =
    audited("read", vf, ctx.layers(vf.path))(readVF0(ctx, vf))

  private def readVF0(ctx: RunCtx, vf: VirtualFile): DataFrame = {
    val spark = ctx.spark
    val layers = ctx.layers(vf.path)
    def default: Option[DataFrame] = vf.embeddedDefault.map(_(spark))
    vf.readScheme match {
      case ReadScheme.SingleLayer =>
        if (layers.size > 1)
          auditLog.warn(s"${vf.path}: ${layers.size} layers bound to a " +
            s"SingleLayer entry; using the LAST (${layers.last})")
        layers.lastOption.map(readLayer(spark, vf, _))
          .orElse(default)
          .getOrElse(throw new IllegalStateException(
            s"read of unbound ${vf.path} (no default)"))
      case ReadScheme.Layered | ReadScheme.LayeredWithNull =>
        val dfs = default.toSeq ++ layers.map(readLayer(spark, vf, _))
        if (dfs.nonEmpty) dfs.reduceLeft(vf.merge(_, _))
        else if (vf.readScheme == ReadScheme.LayeredWithNull)
          vf.schema.map(s => spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
            .getOrElse(spark.emptyDataFrame)
        else throw new IllegalStateException(
          s"Layered read of ${vf.path}: no layers bound and no default")
    }
  }

  /** Write to EVERY bound layer (reference semantics,
    * PorcupineTree.hs:602-613). An unbound sink is skipped (dead-sink
    * elimination, VFA:306-313) — and because DataFrames are lazy, the
    * producing sub-plan is then never executed either. */
  def writeVF(ctx: RunCtx, vf: VirtualFile, df: DataFrame): Unit =
    audited("write", vf, ctx.layers(vf.path))(writeVF0(ctx, vf, df))

  private def writeVF0(ctx: RunCtx, vf: VirtualFile, df: DataFrame): Unit =
    // format dispatch on the DATA extension; a compression suffix
    // (.txt.gz) turns into the writer's codec option — the reference's
    // zlib-wrapped serials work on the write side too
    forEachLayer(ctx.layers(vf.path), df) { (target, l) =>
      val ext = l.dataExtension.getOrElse(vf.defaultExt)
      if (l.isHttp) Http.writeLocation(target, l, ext)
      else Formats(ext).write(target, l.raw, l.compressionCodec)
    }

  /** Write `df` to each layer; with several, persist it once so its
    * plan runs once for N writes. */
  private def forEachLayer(layers: Seq[LocTemplate], df: DataFrame)(
      writeOne: (DataFrame, LocTemplate) => Unit): Unit = layers match {
    case Seq()       => ()
    case Seq(single) => writeOne(df, single)
    case many =>
      val cached = df.persist()
      try many.foreach(writeOne(cached, _))
      finally { cached.unpersist(); () }
  }

  /** `loadData` (VFA:73-83): task reading a virtual file. */
  def loadData(vf: VirtualFile): PTask[Any, DataFrame] =
    PTask(Catalog.of(vf.copy(usage = Usage.Source)),
      (ctx, _) => readVF(ctx, vf))

  /** `writeData` (VFA:126-136): task writing a virtual file. */
  def writeData(vf: VirtualFile): PTask[DataFrame, Unit] =
    PTask(Catalog.of(vf.copy(usage = Usage.Sink)),
      (ctx, df) => writeVF(ctx, vf, df))

  /** Balanced sharded sink — the output-file-sizing planner a
    * 100 TB write needs: per `partitionCol` value, estimate bytes
    * from the caller's `bytesPerRow` expression, plan
    * `ceil(bytes / targetBytes)` shards, route rows to shards by a
    * deterministic hash, and repartition by (partition, shard) so
    * each shard lands as ONE file of ~targetBytes under its
    * `partitionCol=<v>/` directory. Without this, a skewed source
    * writes one multi-GB file per big partition (unsplittable
    * downstream hot spots) or thousands of KB files per small one
    * (namenode pressure + open-cost-dominated scans).
    *
    * Mechanics: the shard plan is a |partitions|-row aggregate to
    * the driver (the rate-table device); the input is cached ONCE
    * and each partition value writes with an EXACT
    * `repartition(n_shards)` (round-robin → exactly n files) — one
    * corpus scan, |partitions| small write jobs, total shuffled
    * bytes = the corpus, i.e. the same volume a single balanced
    * repartition would move, but with per-value exactness a global
    * hash shuffle cannot give (hash-sharing of tasks merges shards
    * unpredictably). Returns the plan
    * `(partition value, est_bytes, n_shards)` for the caller's
    * manifest. */
  def writeShardedBalanced(df: DataFrame, path: String,
                           partitionCol: String, bytesPerRow: Column,
                           targetBytes: Long = 256L << 20)
      : Seq[(String, Long, Int)] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val parent = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val plan = parent
        .groupBy(col(partitionCol).cast("string").as("_p"))
        .agg(sum(bytesPerRow.cast("long")).as("_b")).collect()
        .map { r =>
          val b = math.max(0L, r.getLong(1))
          (r.getString(0), b,
            math.max(1L, (b + targetBytes - 1) / targetBytes).toInt)
        }.toSeq
      plan.foreach { case (p, _, n) =>
        // partition value lives in the directory name (Hive layout);
        // dropping the column from the files keeps read-back clean
        parent.filter(col(partitionCol).cast("string") === p)
          .repartition(n)
          .drop(partitionCol)
          .write.mode("overwrite")
          .parquet(s"$path/$partitionCol=$p")
      }
      plan
    } finally { parent.unpersist(); () }
  }

  /** `writeEffData` (VFA:141-148): lazily-produced write, the producer
    * thunk is only forced if the sink is bound. */
  def writeEffData(vf: VirtualFile): PTask[() => DataFrame, Unit] =
    PTask(Catalog.of(vf.copy(usage = Usage.Sink)),
      (ctx, thunk) => if (ctx.isBound(vf.path)) writeVF(ctx, vf, thunk()))

  /** The per-index locations of an indexed access: the LAST bound
    * layer (as for a SingleLayer read) with `{varName}` spliced. */
  private def occurrences(op: String, ctx: RunCtx, vf: VirtualFile,
                          varName: String, indices: Seq[String])
      : Seq[(String, LocTemplate)] = {
    val layers = ctx.layers(vf.path)
    require(layers.nonEmpty, s"$op: ${vf.path} unbound")
    if (layers.size > 1)
      auditLog.warn(s"$op ${vf.path}: ${layers.size} layers " +
        s"bound; indexed reads use the LAST template (${layers.last})")
    indices.map(i => i -> layers.last.splice(Map(varName -> i)))
  }

  /** One occurrence read on its own, tagged with its index. */
  private def readOne(spark: SparkSession, vf: VirtualFile,
                      indexCol: String)(idx: String, l: LocTemplate)
      : DataFrame =
    readLayer(spark, vf, l).withColumn(indexCol, lit(idx))

  /** Every occurrence in ONE scan through the entry's format, each row
    * tagged with the index whose location holds the row's file
    * (`_metadata.file_path`). A location is a single file or a Spark
    * output directory, so a file belongs to the location equal to it
    * or enclosing it. None where one scan cannot stand for the
    * per-index reads: http(s) layers, a merge other than UnionByName,
    * a format that differs per index, two indices sharing a location
    * or one location inside another, or a format that reads no files
    * (yaml parses on the driver). */
  private def scanIndexed(spark: SparkSession, vf: VirtualFile,
                          occ: Seq[(String, LocTemplate)],
                          indexCol: String): Option[DataFrame] = {
    val exts = occ.map(_._2.dataExtension.getOrElse(vf.defaultExt)).distinct
    if (vf.merge != MergeStrategy.UnionByName || exts.size != 1 ||
        occ.exists(_._2.isHttp)) return None
    val conf = spark.sparkContext.hadoopConfiguration
    val qualified = occ.map { case (idx, l) =>
      val p = new Path(l.raw)
      idx -> p.getFileSystem(conf).makeQualified(p)
    }
    val owner = qualified.map { case (idx, p) => LocTemplate.pathKey(p) -> idx }.toMap
    def ownerOf(p: Path): Option[String] =
      Iterator.iterate(p)(_.getParent).takeWhile(_ != null)
        .flatMap(a => owner.get(LocTemplate.pathKey(a))).nextOption()
    val nested = qualified.exists { case (_, p) =>
      Option(p.getParent).flatMap(ownerOf).isDefined }
    if (owner.size != occ.size || nested) return None
    val df = Formats(exts.head).read(spark, occ.map(_._2.raw), vf.schema)
    def fileOwner(f: String) = ownerOf(new Path(new URI(f)))
    scala.util.Try(df.metadataColumn("_metadata")).toOption
      .filter(_ => df.inputFiles.forall(fileOwner(_).isDefined)) // not for globs
      .map { meta =>
        // rows of one file arrive together: resolve each file once
        val seen = new java.util.concurrent.ConcurrentHashMap[String, String]
        val tag = udf((f: String) => seen.computeIfAbsent(f, fileOwner(_).get))
        df.withColumn(indexCol, tag(meta.getField("file_path")))
      }
  }

  /** `loadDataList`/`loadDataStream` (VFA:89-111): read N indexed
    * occurrences of a `{var}`-templated file AS ONE DataFrame with an
    * index column — the scale-friendly batching of the reference's
    * per-index repetition (SURVEY §3.3). The occurrences are one
    * multi-path scan, so schema inference and the scan are one job
    * each however many indices there are; the index of a row comes
    * from the file it was read from. Where one scan cannot stand for
    * the per-index reads (see [[scanIndexed]]: http(s) layers, a
    * keyed or custom merge, ...) each occurrence is read on its own
    * and the reads fold with the entry's merge. Schemas: JSON infers
    * one schema over every file and parquet/orc merge their footers,
    * as the per-index `unionByName` did; CSV takes its columns from
    * the header by position. */
  def loadIndexed(vf: VirtualFile, varName: String,
                  indexCol: String = "rep_index")
      : PTask[Seq[String], DataFrame] =
    PTask(Catalog.of(vf.copy(usage = Usage.Source)), (ctx, indices) => {
      require(indices.nonEmpty, s"loadIndexed: ${vf.path} read over no indices")
      val occ = occurrences("loadIndexed", ctx, vf, varName, indices)
      scanIndexed(ctx.spark, vf, occ, indexCol).getOrElse(occ
        .map((readOne(ctx.spark, vf, indexCol) _).tupled)
        .reduceLeft(vf.merge(_, _)))
    })

  /** `writeDataList`/`writeDataStream` (VFA:156-176): write a DataFrame
    * out as one occurrence per distinct value of `indexCol`, at the
    * location with that value spliced into `{varName}`. Per bound
    * layer: ONE partitioned write through the entry's format into a
    * staging directory beside the location, then each
    * `<indexCol>=<value>/` directory moves to its spliced location,
    * replacing it whole — what a per-index overwrite write leaves,
    * from one job instead of one per index. The index column is not
    * in the files (the location names it). Several layers persist
    * `df` once, as [[writeVF]] does. An index value with no rows
    * writes nothing; a null index value fails before any move. */
  def writeIndexed(vf: VirtualFile, varName: String,
                   indexCol: String = "rep_index")
      : PTask[DataFrame, Unit] =
    PTask(Catalog.of(vf.copy(usage = Usage.Sink)), (ctx, df) => {
      val layers = ctx.layers(vf.path)
      audited("writeIndexed", vf, layers)(forEachLayer(layers, df) {
        (target, tmpl) => writeIndexedLayer(vf, tmpl, varName, indexCol, target)
      })
    })

  private def writeIndexedLayer(vf: VirtualFile, tmpl: LocTemplate,
                                varName: String, indexCol: String,
                                df: DataFrame): Unit = {
    val hole = tmpl.raw.indexOf(s"{$varName}")
    require(hole >= 0 && !tmpl.isHttp,
      s"writeIndexed ${vf.path}: $tmpl is no file location with {$varName}")
    // staging in the directory above the first spliced segment: the
    // moves are renames within the sink's filesystem
    val dir = tmpl.raw.substring(0, tmpl.raw.lastIndexOf('/', hole) + 1)
    val staging = new Path(s"${dir}_indexed-${java.util.UUID.randomUUID}")
    val fs = staging.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    try {
      Formats(tmpl.dataExtension.getOrElse(vf.defaultExt))
        .writePartitioned(df, staging.toString, indexCol,
          tmpl.compressionCodec)
      val parts = fs.listStatus(staging).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$indexCol="))
        .map(s => s.getPath -> ExternalCatalogUtils.unescapePathName(
          s.getPath.getName.stripPrefix(s"$indexCol=")))
      require(!parts.exists(_._2 == ExternalCatalogUtils.DEFAULT_PARTITION_NAME),
        s"writeIndexed ${vf.path}: null values in $indexCol")
      parts.foreach { case (src, v) =>
        val dst = new Path(tmpl.splice(Map(varName -> v)).raw)
        fs.delete(dst, true)
        fs.mkdirs(dst.getParent)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"writeIndexed: move $src -> $dst failed")
      }
    } finally { fs.delete(staging, true); () }
  }

  /** `writeDataFold` (VFA:180-182): a fold whose STEP writes each
    * incoming element to the virtual file — the reference composes it
    * as `premapInitA (arr $ const ()) $ arrowFold (arr snd >>> writeData
    * vf)`, and this is the same composition over this repo's fold/task
    * algebra: [[graft.rep.Repetition.foldlTask]] with a unit
    * accumulator and `snd >>> writeData` as the step. Each element's
    * index binds `varName`, so a `{varName}`-templated location writes
    * one file per element (unbound sink = every write skipped, as with
    * [[writeData]]). */
  def writeDataFold(vf: VirtualFile, varName: String = "idx")
      : PTask[Seq[(String, DataFrame)], Unit] = {
    val step: PTask[(Unit, DataFrame), Unit] =
      PTask.arr((p: (Unit, DataFrame)) => p._2) >>> writeData(vf)
    PTask.arr((xs: Seq[(String, DataFrame)]) => ((), xs)) >>>
      graft.rep.Repetition.foldlTask(varName, step)
  }

  /** `getLocsMappedTo` (VFA:389-405): catalog query. */
  def locsMappedTo(p: VPath): PTask[Any, Seq[String]] =
    PTask.task((ctx, _) => ctx.layers(p).map(_.raw))

  /** Access several nodes under one virtual folder — reference
    * `withFolderDataAccessNodes` (VFA:360-383): declare every given
    * source under `folder`, read them all, return entry-name ->
    * DataFrame. */
  def loadFolder(folder: VPath, sources: Seq[VirtualFile])
      : PTask[Any, Map[String, DataFrame]] = {
    val rooted = sources.map { vf =>
      vf.copy(path = VPath(folder.segments ++ vf.path.segments),
        usage = Usage.Source)
    }
    PTask(Catalog.of(rooted: _*), (ctx, _) =>
      rooted.map(vf => vf.path.segments.last -> readVF(ctx, vf)).toMap)
  }

  /** Reified reader: the bound paths (= the content-hash cache key,
    * PorcupineTree.hs:123-129) plus a read closure — reference
    * `getDataReader`/`getDataAccessorFn` (VFA:186-212), for handing an
    * accessor into a memoized stage. */
  final case class DataReader(paths: Seq[String], read: () => DataFrame)

  /** Reified writer — reference `getDataWriter` (VFA:186-212). */
  final case class DataWriter(paths: Seq[String], write: DataFrame => Unit)

  def getDataReader(vf: VirtualFile): PTask[Any, DataReader] =
    PTask(Catalog.of(vf.copy(usage = Usage.Source)), (ctx, _) =>
      DataReader(ctx.layers(vf.path).map(_.raw), () => readVF(ctx, vf)))

  def getDataWriter(vf: VirtualFile): PTask[Any, DataWriter] =
    PTask(Catalog.of(vf.copy(usage = Usage.Sink)), (ctx, _) =>
      DataWriter(ctx.layers(vf.path).map(_.raw),
        df => writeVF(ctx, vf, df)))

  /** Permissive indexed load — reference `tryLoadDataStream`
    * (VFA:114-122): per-index failures become empty slices recorded in
    * the returned (index -> error) map instead of failing the whole
    * read. Each location is first probed for existence; the present
    * ones are read as [[loadIndexed]] reads them, in one scan. Where
    * that scan cannot run or fails (an unreadable file), each present
    * occurrence is read on its own and its failure recorded. */
  def tryLoadIndexed(vf: VirtualFile, varName: String,
                     indexCol: String = "rep_index")
      : PTask[Seq[String], (DataFrame, Map[String, String])] =
    PTask(Catalog.of(vf.copy(usage = Usage.Source)), (ctx, indices) => {
      val spark = ctx.spark
      val conf = spark.sparkContext.hadoopConfiguration
      val occ = occurrences("tryLoadIndexed", ctx, vf, varName, indices)
      val (present, missing) = occ.partition { case (_, l) =>
        l.isHttp || {
          val p = new Path(l.raw)
          Option(p.getFileSystem(conf).globStatus(p)).exists(_.nonEmpty)
        }
      }
      val missingErrs = missing.map { case (idx, l) =>
        idx -> s"java.io.FileNotFoundException: ${l.raw} does not exist" }
      val scanned =
        if (present.isEmpty) None
        else scala.util.Try(scanIndexed(spark, vf, present, indexCol))
          .toOption.flatten
      scanned match {
        case Some(df) => (df, missingErrs.toMap)
        case None =>
          val results = present.map { case (idx, l) =>
            scala.util.Try(readOne(spark, vf, indexCol)(idx, l))
              .toEither.left.map(e => idx -> e.toString)
          }
          val dfs = results.collect { case Right(df) => df }
          val errs = results.collect { case Left(e) => e }
          val merged =
            if (dfs.nonEmpty) dfs.reduceLeft(vf.merge(_, _))
            else spark.emptyDataFrame
          (merged, (missingErrs ++ errs).toMap)
      }
    })

  /** Recursive folder listing as a DataFrame — reference
    * `streamFolder` (TaskPipelineUtils.hs:49-65). Uses the Hadoop FS
    * API so it works on any supported scheme (file:/s3a:/hdfs:). */
  def listFolder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    val rows = Iterator.continually(it)
      .takeWhile(_.hasNext)
      .map { i =>
        val st = i.next()
        (st.getPath.toString, st.getLen, st.getModificationTime)
      }.toSeq
    rows.toDF("path", "length", "mtime")
  }

  /** Cached load: memoize an expensive source (e.g. HTTP) keyed by its
    * resolved locations + fingerprints (reference `usesCacherWithIdent`
    * on a vfile, VF:270-274; key fidelity per PorcupineTree.hs:123-129). */
  def loadDataCached(vf: VirtualFile, salt: String = ""): PTask[Any, DataFrame] =
    PTask(Catalog.of(vf.copy(usage = Usage.Source)), (ctx, _) =>
      ctx.cache match {
        case Some(memo) =>
          val locs = ctx.layers(vf.path).map(_.raw)
          val key = memo.keyOf(
            Seq("loadData", vf.path.toString, salt) ++ locs ++
              locs.map(memo.fingerprint))
          memo.getOrElseUpdate(key)(readVF(ctx, vf))
        case None => readVF(ctx, vf)
      })
}

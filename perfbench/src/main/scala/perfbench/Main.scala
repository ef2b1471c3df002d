package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation: the benchmark's single client calls the
  * program, waits for the result, and checks it. */
final case class OpRec(name: String, pass: Int, startMs: Long, endMs: Long,
                       constructS: Double, planS: Double, executeS: Double,
                       latencyS: Double, rows: Long, digest: String,
                       ok: Boolean, error: String, pinsLeaked: Int,
                       extra: Map[String, Double])

/** Runs one workload in this JVM and writes the raw record (setup
  * times, every op, layer counters, spans) as JSON for run.py. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, t0Ms: Long,
                        out: String, cores: Int, inputCache: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--work"), get("--t0-ms").toLong,
      get("--out"), get("--cores").toInt, get("--inputs"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val memoRoot = s"${a.work}/memo"
    val spark = graft.Graft.builder(a.cores, "perfbench")
      .config("spark.ui.enabled", "false")
      // the hash family production runs use (Bench does the same)
      .config(graft.functions.SketchOps.FamilyKey, "xx")
      .config(graft.queries.LlmQueries.MemoRootKey, memoRoot)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val counters = new Counters
    if (a.trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    val run = new Run(spark, a, new Tracer(a.trace))
    val wl: Workload = a.workload match {
      case "llm_f16"      => new LlmF16(run)
      case "pipeline_cli" => new PipelineCli(run)
      case other          => sys.error(s"unknown workload $other")
    }
    run.tracer.span("setup") {
      run.tracer.span("inputs")(wl.generate())
      run.tracer.span("warmup")(run.timedWarmup(wl.warmup()))
    }
    val timedStartMs = System.currentTimeMillis()
    run.tracer.span("timed")(wl.timed(System.nanoTime() + a.seconds * 1000000000L))
    val timedEndMs = System.currentTimeMillis()
    if (a.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val written = Run.filesUnder(Seq(s"${a.work}/scratch", memoRoot,
      run.outDir), timedStartMs)
    val rec = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> a.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "launch_s" -> (sessionMs - a.t0Ms) / 1000.0,
      "to_timed_s" -> (timedStartMs - a.t0Ms) / 1000.0,
      "inputs_s" -> run.inputSecs.toSeq,
      "prepare_s" -> run.prepareS, "warmup_s" -> run.warmupS,
      "ops_per_pass" -> wl.opsPerPass, "rows_in" -> run.rowsIn,
      "warmup_failures" -> run.warmupFailures.toSeq.map { case (n, e) =>
        Json.obj("name" -> n, "error" -> e) },
      "timed_start_ms" -> timedStartMs, "timed_end_ms" -> timedEndMs,
      "files_written" -> written._1, "bytes_written" -> written._2,
      "ops" -> run.records.toSeq.map(Json.op),
      "side" -> run.sideTimes.toSeq.map { case (n, t) =>
        Json.obj("name" -> n, "s" -> t) },
      "layers" -> (if (a.trace) Layers.summarize(run, counters,
        timedStartMs, timedEndMs) else Json.obj()),
      "spans" -> run.tracer.all.map(s => Json.obj("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "label" -> s.label,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.writeString(Paths.get(a.out), rec.s, UTF_8)
    spark.stop()
  }
}

/** State shared by a run's workload: the session, the work dirs and
  * the op records. */
final class Run(val spark: SparkSession, val a: Main.Args,
                val tracer: Tracer) {
  /** Fixed content seed of the generated tables; the workload seed
    * picks the operation order and the pipeline inputs. */
  val DataSeed = 42L
  val dataDir = s"${a.work}/data"
  val outDir = s"${a.work}/out"
  val records = ArrayBuffer.empty[OpRec]
  val warmupFailures = ArrayBuffer.empty[(String, String)]
  /** Time of each of the three linking repetitions, over all inputs. */
  val inputSecs = Array.fill(3)(0.0)
  /** Input preparation beyond the generated tables. */
  var prepareS = 0.0
  var warmupS = 0.0
  /** Input rows each op reads, where all ops share one input. */
  var rowsIn = 0L
  private var warming = false

  /** Put the tables of `scale` under `dest`. They are generated once
    * into the input cache and hard-linked from there; linking runs three
    * times and set-up counts the median. */
  def inputs(dest: String, scale: Double, tables: Set[String],
             files: Int = 1): Unit = {
    val src = s"${a.inputCache}/$DataSeed-$scale-$files"
    tables.toSeq.sorted.foreach { t =>
      if (!new File(s"$src/$t.parquet/_SUCCESS").exists) {
        val tmp = s"$src/.tmp-${ProcessHandle.current.pid}"
        new Gen(spark, DataSeed, scale).write(tmp, Set(t), files)
        Files.move(Paths.get(s"$tmp/$t.parquet"), Paths.get(s"$src/$t.parquet"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        Files.delete(Paths.get(tmp))
      }
    }
    inputSecs.indices.foreach { i =>
      val t0 = System.nanoTime()
      tables.foreach { t =>
        val to = new File(s"$dest/$t.parquet")
        org.apache.commons.io.FileUtils.deleteDirectory(to)
        to.mkdirs()
        new File(s"$src/$t.parquet").listFiles.foreach(f =>
          Files.createLink(new File(to, f.getName).toPath, f.toPath))
      }
      inputSecs(i) += (System.nanoTime() - t0) / 1e9
    }
  }

  def timedWarmup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    warming = true
    try body finally warming = false
    warmupS = (System.nanoTime() - t0) / 1e9
  }

  private def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.nextOption().getOrElse("").take(300)

  /** Record an op; during warmup only failures are kept, by name. */
  private def keep(r: OpRec): OpRec = {
    System.err.println(f"[perfbench] ${r.name}%-26s pass ${r.pass}%3d " +
      f"${r.latencyS}%8.3f s ${if (r.ok) "ok" else "FAILED " + r.error}")
    if (!warming) records += r
    else if (!r.ok) warmupFailures += (r.name -> r.error)
    r
  }

  private def releasePins(): Int = {
    graft.cache.Pins.release(spark)
    spark.sparkContext.getPersistentRDDs.size
  }

  /** Construct -> plan -> execute (consuming every column) one query. */
  def query(name: String, pass: Int)(build: => DataFrame): OpRec = {
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0; var t2 = t0
    val res = tracer.span("op", name) {
      try {
        val df = tracer.span("construct", name)(build)
        t1 = System.nanoTime()
        tracer.span("plan", name)(df.queryExecution.executedPlan)
        t2 = System.nanoTime()
        Right(tracer.span("execute", name)(Digest.of(df)))
      } catch { case e: Throwable => Left(msg(e)) }
    }
    val t3 = System.nanoTime()
    val leaked = releasePins()
    val (rows, digest) = res.getOrElse((0L, ""))
    keep(OpRec(name, pass, m0, System.currentTimeMillis(),
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t3 - t0) / 1e9,
      rows, digest, res.isRight, res.left.getOrElse(""), leaked, Map.empty))
  }

  /** Time `body` as one op, then (untimed) check its outputs with
    * `check`, which returns (rows, digest, extra counters) or throws. */
  def call(name: String, pass: Int)(body: => Unit)
          (check: => (Long, String, Map[String, Double])): OpRec = {
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ran = tracer.span("op", name) {
      try { tracer.span("execute", name)(body); None }
      catch { case e: Throwable => Some(msg(e)) }
    }
    val t1 = System.nanoTime()
    val res = ran.map(Left(_)).getOrElse(
      try Right(tracer.span("check", name)(check))
      catch { case e: Throwable => Left("check: " + msg(e)) })
    val leaked = releasePins()
    val (rows, digest, extra) =
      res.getOrElse((0L, "", Map.empty[String, Double]))
    keep(OpRec(name, pass, m0, System.currentTimeMillis(), 0.0, 0.0,
      (t1 - t0) / 1e9, (t1 - t0) / 1e9, rows, digest, res.isRight,
      res.left.getOrElse(""), leaked, extra))
  }

  /** Layer calls timed outside any op (bind, fingerprint): name -> s. */
  val sideTimes = ArrayBuffer.empty[(String, Double)]
  def side[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try tracer.span(name)(body)
    finally if (!warming) sideTimes += (name -> (System.nanoTime() - t0) / 1e9)
  }

  /** Run whole passes, at least `MinPasses`, and then more while the
    * last pass would still end before the deadline. Every op gets the
    * same number of samples, and a median over at least three passes
    * is not decided by one slow pass. */
  def passes(deadlineNs: Long)(body: Int => Unit): Unit = {
    var pass = 0
    var lastNs = 0L
    while (pass < Run.MinPasses || System.nanoTime() + lastNs <= deadlineNs) {
      val t0 = System.nanoTime()
      body(pass)
      lastNs = System.nanoTime() - t0
      pass += 1
    }
  }

  /** Passes over `ops`, each in its own seeded order. */
  def cycle(ops: Seq[(String, Int => OpRec)], deadlineNs: Long): Unit =
    passes(deadlineNs) { pass =>
      new Random(a.seed * 1000003L + pass).shuffle(ops).foreach(_._2(pass))
    }
}

object Run {
  val MinPasses = 3

  /** (files, bytes) under `roots` modified at or after `sinceMs`. */
  def filesUnder(roots: Seq[String], sinceMs: Long): (Long, Long) = {
    var n = 0L; var b = 0L
    roots.map(new File(_)).filter(_.exists).foreach { r =>
      Files.walk(r.toPath).forEach { p =>
        val f = p.toFile
        if (f.isFile && f.lastModified >= sinceMs) { n += 1; b += f.length }
      }
    }
    (n, b)
  }
}

trait Workload {
  def generate(): Unit
  def warmup(): Unit
  def timed(deadlineNs: Long): Unit
  def opsPerPass: Int
}

/** Kernel-bound probes on a corpus 16 times the size of the one the
  * LLM queries are verified on, cycled in a seeded order. Warm-up runs
  * one pass over the small corpus (class loading, code generation) and
  * one over the large one; a cold first pass over the large corpus
  * alone costs more than both. */
final class LlmF16(r: Run) extends Workload {
  import graft.llm._
  private var docs: DataFrame = _
  private var small: DataFrame = _
  /** lsh_cosine_16x4 is left out on purpose; see perfbench/NOTES.md. */
  private def probes(docs: DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "exact_dedup_groups" -> (() => Dedup.exactGroups(docs)),
    "minhash_signatures" -> (() => Dedup.minHashSignatures(docs)),
    "minhash_lsh_pairs" -> (() => Dedup.minHashPairs(docs, threshold = 0.35)),
    "dedup_clusters" -> (() => Dedup.connectedComponents(
      Dedup.minHashPairs(docs, threshold = 0.35))),
    "verified_pairs" -> (() => Dedup.verifiedNearDupPairs(docs, tau = 0.8,
      estThreshold = 0.35)),
    "cdc_chunks" -> (() => Dedup.cdcChunks(docs)),
    "cms_sketch" -> (() => HeavyHitters.cmsSketch(
      docs.select(explode(TextAnalysis.tokens(col("text"))).as("token")),
      depth = 4, width = 16)),
    "hash_embed" -> (() => TextAnalysis.hashEmbedSparse(docs, dim = 64)))
  private def ops(docs: DataFrame) = probes(docs).map { case (n, f) =>
    n -> ((p: Int) => r.query(n, p)(f()))
  }
  def opsPerPass: Int = probes(docs).size
  def generate(): Unit = {
    r.inputs(r.dataDir, Scales.docs * Scales.f16Factor, Set("documents"),
      files = 2 * r.a.cores)
    r.inputs(s"${r.dataDir}/small", Scales.docs, Set("documents"),
      files = 2 * r.a.cores)
    docs = r.spark.read.parquet(s"${r.dataDir}/documents.parquet")
    small = r.spark.read.parquet(s"${r.dataDir}/small/documents.parquet")
    r.rowsIn = docs.count()
  }
  def warmup(): Unit = Seq(small, docs).foreach(d => ops(d).foreach(_._2(-1)))
  def timed(deadlineNs: Long): Unit = r.cycle(ops(docs), deadlineNs)
}

/** Table sizes per workload, chosen so a run fits its time budget. */
object Scales {
  /** 500 documents, the corpus the LLM queries are verified on */
  val docs = 0.01
  val f16Factor = 16
  val pipeline = 0.01
  val users = 16
}

package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.util.Random
import graft.config.{CLI, JobSpec}

/** `CLI.run` in one process over generated inputs, in passes of six
  * ops: user_analysis over `Scales.users` User-{userId}.json files
  * (repetition, templated locations, many small writes), orders_report
  * run cold and then warm on one `--cache-root`, the two-sink safety
  * scan, and show-tree / write-config-template. Set-up runs two
  * untimed passes; every pass writes under a fresh directory, so each
  * pass's first orders_report finds an empty cache root. The seed
  * draws the users. */
final class PipelineCli(r: Run) extends Workload {
  private val work = r.a.work
  private val usersDir = s"$work/users"
  private var expected = Map.empty[Int, Map[String, Long]]
  def opsPerPass: Int = 6

  def generate(): Unit = {
    r.inputs(r.dataDir, Scales.pipeline, Set("orders", "documents"))
    val t0 = System.nanoTime()
    val rnd = new Random(r.a.seed)
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "an",
      "el", "or", "us", "ib", "qu", "ph", "wy", "ja", "dh", "fe")
    def name(): String = {
      val s = (1 to 2 + rnd.nextInt(3)).map(_ => syl(rnd.nextInt(syl.size)))
        .mkString
      s.head.toUpper + s.tail
    }
    new File(usersDir).mkdirs()
    expected = (0 until Scales.users).map { i =>
      val (n, s) = (name(), name())
      Files.writeString(Paths.get(s"$usersDir/User-$i.json"),
        s"""{"userName": "$n", "userSurname": "$s", "userAge": ${18 + rnd.nextInt(60)}}""" + "\n",
        UTF_8)
      i -> (n + s).toLowerCase.groupBy(_.toString).map { case (k, v) =>
        k -> v.length.toLong }
    }.toMap
    r.prepareS = (System.nanoTime() - t0) / 1e9
  }

  private def write(path: String, text: String): String = {
    new File(path).getParentFile.mkdirs()
    Files.writeString(Paths.get(path), text.stripMargin, UTF_8)
    path
  }

  /** Run the CLI, returning what it printed (with the work dir masked). */
  private def cli(args: String*): String = {
    val bos = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(bos, true, "UTF-8")) {
      CLI.run(args.toArray, r.spark)
    }
    bos.toString("UTF-8").replace(work, "$WORK")
  }

  private def textDigest(s: String): (Long, String, Map[String, Double]) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (s.linesIterator.size.toLong,
      md.digest(s.getBytes(UTF_8)).take(8).map("%02x".format(_)).mkString,
      Map.empty)
  }

  private def parquetDigest(path: String): (Long, String) =
    Digest.of(r.spark.read.parquet(path))

  /** memo entries (completed `_GRAFT_OK` dirs) and their bytes */
  private def memoEntries(root: String): (Int, Long) = {
    val dirs = Option(new File(root).listFiles).toSeq.flatten
      .filter(d => new File(d, "_GRAFT_OK").exists)
    (dirs.size, dirs.map(d => Run.filesUnder(Seq(d.getPath), 0L)._2).sum)
  }

  private def readAnalysis(dir: String): Map[String, Long] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    Option(new File(dir).listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      .flatMap(f => Files.readAllLines(f.toPath, UTF_8).toArray.toSeq)
      .map { l =>
        val n = om.readTree(l.toString)
        n.get("letter").asText -> n.get("n").asLong
      }.toMap
  }

  private def onePass(p: Int, nUsers: Int): Unit = {
    val dir = s"${r.outDir}/p$p"
    val usersSpec = write(s"$dir/users.yaml",
      s"""data: {users: "0..${nUsers - 1}"}
         |locations:
         |  /: $dir
         |  /Inputs/User: "$usersDir/User-{userId}.json"
         |  /Outputs/Analysis: "_-{userId}.json"
         |""")
    val treeSpec = write(s"$dir/tree.yaml",
      s"""variables: {folder: $usersDir, mirror: $dir/mirror}
         |data: {users: "0..3"}
         |locations:
         |  /: $dir
         |  /Inputs/User: "{folder}/User-{userId}.json"
         |  /Outputs/Analysis: ["_-{userId}.json", "{mirror}/Analysis-{userId}.json"]
         |""")
    val ordersSpec = write(s"$dir/orders.yaml",
      s"""data: {minPrice: 100000}
         |locations:
         |  /orders: ${r.dataDir}/orders.parquet
         |  /Outputs/report: $dir/report.parquet
         |""")
    val safetySpec = write(s"$dir/safety.yaml",
      s"""data: {blockTerms: "merge, casino777"}
         |locations:
         |  /documents: ${r.dataDir}/documents.parquet
         |  /Outputs/safety: $dir/safety.parquet
         |  /Outputs/safety_by_source: $dir/by_source.parquet
         |""")
    val cache = s"$dir/cache"

    r.call("user_analysis", p) {
      cli("user_analysis", "run", usersSpec)
    } {
      val got = (0 until nUsers).map(i =>
        readAnalysis(s"$dir/Outputs/Analysis-$i.json"))
      (0 until nUsers).foreach { i =>
        if (got(i) != expected(i))
          sys.error(s"Analysis-$i.json: ${got(i)} != ${expected(i)}")
      }
      (got.map(_.size.toLong).sum, "", Map("items" -> nUsers.toDouble))
    }
    // layer calls the pipeline makes, timed on their own: binding the
    // spec's mappings to the pipeline's catalog, and fingerprinting
    // the inputs a memo key is made of
    val spec = JobSpec.fromFile(usersSpec)
    val reg = CLI.registry("user_analysis")
    val catalog = reg.build(r.spark,
      reg.options.resolveStrict(Some(spec.data), Nil)).requirements
    r.side("loc.bind")(spec.mappings.bind(catalog))

    var cold = (0, 0L)
    r.call("orders_report_cold", p) {
      cli("orders_report", "run", ordersSpec, "--cache-root", cache)
    } {
      cold = memoEntries(cache)
      val (n, d) = parquetDigest(s"$dir/report.parquet")
      (n, d, Map("memo_entries" -> cold._1.toDouble,
        "memo_bytes" -> cold._2.toDouble))
    }
    r.side("cache.fingerprint") {
      val memo = graft.cache.Memo(r.spark, cache)
      memo.fingerprint(usersDir); memo.fingerprint(s"${r.dataDir}/orders.parquet")
      Option(new File(cache).listFiles).toSeq.flatten
        .foreach(k => memo.lookup(k.getName))
    }
    r.call("orders_report_warm", p) {
      cli("orders_report", "run", ordersSpec, "--cache-root", cache)
    } {
      val warm = memoEntries(cache)
      val (n, d) = parquetDigest(s"$dir/report.parquet")
      (n, d, Map("memo_entries" -> (warm._1 - cold._1).toDouble,
        "memo_bytes" -> (warm._2 - cold._2).toDouble,
        "memo_cold_entries" -> cold._1.toDouble))
    }
    r.call("safety", p) {
      cli("safety", "run", safetySpec)
    } {
      val (n1, d1) = parquetDigest(s"$dir/safety.parquet")
      val (n2, d2) = parquetDigest(s"$dir/by_source.parquet")
      (n1 + n2, s"$d1/$d2", Map.empty)
    }
    var tree = ""
    r.call("show_tree", p) {
      tree = cli("user_analysis", "show-tree", treeSpec, "-m", "-a")
        .replace(dir.replace(work, "$WORK"), "$PASS")
    }(textDigest(tree))
    var template = ""
    r.call("write_config_template", p) {
      template = cli("safety", "write-config-template")
    }(textDigest(template))
  }

  /** Two passes: after one, the ops still get faster pass by pass. */
  def warmup(): Unit = Seq(-2, -1).foreach(onePass(_, Scales.users))

  def timed(deadlineNs: Long): Unit =
    r.passes(deadlineNs)(onePass(_, Scales.users))
}

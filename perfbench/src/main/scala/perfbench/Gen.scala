package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input generator. Every column is a pure function of (data seed,
  * table, row id), so a table's content does not depend on partitioning
  * or on the machine. The tables follow the shapes of the repository's
  * test data: TPC-H-like `orders`, and a `documents` corpus over a
  * 30-word vocabulary with 5% planted near-duplicates (a copy of another
  * document's text plus " dup").
  *
  * `scale` follows the usual scale-factor convention (orders has
  * 1.5M × scale rows); the corpus keeps at least 500 documents.
  */
final class Gen(spark: SparkSession, dataSeed: Long, scale: Double) {

  private def n(perUnit: Double, floor: Long = 1L): Long =
    math.max(floor, math.round(perUnit * scale))

  val nCustomer: Long = n(150000)
  val nOrders: Long = n(1500000)
  val nDocuments: Long = n(50000, 500)

  private def h(tag: String, cs: Column*): Column =
    xxhash64((lit(dataSeed) +: lit(tag) +: cs): _*)
  /** Uniform integer in [0, k). */
  private def ri(tag: String, k: Long, cs: Column*): Column =
    pmod(h(tag, (if (cs.isEmpty) Seq(col("id")) else cs): _*), lit(k))
  /** Uniform double in [0, 1). */
  private def u(tag: String, cs: Column*): Column =
    ri(tag, 1L << 30, cs: _*).cast("double") / lit((1L << 30).toDouble)
  private def pick(tag: String, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (ri(tag, values.size.toLong) + 1).cast("int"))
  private def day(tag: String, from: String, days: Long): Column =
    date_add(lit(from).cast("date"), ri(tag, days).cast("int"))
      .cast("timestamp")
  private def money(c: Column): Column = round(c, 2)

  def orders: DataFrame = spark.range(nOrders).select(
    col("id").as("o_orderkey"),
    ri("o_cust", nCustomer).as("o_custkey"),
    pick("o_status", Seq("F", "O", "P")).as("o_orderstatus"),
    money(lit(1000.0) + u("o_price") * 499000.0).as("o_totalprice"),
    day("o_date", "1995-01-01", 2405).as("o_orderdate"),
    pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  def documents: DataFrame = {
    val isDup = ri("d_dup", 20) === 0
    val textId = when(isDup, ri("d_dupof", nDocuments)).otherwise(col("id"))
    val words = array(vocab.map(lit): _*)
    spark.range(nDocuments)
      .withColumn("tid", textId)
      .withColumn("nw", (ri("d_len", 93, lit(0L), col("tid")) + 8).cast("int"))
      .withColumn("base", concat_ws(" ", transform(
        sequence(lit(1), col("nw")), i => element_at(words,
          (pmod(xxhash64(lit(dataSeed), lit("d_w"), col("tid"), i),
            lit(vocab.size.toLong)) + 1).cast("int")))))
      .withColumn("text", when(isDup, concat(col("base"), lit(" dup")))
        .otherwise(col("base")))
      .withColumn("lu", u("d_lang"))
      .select(
        col("id").as("doc_id"),
        col("text"),
        when(col("lu") < 0.4, "en").when(col("lu") < 0.55, "zh")
          .when(col("lu") < 0.7, "es").when(col("lu") < 0.85, "fr")
          .otherwise("de").as("lang"),
        concat(lit("src"), col("id") % 20).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  def tables: Seq[(String, () => DataFrame)] = Seq(
    "orders" -> (() => orders), "documents" -> (() => documents))

  /** Write the named tables as parquet datasets `<dir>/<name>.parquet`
    * of `files` files each (hash-partitioned on the first column). */
  def write(dir: String, names: Set[String], files: Int = 1): Unit =
    tables.filter(t => names(t._1)).foreach { case (name, df) =>
      val d = df()
      (if (files == 1) d.coalesce(1) else d.repartition(files, d.col(d.columns.head)))
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}

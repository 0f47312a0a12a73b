package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TPC-H-like tables with the column layout graft's queries
  * read (timestamps stored without a time zone). Every value is a hash
  * of (seed, row id, salt), so a seed always yields the same files. */
object AnalyticsGen {
  val Rows: Map[String, Long] = Map("nation" -> 25L, "customer" -> 1000L, "orders" -> 5000L,
    "lineitem" -> 20000L, "documents" -> 600L, "embeddings" -> 400L)

  private val Vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "a", "the", "merge", "batch", "spark", "line", "sort", "window", "data", "column",
    "join", "small", "big", "customer", "query", "order", "filter", "group", "stream", "vector")

  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    def h(salt: Int, cols: Column*): Column =
      xxhash64((lit(seed) +: lit(salt) +: cols): _*)
    def u(m: Long, salt: Int, cols: Column*): Column = pmod(h(salt, cols: _*), lit(m))
    def ts(days: Column): Column = date_add(lit("1995-01-01").cast("date"), days.cast("int")).cast("timestamp_ntz")
    def rows(t: String) = spark.range(Rows(t)).withColumnRenamed("id", "i")
    val id = col("i")
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(2).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("nation", rows("nation").select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
    save("customer", rows("customer").select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"), u(25, 1, id).cast("int").as("c_nationkey"),
      ((u(1100000, 2, id) - 100000) / 100.0).as("c_acctbal"),
      element_at(array(Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE").map(lit): _*),
        (u(5, 3, id) + 1).cast("int")).as("c_mktsegment")))
    save("orders", rows("orders").select(id.as("o_orderkey"), u(Rows("customer"), 4, id).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")), (u(3, 5, id) + 1).cast("int")).as("o_orderstatus"),
      ((u(50000000, 6, id) + 100000) / 100.0).as("o_totalprice"), ts(u(2400, 7, id)).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        (u(5, 8, id) + 1).cast("int")).as("o_orderpriority")))
    save("lineitem", rows("lineitem").select(
      u(Rows("orders"), 9, id).as("l_orderkey"), u(20000, 10, id).as("l_partkey"),
      u(1000, 11, id).as("l_suppkey"), (u(7, 12, id) + 1).cast("int").as("l_linenumber"),
      (u(50, 13, id) + 1).cast("double").as("l_quantity"),
      ((u(9000000, 14, id) + 90000) / 100.0).as("l_extendedprice"),
      (u(11, 15, id) / 100.0).as("l_discount"), (u(9, 16, id) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (u(3, 17, id) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (u(2, 18, id) + 1).cast("int")).as("l_linestatus"),
      ts(u(2500, 19, id) + 1).as("l_shipdate")))
    // One document in ten is a near copy of its predecessor: same words
    // but the last.
    val src = when(u(10, 20, id) === 0 && id > 0, id - 1).otherwise(id)
    val nWords = u(70, 21, src) + 10
    val vocab = array(Vocab.map(lit): _*)
    val words = transform(sequence(lit(1), nWords.cast("int")), j =>
      element_at(vocab, (u(Vocab.size, 22, src, j) + 1).cast("int")))
    val text = concat_ws(" ", when(src =!= id,
      concat(slice(words, lit(1), (nWords - 1).cast("int")), array(element_at(vocab, (u(Vocab.size, 23, id) + 1).cast("int")))))
      .otherwise(words))
    save("documents", rows("documents").select(id.as("doc_id"), text.as("text"),
      element_at(array(Seq("en", "de", "fr", "es", "zh").map(lit): _*), (u(5, 24, id) + 1).cast("int")).as("lang"),
      concat(lit("src"), u(20, 25, id)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    val label = u(10, 26, id).cast("int")
    val emb = transform(sequence(lit(0), lit(63)), j =>
      ((u(2000, 27, label, j) - 1000) / 1000.0 + (u(200, 28, id, j) - 100) / 1000.0).cast("float"))
    save("embeddings", rows("embeddings").select(id.as("vec_id"), emb.as("embedding"), label.as("label")))
  }
}

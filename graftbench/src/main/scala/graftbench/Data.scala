package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Datagen
import graft.sources.Datagen._

/** The benchmark's input corpus: TPC-H-shaped `nation`, `customer`,
  * `orders`, `lineitem` and a `documents` text corpus, generated with
  * [[graft.sources.Datagen]]'s portable LCG from a fixed data seed.
  * Every value is a function of (row id, column salt), so the files are
  * identical on every host and core count; run.py pins their row
  * counts and digests before any timing.
  *
  * Row counts at scale 1 mirror TPC-H sf1: 150k customers, 1.5M
  * orders, 6M line items (four per order), and 50k documents.
  */
object Data {
  val DataSeed = 42L
  val Sf1Customers = 150000L
  val Sf1Orders = 1500000L
  val LinesPerOrder = 4L
  val Sf1Documents = 50000L

  def counts(scale: Double, docScale: Double): Map[String, Long] = {
    val o = math.round(Sf1Orders * scale)
    Map("nation" -> 25L, "customer" -> math.round(Sf1Customers * scale),
      "orders" -> o, "lineitem" -> o * LinesPerOrder,
      "documents" -> math.round(Sf1Documents * docScale))
  }

  def main(args: Array[String]): Unit = {
    val Array(out, scaleStr, docScaleStr, coresStr) = args
    val cores = coresStr.toInt
    val spark = graft.GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    write(spark, out, scaleStr.toDouble, docScaleStr.toDouble)
    spark.stop()
  }

  /** `scale` sizes the TPC-H tables, `docScale` the documents, each as
    * a share of sf1. */
  def write(spark: SparkSession, out: String, scale: Double, docScale: Double): Unit = {
    val n = counts(scale, docScale)
    def save(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    save(nation(spark), "nation")
    save(customer(spark, n("customer")), "customer")
    save(orders(spark, n("orders"), n("customer")), "orders")
    save(lineitem(spark, n("lineitem")), "lineitem")
    save(documents(spark, n("documents")), "documents")
  }

  private def money(c: Column): Column = round(c, 2)

  def nation(spark: SparkSession): DataFrame =
    spark.range(0, 25, 1, 1).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(spark: SparkSession, rows: Long): DataFrame =
    Datagen.table(spark, rows, Seq(
      IntCol("c_nationkey", 0, 24),
      DoubleCol("c_acctbal", -999.99, 9999.99),
      CatCol("c_mktsegment", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY"))), DataSeed, partitions = 2)
      .select(col("row_id").as("c_custkey"),
        format_string("Customer#%09d", col("row_id")).as("c_name"),
        col("c_nationkey").cast("int").as("c_nationkey"),
        money(col("c_acctbal")).as("c_acctbal"), col("c_mktsegment"))

  def orders(spark: SparkSession, rows: Long, customers: Long): DataFrame =
    Datagen.table(spark, rows, Seq(
      IntCol("o_custkey", 0, customers - 1),
      CatCol("o_orderstatus", Seq("O", "F", "P")),
      DoubleCol("o_totalprice", 900.0, 450000.0),
      DateCol("o_orderdate", "1992-01-01", 2400),
      CatCol("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW"))), DataSeed + 1, partitions = 4)
      .select(col("row_id").as("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), money(col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))

  def lineitem(spark: SparkSession, rows: Long): DataFrame =
    Datagen.table(spark, rows, Seq(
      IntCol("l_partkey", 0, 199999),
      IntCol("l_suppkey", 0, 9999),
      IntCol("l_quantity", 1, 50),
      DoubleCol("l_extendedprice", 900.0, 95000.0),
      IntCol("l_discount", 0, 10),
      IntCol("l_tax", 0, 8),
      CatCol("l_returnflag", Seq("A", "N", "R")),
      CatCol("l_linestatus", Seq("O", "F")),
      DateCol("l_shipdate", "1992-01-02", 2500)), DataSeed + 2, partitions = 8)
      .select((col("row_id") / LinesPerOrder).cast("long").as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"),
        (col("row_id") % LinesPerOrder + 1).cast("int").as("l_linenumber"),
        col("l_quantity").cast("double").as("l_quantity"),
        money(col("l_extendedprice")).as("l_extendedprice"),
        (col("l_discount") / 100.0).as("l_discount"),
        (col("l_tax") / 100.0).as("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))

  /** Filler vocabulary: English stopwords (so quality and language
    * scores vary), a few German markers, and domain words. */
  val Vocab: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is",
    "data", "spark", "query", "table", "row", "column", "join", "batch",
    "stream", "window", "filter", "group", "order", "merge", "scan", "sort",
    "hash", "key", "value", "vector", "index", "model", "corpus", "token",
    "record", "source", "sink", "quality", "rule", "score", "engine",
    "cluster", "shuffle", "stage", "task", "partition", "schema", "file",
    "fast", "slow", "small", "big", "new", "old", "line", "part", "field",
    "metric", "event", "plan", "cache", "graph", "node")
  val GermanVocab: Seq[String] = Seq("der", "die", "das", "und", "ist")

  /** Documents with planted structure, all from the row id (tokens are
    * xxhash64 draws over a 65-word vocabulary), in blocks of 20 ids:
    *  - offsets 0..7: a chain of eight near duplicates of the block's
    *    first document. Chain position p = 3 * offset mod 8; the step
    *    to position k rewrites the tokens j with j mod 47 == 7 + 5k, so
    *    neighbours on the chain stay above the 0.7 Jaccard threshold
    *    while its ends fall below it. Positions zigzag over the ids, so
    *    the components loop needs several star rounds per chain;
    *  - offset 8: exact copy of the block's first document after
    *    normalisation (upper case and doubled spaces in the raw text);
    *  - id % 7 == 3: carries an e-mail address and a phone number;
    *  - id % 9 == 5: symbol-heavy boilerplate that the Gopher rules drop;
    *  - source id % 5 == 4: German marker words mixed in.
    * Lengths are 20..140 tokens. The shares are chosen so that every
    * kernel of the curation chain has work; they are not measured on
    * a real crawl.
    */
  def documents(spark: SparkSession, rows: Long): DataFrame = {
    val o = col("id") % 20
    val chained = o < 8
    val src = when(chained || o === 8, col("id") - o).otherwise(col("id"))
    val vocab = array(Vocab.map(lit): _*)
    val german = array(GermanVocab.map(lit): _*)
    val len = lit(20L) + pmod(prng(src, DataSeed, 11L), lit(121L))
    // xxhash64, not the LCG: consecutive LCG states repeat in their low
    // bits, which turns token streams periodic and shared across documents
    def word(j: Column, salt: Long): Column = {
      val r = xxhash64(lit(DataSeed), lit(salt), col("__src"), j)
      when(col("__de") && pmod(r, lit(4L)) === 0,
        element_at(german, (pmod(r, lit(GermanVocab.size.toLong)) + 1).cast("int")))
        .otherwise(element_at(vocab, (pmod(r, lit(Vocab.size.toLong)) + 1).cast("int")))
    }
    // token j is rewritten by chain step k = (j mod 47 - 7) / 5 when
    // j mod 47 is one of 12, 17, .., 42; position p carries steps 1..p
    val tokens = transform(sequence(lit(0L), col("__len") - 1), { j =>
      val r = pmod(j, lit(47L))
      when(r >= 12 && r <= col("__pos") * 5 + 7 && pmod(r - 7, lit(5L)) === 0,
        word(j, 13L)).otherwise(word(j, 12L))
    })
    val body = array_join(tokens, " ")
    val raw = when(col("__exact"), regexp_replace(upper(body), " ", "  "))
      .otherwise(body)
    val pii = concat(lit(" contact user"), col("id"), lit("@example.com or 415-555-"),
      lpad((col("id") % 10000).cast("string"), 4, "0"))
    val junk = lit(" ### ... ### ... ### ... ### ... ### ... ### ...")
    spark.range(0, rows, 1, 4)
      .select(col("id"), src.as("__src"), len.as("__len"),
        when(chained, pmod(o * 3, lit(8L))).otherwise(lit(0L)).as("__pos"),
        (o === 8).as("__exact"), ((src % 5) === 4).as("__de"))
      .select(col("id").as("doc_id"),
        concat(raw,
          when(col("id") % 7 === 3, pii).otherwise(lit("")),
          when(col("id") % 9 === 5, junk).otherwise(lit(""))).as("text"),
        concat(lit("src"), (col("id") % 3).cast("string")).as("source"))
  }
}

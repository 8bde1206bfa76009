package perfbench

import java.time.{LocalDate, LocalDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * A seeded star-schema corpus with the tables, column types and value
 * ranges of the repository's test corpus (FIXTURES.md §B): the TPC-H-ish
 * tables, `events`, `documents` and `embeddings`, one Parquet file each,
 * timestamps without zone like the original. Sizes are a quarter of the
 * sf0.01 corpus's, except that `documents` and `embeddings` keep their
 * 500 rows, as at every corpus scale.
 */
object Corpus {

  private val Adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val Words = ("a the key agg row scan slow fast table value part hash merge batch spark " +
    "line sort window join small big query order group data column filter stream customer").split(' ')
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  /** Corpus size relative to sf0.01. */
  val Scale = 0.25

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    def n(base: Int) = math.max(1, (base * Scale).round.toInt)
    def money(lo: Double, hi: Double) = math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
    def day(from: LocalDate, days: Int) = from.plusDays(rnd.nextInt(days).toLong).atStartOfDay()
    def table(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(name: String, t: DataType) = StructField(name, t)

    val (nCust, nSupp, nPart, nOrders, nLines, nEvents) =
      (n(1500), n(100), n(2000), n(15000), n(60000), n(10000))
    table("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (r, i) => Row(i, r) })
    table("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    table("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType), f("c_nationkey", IntegerType),
      f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25), money(-999.99, 9999.99), pick(Segments))))
    table("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType), f("s_nationkey", IntegerType),
      f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25), money(-999.99, 9999.99))))
    table("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
      f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(Adjectives)} ${pick(Nouns)}", s"Brand#${1 + rnd.nextInt(25)}",
        pick(Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")), 1 + rnd.nextInt(50),
        math.round(9000 + (i % 1000)) / 10.0)))
    table("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType), f("o_orderstatus", StringType),
      f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong, pick(Seq("F", "O", "P")),
        money(1000, 500000), day(LocalDate.of(1995, 1, 1), 2404), pick(Priorities))))
    table("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType), f("l_suppkey", LongType),
      f("l_linenumber", IntegerType), f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
      f("l_discount", DoubleType), f("l_tax", DoubleType), f("l_returnflag", StringType),
      f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      (0 until nLines).map(_ => Row(rnd.nextInt(nOrders).toLong, rnd.nextInt(nPart).toLong, rnd.nextInt(nSupp).toLong,
        1 + rnd.nextInt(7), (1 + rnd.nextInt(50)).toDouble, money(900, 105000), rnd.nextInt(11) / 100.0,
        rnd.nextInt(9) / 100.0, pick(Seq("A", "N", "R")), pick(Seq("F", "O")), day(LocalDate.of(1995, 1, 2), 2498))))
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    table("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType), f("user_id", LongType),
      f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
      (0 until nEvents).map(i => Row(i.toLong, t0.plusNanos((rnd.nextDouble() * 30 * 86400e6).toLong * 1000),
        rnd.nextInt(150).toLong, pick(EventTypes), money(0.01, 490.02), s"""{"k": ${rnd.nextInt(100)}}""")))
    // documents: word soup from a small vocabulary, every tenth a light
    // edit of an earlier one, so the dedup family finds near-duplicates
    val docs = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until n(2000)) docs += {
      if (i >= 10 && i % 10 == 0) {
        val w = docs(rnd.nextInt(i)).split(' ')
        w(rnd.nextInt(w.length)) = pick(Words.toSeq)
        w.mkString(" ")
      } else Seq.fill(8 + rnd.nextInt(85))(pick(Words.toSeq)).mkString(" ")
    }
    table("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
      f("source", StringType), f("n_chars", LongType))),
      docs.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, pick(Seq("en", "en", "en", "en", "en", "en", "en", "de", "de", "es")),
          s"src${rnd.nextInt(20)}", t.length.toLong)
      }.toSeq)
    val centers = Seq.fill(10)(Array.fill(64)((rnd.nextDouble() - 0.5) * 0.4))
    table("embeddings", StructType(Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType)),
      f("label", IntegerType))),
      (0 until n(2000)).map { i =>
        val label = rnd.nextInt(10)
        Row(i.toLong, centers(label).map(c => (c + (rnd.nextDouble() - 0.5) * 0.2).toFloat).toSeq, label)
      })
  }
}

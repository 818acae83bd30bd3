package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the star schema, events, documents and embeddings
  * the registered queries read, in the layout and value domains of the
  * program's own test tables (FIXTURES.md), at about their smallest scale:
  * 1500 orders, 6000 line items, `docs` documents and as many 64-dimension
  * embeddings. Documents come in near-duplicate families (word
  * substitutions) and exact copies, and vectors in ten clusters with
  * near-duplicate pairs, so the dedup and ANN operators find real work.
  */
object CorpusGen {
  private val words = ("the a data spark query row column table scan join merge sort hash key " +
    "value batch stream window group agg filter order line part customer vector fast slow big " +
    "small index shard cache plan stage task node cluster token text label split train eval " +
    "model score rank dedup near copy model graph edge").split(" ").toIndexedSeq

  private def f(name: String, t: DataType) = StructField(name, t)

  private def save(spark: SparkSession, dir: String, name: String, rows: Seq[Row], schema: StructType): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** The star schema and events, then the corpus. */
  def write(spark: SparkSession, dir: String, seed: Long, docs: Int): Unit = {
    val rng = new java.util.Random(seed)
    def save(name: String, rows: Seq[Row], schema: StructType): Unit = CorpusGen.save(spark, dir, name, rows, schema)
    def money(lo: Double, hi: Double) = math.round((lo + rng.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(y0: Int, spanDays: Int) =
      Timestamp.valueOf(java.time.LocalDate.of(y0, 1, 1).plusDays(rng.nextInt(spanDays)).atStartOfDay())

    save("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => Row(i, n) }, StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))))
    save("nation", (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType), f("n_regionkey", IntegerType))))
    val segments = Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    save("customer", (0 until 150).map(i => Row(i.toLong, f"Customer#$i%09d", rng.nextInt(25),
      money(-999, 9999), segments(rng.nextInt(5)))),
      StructType(Seq(f("c_custkey", LongType), f("c_name", StringType), f("c_nationkey", IntegerType),
        f("c_acctbal", DoubleType), f("c_mktsegment", StringType))))
    save("supplier", (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d", rng.nextInt(25), money(-999, 9999))),
      StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType), f("s_nationkey", IntegerType),
        f("s_acctbal", DoubleType))))
    val adjectives = Seq("cold", "small", "large", "shiny", "heavy")
    val nouns = Seq("widget", "bolt", "gear", "valve", "spring")
    val types = Seq("ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO")
    save("part", (0 until 200).map(i => Row(i.toLong, s"${adjectives(rng.nextInt(5))} ${nouns(rng.nextInt(5))}",
      s"Brand#${1 + rng.nextInt(25)}", types(rng.nextInt(6)), 1 + rng.nextInt(50), 900.0 + i / 10.0)),
      StructType(Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
        f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType))))
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until 1500).map(i => Row(i.toLong, rng.nextInt(150).toLong, Seq("F", "O", "P")(rng.nextInt(3)),
      math.round((1000 + math.min(499000.0, -math.log(1 - rng.nextDouble()) * 70000)) * 100) / 100.0,
      day(1995, 2400), priorities(rng.nextInt(5))))
    save("orders", orders, StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
      f("o_orderpriority", StringType))))
    val lineitems = orders.flatMap { o =>
      val shipBase = o.getAs[Timestamp](4).toLocalDateTime
      (1 to 4).map { ln =>
        Row(o.getLong(0), rng.nextInt(200).toLong, rng.nextInt(10).toLong, ln, (1 + rng.nextInt(50)).toDouble,
          money(900, 105000), rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
          Seq("A", "N", "R")(rng.nextInt(3)), Seq("O", "F")(rng.nextInt(2)),
          Timestamp.valueOf(shipBase.plusDays(1 + rng.nextInt(120))))
      }
    }
    save("lineitem", lineitems, StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType))))
    val eventTypes = Seq("signup", "click", "error", "purchase", "view")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    var t = t0
    save("events", (0 until 1000).map { i =>
      t += 60000L + rng.nextInt(2400000)
      Row(i.toLong, new Timestamp(t), rng.nextInt(15).toLong, eventTypes(rng.nextInt(5)),
        money(0, 330), s"""{"k": ${rng.nextInt(100)}}""")
    }, StructType(Seq(f("event_id", LongType), f("ts", TimestampType), f("user_id", LongType),
      f("event_type", StringType), f("value", DoubleType), f("props", StringType))))
    writeCorpus(spark, dir, rng, docs)
  }

  /** Only `documents` and `embeddings`, `docs` rows each. */
  def writeCorpus(spark: SparkSession, dir: String, seed: Long, docs: Int): Unit =
    writeCorpus(spark, dir, new java.util.Random(seed), docs)

  private def writeCorpus(spark: SparkSession, dir: String, rng: java.util.Random, docs: Int): Unit = {
    def save(name: String, rows: Seq[Row], schema: StructType): Unit = CorpusGen.save(spark, dir, name, rows, schema)
    val langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until docs).foreach { i =>
      val r = rng.nextInt(20)
      texts += (
        if (i > 10 && r < 2) texts(rng.nextInt(i))                    // exact copy
        else if (i > 10 && r < 5) {                                      // near copy
          val base = texts(rng.nextInt(i)).split(" ")
          (1 to 1 + rng.nextInt(2)).foreach(_ => base(rng.nextInt(base.length)) = words(rng.nextInt(words.size)))
          base.mkString(" ")
        } else (1 to 12 + rng.nextInt(70)).map(_ => words(rng.nextInt(words.size))).mkString(" "))
    }
    save("documents", texts.zipWithIndex.map { case (txt, i) =>
      Row(i.toLong, txt, langs(rng.nextInt(langs.size)), s"src${rng.nextInt(20)}", txt.length.toLong)
    }.toSeq, StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
      f("source", StringType), f("n_chars", LongType))))

    val centroids = (0 until 10).map(_ => Array.fill(64)(rng.nextGaussian()))
    val vecs = scala.collection.mutable.ArrayBuffer.empty[(Array[Float], Int)]
    (0 until docs).foreach { i =>
      vecs += (
        if (i > 10 && rng.nextInt(8) == 0) {
          val (v, l) = vecs(rng.nextInt(i))
          (v.map(x => (x + rng.nextGaussian() * 0.002).toFloat), l)
        } else {
          val l = rng.nextInt(10)
          val v = centroids(l).map(c => c + rng.nextGaussian() * 3.0)
          val norm = math.sqrt(v.map(x => x * x).sum)
          (v.map(x => (x / norm).toFloat), l)
        })
    }
    save("embeddings", vecs.zipWithIndex.map { case ((v, l), i) => Row(i.toLong, v.toSeq, l) }.toSeq,
      StructType(Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType)), f("label", IntegerType))))
  }
}

package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the tables the curation queries read, with the
  * shapes of the scale fixtures (TESTDATA.md): `documents` are word
  * sequences over a small vocabulary with ~5% near-duplicates (one token
  * appended or dropped), `embeddings` are unit vectors in 64 dimensions,
  * and `orders`/`lineitem` follow the TPC-H-ish star schema. Each table
  * is written as `<dir>/<name>.parquet`, the layout `graft.Tables` reads.
  */
object CorpusGen {

  private val vocab = Seq("the", "a", "spark", "join", "stream", "small", "big", "order",
    "merge", "column", "group", "customer", "part", "value", "window", "scan", "table",
    "vector", "row", "filter", "sort", "hash", "batch", "agg", "fast", "slow", "key",
    "line", "data", "query")
  private val langs = Seq("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)

  private def lang(r: SplittableRandom): String = {
    var k = r.nextInt(100)
    langs.find { case (_, w) => k -= w; k < 0 }.get._1
  }

  /** Writes the four tables; returns the rows written per table. */
  def write(spark: SparkSession, dir: String, seed: Long, docs: Int): Map[String, Long] = {
    val r = new SplittableRandom(seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val docRows = (0 until docs).map { i =>
      val text =
        if (texts.nonEmpty && r.nextInt(20) == 0) {
          val src = texts(r.nextInt(texts.size)).split(' ')
          (if (r.nextInt(2) == 0) src :+ "dup" else src.dropRight(1)).mkString(" ")
        } else Seq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.size))).mkString(" ")
      texts += text
      Row(i.toLong, text, lang(r), s"src${i % 20}", text.length.toLong)
    }
    val embRows = (0 until math.max(docs * 2 / 5, 200)).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, r.nextInt(10))
    }
    val nOrders = docs * 10
    val day0 = java.time.LocalDate.of(1995, 1, 1)
    def ts(days: Int) = Timestamp.valueOf(day0.plusDays(days.toLong).atStartOfDay())
    val orderRows = (0 until nOrders).map { k =>
      Row(k.toLong, r.nextInt(math.max(nOrders / 10, 1)).toLong, Seq("F", "O", "P")(r.nextInt(3)),
        1000.0 + r.nextInt(49900000) / 100.0, ts(r.nextInt(2404)),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5)))
    }
    val lineRows = (0 until nOrders * 4).map { _ =>
      val qty = 1 + r.nextInt(50)
      Row(r.nextInt(nOrders).toLong, r.nextInt(2000).toLong, r.nextInt(100).toLong,
        1 + r.nextInt(7), qty.toDouble, qty * (900.0 + r.nextInt(120000) / 100.0),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
        Seq("F", "O")(r.nextInt(2)), ts(1 + r.nextInt(2500)))
    }
    val tables = Seq(
      "documents" -> (docRows, StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType)))),
      "embeddings" -> (embRows, StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))),
      "orders" -> (orderRows, StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType)))),
      "lineitem" -> (lineRows, StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
        StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType)))))
    tables.map { case (name, (rows, schema)) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      name -> rows.size.toLong
    }.toMap
  }
}

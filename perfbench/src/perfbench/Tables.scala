package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded TPC-H-style star schema plus the `events`, `documents` and
  * `embeddings` tables, written as one parquet file per table in the
  * layout `graft.Tables` reads. Column names and types follow the
  * engine's test data; row counts scale with `orders`. */
object Tables {

  private val Day = 86400000L
  private val T1995 = 788918400000L // 1995-01-01
  private val T2024 = 1704067200000L // 2024-01-01
  private val Words = Vector("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")
  private val Adj = Vector("small", "red", "blue", "hot", "old", "large", "green", "cold")
  private val Noun = Vector("ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe")

  private def r2(x: Double): Double = math.round(x * 100) / 100.0

  def write(spark: SparkSession, dir: String, seed: Long, orders: Int): Unit = {
    import spark.implicits._
    val rnd = new SplittableRandom(seed)
    val customers = math.max(50, orders / 10)
    val parts = math.max(50, orders * 2 / 15)
    val suppliers = math.max(10, orders / 150)
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")

    save(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"), "region")
    save((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")
    val segs = Vector("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
    save((0 until customers).map(i => (i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
      r2(-999 + rnd.nextDouble() * 11000), segs(rnd.nextInt(5))))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "customer")
    save((0 until suppliers).map(i => (i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
      r2(-999 + rnd.nextDouble() * 11000)))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")
    val types = Vector("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
    save((0 until parts).map(i => (i.toLong,
      s"${Adj(rnd.nextInt(Adj.size))} ${Noun(rnd.nextInt(Noun.size))}",
      s"Brand#${1 + rnd.nextInt(25)}", types(rnd.nextInt(types.size)),
      1 + rnd.nextInt(50), r2(900 + (i % 1000) / 10.0)))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"), "part")

    val prios = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ord = (0 until orders).map { i =>
      (i.toLong, rnd.nextInt(customers).toLong, "FOP".charAt(rnd.nextInt(3)).toString,
        r2(1000 + rnd.nextDouble() * 499000),
        new Timestamp(T1995 + rnd.nextInt(2400) * Day), prios(rnd.nextInt(5)))
    }
    save(ord.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"), "orders")
    val li = ord.flatMap { o =>
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        val q = 1 + rnd.nextInt(50)
        (o._1, rnd.nextInt(parts).toLong, rnd.nextInt(suppliers).toLong, ln, q.toDouble,
          r2(q * (900 + rnd.nextDouble() * 1200)), rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, "RAN".charAt(rnd.nextInt(3)).toString,
          "OF".charAt(rnd.nextInt(2)).toString,
          new Timestamp(o._5.getTime + (1 + rnd.nextInt(120)) * Day))
      }
    }
    save(li.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate"), "lineitem")

    val evTypes = Vector("signup", "error", "click", "view", "purchase")
    val nEvents = orders * 2 / 3
    val users = math.max(20, nEvents / 66)
    save((0 until nEvents).map { i =>
      (i.toLong, new Timestamp(T2024 + (i.toLong * 30 * Day) / nEvents + rnd.nextInt(1000)),
        rnd.nextInt(users).toLong, evTypes(rnd.nextInt(5)),
        r2(0.01 + rnd.nextDouble() * rnd.nextDouble() * 300), s"""{"k": ${rnd.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"), "events")

    // one document in ten is a near copy of an earlier one (a few words
    // replaced), so the dedup chains have real candidate pairs to verify
    val langs = Vector("en", "en", "en", "zh", "es", "de", "fr")
    val docs = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    (0 until 500).foreach { i =>
      docs += (if (i > 0 && rnd.nextInt(10) == 0)
        docs(rnd.nextInt(i)).map(w => if (rnd.nextInt(20) == 0) "dup" else w)
      else Vector.fill(10 + rnd.nextInt(90))(Words(rnd.nextInt(Words.size))))
    }
    save(docs.zipWithIndex.map { case (ws, i) =>
      val text = ws.mkString(" ")
      (i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    save((0 until 500).map { i =>
      val v = Array.fill(64)(rnd.nextDouble() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat).toSeq, rnd.nextInt(10))
    }.toDF("vec_id", "embedding", "label"), "embeddings")
  }
}

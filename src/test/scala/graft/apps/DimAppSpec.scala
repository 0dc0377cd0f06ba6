package graft.apps

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class DimAppSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("DimApp streams envelopes into per-dim parquet with pk keep-latest") {
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("dims").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val config = () => Seq(("base_trademark", "dim_base_trademark", "id,tm_name", "id"))
      .toDF("source_table", "sink_table", "sink_columns", "sink_pk")
    val mem = MemoryStream[String]
    val q = DimApp.run(mem.toDF().toDF("value"), config, out, ckpt)
    try {
      mem.addData(
        """{"database":"g","table":"base_trademark","type":"insert","ts":1,"xid":1,"xoffset":1,"data":{"id":"1","tm_name":"acme","noise":"drop-me"},"old":null}""",
        """{"database":"g","table":"base_trademark","type":"update","ts":2,"xid":2,"xoffset":1,"data":{"id":"1","tm_name":"acme2"},"old":{"tm_name":"acme"}}""",
        """{"database":"g","table":"unrouted","type":"insert","ts":3,"xid":3,"xoffset":1,"data":{"id":"9"},"old":null}""")
      q.processAllAvailable()
      val dim = spark.read.parquet(s"$out/dim_base_trademark").collect()
      assert(dim.length == 1) // pk dedup kept the latest
      assert(dim.head.getAs[String]("tm_name") == "acme2")
      assert(!dim.head.schema.fieldNames.contains("noise")) // column pruning
      // batch 2: a NEW pk plus an update to pk 1 — earlier rows must
      // survive the write (merge, not overwrite-with-batch)
      mem.addData(
        """{"database":"g","table":"base_trademark","type":"insert","ts":4,"xid":4,"xoffset":1,"data":{"id":"2","tm_name":"bolt"},"old":null}""")
      q.processAllAvailable()
      // batch 3: unrelated table only — dim_base_trademark untouched
      mem.addData(
        """{"database":"g","table":"unrouted","type":"insert","ts":5,"xid":5,"xoffset":1,"data":{"id":"9"},"old":null}""")
      q.processAllAvailable()
      val dim2 = spark.read.parquet(s"$out/dim_base_trademark").collect()
      assert(dim2.length == 2) // pk 1 survived the later batches
      val byId = dim2.map(r => r.getAs[String]("id") -> r.getAs[String]("tm_name")).toMap
      assert(byId == Map("1" -> "acme2", "2" -> "bolt"))
    } finally q.stop()
  }

  test("mid-batch foreachBatch failure: the batch replays and the merge is idempotent") {
    // The soak's Runtime.halt lands BETWEEN batches (after
    // processAllAvailable); this pins the remaining crash window — the
    // query dies MID-batch, after the offset WAL committed the batch
    // but before foreachBatch completed. Structured Streaming replays
    // the batch on restart (foreachBatch is at-least-once), and
    // writeDim's keep-latest-per-pk merge makes the replay a no-op
    // repair rather than a duplicate.
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("dims_crash").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_crash").toString
    val cfgDf = () => Seq(("base_trademark", "dim_base_trademark",
      "id,tm_name", "id"))
      .toDF("source_table", "sink_table", "sink_columns", "sink_pk")
    var calls = 0
    val crashing = () => {
      calls += 1
      // batch 0 loads config fine; the SECOND batch crashes mid-body
      if (calls == 2) throw new RuntimeException("injected mid-batch crash")
      cfgDf()
    }
    val mem = MemoryStream[String]
    val q = DimApp.run(mem.toDF().toDF("value"), crashing, out, ckpt)
    mem.addData(
      """{"database":"g","table":"base_trademark","type":"insert","ts":1,"xid":1,"xoffset":1,"data":{"id":"1","tm_name":"acme"},"old":null}""")
    q.processAllAvailable()
    mem.addData(
      """{"database":"g","table":"base_trademark","type":"update","ts":2,"xid":2,"xoffset":1,"data":{"id":"1","tm_name":"acme2"},"old":{"tm_name":"acme"}}""",
      """{"database":"g","table":"base_trademark","type":"insert","ts":3,"xid":3,"xoffset":1,"data":{"id":"2","tm_name":"bolt"},"old":null}""")
    val died = intercept[Exception] { q.processAllAvailable() }
    assert(died.getMessage != null) // query terminated mid-batch
    assert(calls == 2)
    // pre-crash state on disk: batch 0 only
    val mid = spark.read.parquet(s"$out/dim_base_trademark").collect()
    assert(mid.map(_.getAs[String]("tm_name")).toSeq == Seq("acme"))
    // restart from the same checkpoint: the dead batch REPLAYS
    // (at-least-once) and completes; a second replay of batch 0 would
    // also be harmless — the merge keys on (pk, binlog order)
    val q2 = DimApp.run(mem.toDF().toDF("value"), cfgDf, out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(calls == 2) // the recovered run used the healthy loader
    val fin = spark.read.parquet(s"$out/dim_base_trademark").collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("tm_name")).toMap
    assert(fin == Map("1" -> "acme2", "2" -> "bolt"),
      s"mid-batch crash replay lost or duplicated rows: $fin")
  }

  test("writeDim swap-crash recovery: a parked snapshot is restored, not lost") {
    // writeDim's write-to-temp / park-old / promote sequence can die
    // between the park and the promote; the next write must restore
    // the parked snapshot before merging (Sinks.writeDim's
    // `!exists(path) && exists(old)` branch), so no crash point loses
    // the dimension.
    val root = java.nio.file.Files.createTempDirectory("dims_swap").toString
    def frame(rows: Seq[(String, String, Long)]) = {
      val df = rows.toDF("id", "tm_name", "_ts")
        .withColumn("_xid", org.apache.spark.sql.functions.lit(1L))
        .withColumn("_xoffset", org.apache.spark.sql.functions.lit(1L))
      graft.dim.DimRouter.DimFrame(df, "id")
    }
    graft.sinks.Sinks.writeDim(
      Map("dim_t" -> frame(Seq(("1", "acme", 1L)))), root)
    // simulate the crash window: live snapshot parked at .dim_t_old,
    // promote never happened (tmp already cleaned or incomplete)
    val fs = new java.io.File(root)
    assert(new java.io.File(fs, "dim_t").renameTo(
      new java.io.File(fs, ".dim_t_old")))
    // next batch write must first restore the parked snapshot, then merge
    graft.sinks.Sinks.writeDim(
      Map("dim_t" -> frame(Seq(("2", "bolt", 2L)))), root)
    val got = spark.read.parquet(s"$root/dim_t").collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("tm_name")).toMap
    assert(got == Map("1" -> "acme", "2" -> "bolt"),
      s"parked snapshot lost across the simulated swap crash: $got")
    assert(!new java.io.File(fs, ".dim_t_old").exists(),
      "recovery left the parked copy behind")
  }

  test("GraftExtensions makes vec_dot available session-wide (SQL string)") {
    // the shared test session is a GraftSession, so the extensions are
    // wired at build time — no per-query registration
    val r = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp").head()
    assert(r.getDouble(0) == 11.0)
    // the whole native-function surface rides the same extension
    val g = spark.sql("SELECT gram_hashes('a b c', 2) AS h").head()
    assert(g.getSeq[Long](0).length == 2)
    val tk = spark.sql(
      """SELECT topk_by(v, k, 2) AS top FROM
        |  VALUES (1.0d, 'a'), (3.0d, 'b'), (2.0d, 'c') AS t(v, k)
        |""".stripMargin).head()
    assert(tk.getSeq[String](0) == Seq("b", "c"))
    val hh = spark.sql(
      """SELECT heavy_hitters(k, 4) AS hh FROM
        |  VALUES ('x'), ('x'), ('y') AS t(k)""".stripMargin).head()
    assert(hh.getSeq[org.apache.spark.sql.Row](0)
      .map(e => e.getString(0) -> e.getLong(1)).toMap ==
      Map("x" -> 2L, "y" -> 1L))
  }
}

package graft.plans

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BandJoinRewrite — losslessness (incl. negative keys), plan shape
  * (BNLJ eliminated), guards (equi-join present / disabled flag). */
class BandJoinRewriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def frames = {
    import spark.implicits._
    // negative keys on both sides — floor-division correctness is the
    // point (truncating div would mis-bucket negatives)
    val l = (-7L to 7L).map(v => (v, s"l$v")).toDF("lv", "ltag")
    val r = (-9L to 9L by 2).map(v => (v, s"r$v")).toDF("rv", "rtag")
    (l, r)
  }

  test("band join rewritten: result exact, no nested-loop join") {
    val (l, r) = frames
    val joined = l.join(r, abs(col("lv") - col("rv")) <= 3)
    val got = joined.select("lv", "rv").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val expect = (for {
      a <- -7L to 7L; b <- -9L to 9L by 2
      if math.abs(a - b) <= 3
    } yield (a, b)).sorted
    assert(got == expect)
    val opt = joined.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_band_bl"), "rule should have fired")
    val phys = joined.queryExecution.executedPlan.toString
    assert(!phys.contains("NestedLoop"),
      s"band join should plan as an equi join:\n$phys")
  }

  test("guard: an existing equi key suppresses the rewrite") {
    val (l, r) = frames
    val joined = l.join(r,
      col("ltag") === col("rtag") && abs(col("lv") - col("rv")) <= 3)
    val opt = joined.queryExecution.optimizedPlan.toString
    assert(!opt.contains("graft_band_bl"))
  }

  test("guard: spark.graft.bandJoin.enabled=false disables the rule") {
    spark.conf.set("spark.graft.bandJoin.enabled", "false")
    try {
      val (l, r) = frames
      val joined = l.join(r, abs(col("lv") - col("rv")) <= 3)
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(!opt.contains("graft_band_bl"))
    } finally spark.conf.unset("spark.graft.bandJoin.enabled")
  }

  test("Long-extreme band keys: no ANSI overflow, result exact") {
    // keys in the first/last granule: the ±1 neighbor bucket and the
    // old pmod-based floor both used to overflow under ANSI eval —
    // the rewritten plan must succeed wherever nested-loop would
    import spark.implicits._
    val ext = Seq(Long.MinValue, Long.MinValue + 1, -3L, 0L, 2L,
      Long.MaxValue - 1, Long.MaxValue)
    val l = ext.map(v => (v, "l")).toDF("lv", "ltag")
    val r = ext.map(v => (v, "r")).toDF("rv", "rtag")
    val joined = l.join(r, abs(col("lv") - col("rv")) <= lit(2L))
    val opt = joined.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_band_bl"), "rule should have fired")
    val got = joined.select("lv", "rv").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    // reference semantics via unsigned-safe BigInt difference
    val expect = (for {
      a <- ext; b <- ext
      if (BigInt(a) - BigInt(b)).abs <= 2
    } yield (a, b)).sorted
    assert(got == expect)
  }

  test("an unusable band conjunct does not mask a later valid one") {
    val (l, r) = frames
    // first conjunct is band-SHAPED but unusable (negative width —
    // the guard matches, the body rejects); the second is the real
    // band. collectFirst used to give up at the first shape match
    // and leave the whole join as a nested loop.
    val joined = l.join(r,
      abs(col("lv") - col("rv")) <= lit(-1L) &&
        abs(col("lv") - col("rv")) <= lit(3L))
    val opt = joined.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_band_bl"),
      s"rule should fire on the second conjunct:\n$opt")
    // unsatisfiable first conjunct ⇒ empty result, same as unrewritten
    assert(joined.isEmpty)
  }

  test("zero-width band (equality in disguise) still exact") {
    val (l, r) = frames
    val joined = l.join(r, abs(col("lv") - col("rv")) <= 0)
      .select("lv", "rv").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val expect = (-7L to 7L).filter(v => v >= -9 && v <= 9 &&
      (v % 2 != 0)).map(v => (v, v)).sorted
    assert(joined == expect)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's contract surface: entry() smoke (rows > 0 at sf0.001)
  * and queries/oracleSql key coverage in both directions. */
class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query; query keys are well-formed") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracle-only keys: ${os.diff(qs)}")
    assert(qs.forall(_.matches("q\\d+_[a-z0-9_]+")))
    assert(qs.size >= 60)
  }

  test("every query without an oracle is rows-only by design") {
    val noOracle = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(noOracle == Set(
      "q121_approx_distinct", "q122_approx_quantiles", "q124_heavy_hitters",
      "q130_grouped_heavy_hitters", "q132_cooccur_heavy_hitters",
      "q138_bpe_encode", "q143_quality_classifier", "q144_curated_learned"))
  }

  test("no key appears in two packs; the registry holds all 363 queries") {
    def dups(keys: Seq[String]): Set[String] =
      keys.groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }.toSet
    val queryKeys = SparkEntry.packs.flatMap(_.queries.keys)
    assert(dups(queryKeys).isEmpty)
    assert(dups(SparkEntry.packs.flatMap(_.oracle.keys)).isEmpty)
    assert(SparkEntry.packs.distinct.size == SparkEntry.packs.size)
    assert(queryKeys.size == 363 && SparkEntry.queries.size == 363)
  }

  test("driver-compat output contract: scalar-only, no wide decimals") {
    // The driver's compare path pandas-lexsorts column values (throws
    // on list/struct objects — the r7 q148 red) and coerces numerics
    // through float64 (distinct DECIMAL(38) integers past 2^53 can
    // collapse to different nearest-doubles per engine — the r7
    // q282/q284 red). Contract: every query's output schema is
    // scalar-only, and any decimal keeps ≤ 18 digits of integer
    // magnitude — wider exact values must ship as canonical strings
    // (q283's BIGINT-milli or q282's CAST(x AS STRING) devices).
    import org.apache.spark.sql.types._
    val sf = "/root/testdata/sf0.001"
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, fn) =>
      fn(spark, sf).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] =>
          s"$n.${f.name}: nested ${f.dataType.simpleString}"
        case f @ StructField(_, dt: DecimalType, _, _)
          if dt.precision - dt.scale > 18 =>
          s"$n.${f.name}: wide ${dt.simpleString}"
      }
    }
    assert(bad.isEmpty,
      s"driver-incompatible output columns:\n${bad.mkString("\n")}")
  }

  test("all queries return rows at sf0.001 (non-trivial results)") {
    val sf = "/root/testdata/sf0.001"
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (_, fn) =>
      fn(spark, sf).isEmpty
    }.map(_._1)
    assert(empty.isEmpty, s"queries with empty results at sf0.001: $empty")
  }
}

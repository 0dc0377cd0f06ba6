package graft

import org.apache.spark.sql.SparkSession

/** Executable scale-law gate (VERDICT r14 task 1): the 100×-scale claim
  * for the wall-time family — q139/q145/q152/q280 (suffix/span) and
  * q251/q269 (ER) — previously rested on growth exponents measured once
  * and recorded in PLANS.md. This main RE-MEASURES them on deterministic
  * synthetic corpora at ×1/×4/×16 the base size, fits the growth
  * exponent of the asymptotic (×4→×16) leg, and EXITS 1 when any member
  * exceeds its recorded budget — so a rewiring that silently turns a
  * sub-linear chain superlinear fails the ladder, not a code review.
  *
  * Budgets = the PLANS.md recorded exponent + 0.30 margin (a ±20 %
  * timing error on both ends of a ×4 leg shifts the fitted exponent by
  * ln(1.44)/ln(4) ≈ 0.26 — the margin absorbs machine noise, not
  * algorithmic regression; a quadratic rewiring measures ≈ 2.0 and a
  * single-partition serial stage ≥ 1.0, both far past every budget):
  *   - q139 span_dedup_exact      0.67 (r9 full-corpus + suffixsyn) → 0.97
  *   - q145 span_dedup_rebuild    0.67 (r10 rebuild probe)          → 0.97
  *   - q152 contamination_span    0.69 (r9 full-corpus)             → 0.99
  *   - q280 contamination_compare 0.69 (inherits q152's machinery;
  *     the r11-recorded 0.33 was the DOC-CAP axis, not corpus size)  → 0.99
  *   - q251 er_pipeline           0.57 (r11 warm-leg)               → 0.87
  *   - q269 golden_record         0.55 (r11 warm-leg)               → 0.85
  *
  * Corpora are generated like ScaleProbe's (deterministic md5-token
  * text, no RNG), with one upgrade for the contamination members: each
  * 10-doc decade plants a shared ~100-char block on BOTH the benchmark
  * doc (id%10=0) and a non-benchmark doc (id%10=1), so cross-set
  * contamination runs exist at every size and the flagged-doc count
  * grows with the corpus (bench-only sharing would make the
  * contamination output empty cost-model noise). ER corpora are the
  * erProbe TPC-H-shaped customers: `Customer#%09d` names keep prefix-16
  * blocks ≤ 100 names at ANY N, so expected growth is linear in block
  * count — the blocking invariant under test.
  *
  * Usage (test scope, via sbt):
  *   Test/runMain graft.ScaleLaw [all|suffix|er] [n1 n2 n3]
  * Writes GRAFT_SCALELAW_OUT (default SCALELAW_r15.json) and exits
  * nonzero on any budget violation. */
object ScaleLaw {

  final case class Member(name: String, budget: Double,
      run: (SparkSession, String, Int) => Long)

  private def log4(x: Double): Double = math.log(x) / math.log(4.0)

  /** Suffix/span corpus: ~36 md5 tokens (~330 chars) per doc; decade
    * block planted on ids ≡ 0 and 1 (mod 10). */
  private[graft] def genDocs(spark: SparkSession, n: Int): String = {
    val dst = s"/tmp/scalelaw_docs_$n"
    if (!new java.io.File(dst).exists()) {
      val block = (1 to 12)
        .map(i => s"shared benchmark span token$i").mkString(" ")
      spark.range(n).selectExpr(
        "id AS doc_id",
        s"""concat(CASE WHEN id % 10 <= 1 THEN
           |   concat('$block', ' dec', CAST(id - id % 10 AS STRING), ' ')
           | ELSE '' END,
           | concat_ws(' ', transform(sequence(1, 36),
           |   i -> substr(md5(concat(id, ':', i)), 1, 8)))) AS text"""
          .stripMargin,
        "'en' AS lang",
        "concat('src', CAST(id % 4 AS STRING)) AS source")
        .selectExpr("doc_id", "text", "lang", "source",
          "CAST(length(text) AS LONG) AS n_chars")
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    }
    dst
  }

  /** ER corpus: TPC-H-shaped customers, shared with ScaleProbe `er` and
    * CpuScaling. */
  private[graft] def genCustomers(spark: SparkSession, n: Int): String = {
    val dst = s"/tmp/scalelaw_cust_$n"
    if (!new java.io.File(dst).exists()) {
      spark.range(n).selectExpr(
        "id + 1 AS c_custkey",
        "format_string('Customer#%09d', id + 1) AS c_name",
        "CAST(id % 25 AS INT) AS c_nationkey",
        "element_at(array('BUILDING','AUTOMOBILE','MACHINERY'," +
          "'HOUSEHOLD','FURNITURE'), CAST(id % 5 AS INT) + 1)" +
          " AS c_mktsegment",
        "CAST((id * 7919 % 999999) - 99999 AS DOUBLE) / 100 AS c_acctbal")
        .write.mode("overwrite").parquet(s"$dst/customer.parquet")
    }
    dst
  }

  private val suffixMembers = Seq(
    Member("q139_span_dedup_exact", 0.97,
      (s, dir, n) => queries.SuffixOps.spanDedupExactAt(s, dir, n).count()),
    Member("q145_span_dedup_rebuild", 0.97,
      (s, dir, n) => queries.SuffixOps.spanDedupRebuildAt(s, dir, n).count()),
    Member("q152_contamination_span", 0.99,
      (s, dir, n) => queries.SuffixOps.contaminationSpanAt(s, dir, n).count()),
    Member("q280_contamination_compare", 0.99,
      (s, dir, n) => queries.SuffixOps.contaminationCompareAt(s, dir, n).count()))

  private val erMembers = Seq(
    Member("q251_er_pipeline", 0.87,
      (s, dir, _) => queries.EntityResolutionOps.erPipeline(s, dir).count()),
    Member("q269_golden_record", 0.85,
      (s, dir, _) => queries.EntityResolutionOps.goldenRecord(s, dir).count()))

  /** Times every member at every size (warm pass at the smallest size,
    * untimed — the ScaleProbe cold-JIT lesson) and returns
    * member → (secs per size). */
  private def measure(spark: SparkSession, members: Seq[Member],
      sizes: Seq[Int], gen: (SparkSession, Int) => String)
      : Seq[(Member, Seq[Double])] = {
    val dirs = sizes.map(n => n -> gen(spark, n)).toMap
    members.map { m =>
      m.run(spark, dirs(sizes.head), sizes.head) // warm (JIT + codegen)
      val secs = sizes.map { n =>
        val t0 = System.nanoTime()
        val rows = m.run(spark, dirs(n), n)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"$sec%8.2f s  ${m.name} n=$n (rows=$rows)")
        sec
      }
      (m, secs)
    }
  }

  private def json(pairs: Seq[(String, String)]): String =
    pairs.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("all")
    require(Seq("all", "suffix", "er").contains(mode), s"bad mode $mode")
    val sizesArg = args.drop(1).map(_.toInt).toSeq
    require(sizesArg.isEmpty || sizesArg.size == 3,
      "pass exactly three sizes or none")
    val out = sys.env.getOrElse("GRAFT_SCALELAW_OUT", "SCALELAW_r15.json")

    val spark = GraftSession.start(GraftSession.cli("local[32]", 32))
    spark.sparkContext.setLogLevel("ERROR")

    val plan = Seq(
      ("suffix", suffixMembers,
        if (sizesArg.nonEmpty) sizesArg else Seq(1250, 5000, 20000),
        genDocs _),
      ("er", erMembers,
        if (sizesArg.nonEmpty) sizesArg else Seq(30000, 120000, 480000),
        genCustomers _)
    ).filter(p => mode == "all" || mode == p._1)

    var fail = false
    val famJsons = plan.map { case (fam, members, sizes, gen) =>
      val rs = measure(spark, members, sizes, gen)
      val memberJsons = rs.map { case (m, secs) =>
        val legs = secs.sliding(2).zip(sizes.sliding(2)).map {
          case (Seq(a, b), Seq(na, nb)) =>
            math.log(b / a) / math.log(nb.toDouble / na)
          case _ => Double.NaN
        }.toSeq
        val measured = legs.last // asymptotic leg gates
        val pass = measured <= m.budget
        if (!pass) fail = true
        println(f"${m.name}: legs=${legs.map(l => f"$l%.2f").mkString(",")} " +
          f"measured=$measured%.2f budget=${m.budget}%.2f " +
          (if (pass) "OK" else "FAIL"))
        m.name -> json(Seq(
          "secs" -> secs.map(s => f"$s%.2f").mkString("[", ", ", "]"),
          "exp_legs" -> legs.map(l => f"$l%.3f").mkString("[", ", ", "]"),
          "measured" -> f"$measured%.3f",
          "budget" -> m.budget.toString,
          "pass" -> pass.toString))
      }
      fam -> json(Seq(
        "sizes" -> sizes.mkString("[", ", ", "]"),
        "members" -> json(memberJsons)))
    }
    val doc = json(Seq(
      "mode" -> s""""$mode"""",
      "gate" -> """"asymptotic-leg exponent <= PLANS-recorded + 0.30"""",
      "families" -> json(famJsons),
      "pass" -> (!fail).toString))
    val w = new java.io.PrintWriter(out)
    try w.println(doc) finally w.close()
    println(s"wrote $out")
    spark.stop()
    if (fail) {
      println("SCALELAW GATE FAIL: a wall-time family member grew past " +
        "its recorded exponent budget")
      sys.exit(1)
    }
    println("SCALELAW GATE OK")
  }
}

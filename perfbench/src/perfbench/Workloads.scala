package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.Trigger

import graft.io.XenaTsv
import graft.ops.XenaOps

/** A workload: a session warm-up counted in set-up (the first Spark job
  * of the JVM runs there), untimed staging, timed
  * rounds of ops, an untimed correctness check that marks mismatching
  * ops failed, and the per-layer figures only the workload itself
  * knows. */
trait Workload {
  def warmUp(): Unit = ()
  def prepare(): Unit = ()
  def round(r: Int): Unit
  def check(): Unit = ()
  def extras(layers: Map[String, Double]): Map[String, Double] = Map.empty
}

object Workload {
  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Drop what a finished op left cached or checkpointed (blocking, so
    * the removal never runs inside the next op's timing). */
  def isolate(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def failOps(rec: Recorder, why: String)(p: Op => Boolean): Unit =
    rec.synchronized(rec.ops.filter(p).foreach { o => o.ok = false; o.error = why })

  /** Run untimed, independent Spark work from one thread each (the FAIR
    * scheduler shares the executors between them); rethrows the first
    * failure. */
  def concurrently(tasks: (() => Unit)*): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.map { t =>
      val th = new Thread(() => try t() catch { case e: Throwable => errors.add(e) })
      th.start(); th
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}

/** The paper's pipeline: `etl-batch` over P projects x the plan's dtypes; the
  * pan-cancer STAR-counts matrix assembled incrementally in a bucketed
  * store (`merge-xena --bucketed-store`, one op per project) and
  * exported; `merge-xena` of every other merged dtype across projects;
  * `metadata` per merged output. The cell checks against the
  * generator's closed forms run afterwards in run.py; the store export
  * is checked here against the one-shot merge. */
final class EtlCohorts(spark: SparkSession, rec: Recorder, plan: JsonNode, raw: String,
    work: String) extends Workload {
  private val projects = Workload.strings(plan.get("projects"))
  private val dtypes = Workload.strings(plan.get("dtypes"))
  private val merged = Workload.strings(plan.get("merged"))
  private val stored = "star_counts"

  private def out(r: Int) = s"$work/etl/r$r"
  private def matrix(r: Int, p: String, d: String) = s"${out(r)}/matrices/$p/$d.tsv"

  /** `etl-batch` of a one-sample project of every dtype, counted in
    * setup_s; it also runs the JVM's first Spark job. Without it the
    * first pair of each dtype pays its code path's first use (class
    * loading, JIT, codegen), so the pairs of the first project form a
    * slower population than those of the second and op_p50_s falls
    * between the two. Its pairs run side by side: first-use costs are
    * mostly driver-side and overlap. */
  override def warmUp(): Unit =
    CliCall.check(Seq("etl-batch", "-r", plan.get("warm_raw").asText, "-o", s"$work/etl/warm",
      "-p", plan.get("warm_project").asText, "-t") ++ dtypes ++
      Seq("--parallel", spark.sparkContext.defaultParallelism.toString))

  def round(r: Int): Unit = {
    val pairs = projects.flatMap(p => dtypes.map(d => s"$p/$d"))
    // One etl-batch call runs every (project, dtype) pair in order; each
    // pair's op ends at its own "[etl-batch] <pair>: ok|QUARANTINED" line
    // and starts where the previous pair ended.
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val args = Seq("etl-batch", "-r", raw, "-o", s"${out(r)}/matrices", "-p") ++ projects ++
      Seq("-t") ++ dtypes ++ Seq("--parallel", "1")
    val (lines, fatal) =
      try (CliCall.run(args)._2, null: String)
      catch { case scala.util.control.NonFatal(e) => (Nil, String.valueOf(e.getMessage)) }
    val Done = """\[etl-batch\] (\S+): (ok|QUARANTINED.*)""".r
    var (prevMs, prevNs) = (t0ms, t0)
    val seen = scala.collection.mutable.Set.empty[String]
    lines.foreach { l =>
      l.text match {
        case Done(pair, status) if pairs.contains(pair) =>
          val ok = status == "ok"
          rec.add(Op(r, "etl", pair, prevMs, l.ms, (l.nanos - prevNs) / 1e9, ok,
            if (ok) null else status))
          seen += pair
          prevMs = l.ms; prevNs = l.nanos
        case _ =>
      }
    }
    pairs.filterNot(seen).foreach { p =>
      rec.add(Op(r, "etl", p, prevMs, prevMs, 0.0, ok = false,
        Option(fatal).getOrElse("no etl-batch status line")))
    }
    // Absolute store path: a relative one splits the store between the
    // working directory and the session warehouse (see README.md).
    projects.foreach { p =>
      rec.op(r, "store_merge", p) {
        CliCall.check(Seq("merge-xena", "-t", stored, "-f", matrix(r, p, stored),
          "--bucketed-store", s"${out(r)}/store"))
      }
    }
    rec.op(r, "export", stored) {
      CliCall.check(Seq("merge-xena", "-t", stored, "--bucketed-store", s"${out(r)}/store",
        "-o", s"${out(r)}/merged/$stored.tsv"))
    }
    merged.filterNot(_ == stored).foreach { d =>
      rec.op(r, "merge", d) {
        CliCall.check(Seq("merge-xena", "-t", d, "-f") ++
          projects.map(p => matrix(r, p, d)) ++ Seq("-o", s"${out(r)}/merged/$d.tsv"))
      }
    }
    merged.foreach { d =>
      rec.op(r, "metadata", d) {
        CliCall.check(Seq("metadata", "-t", d, "-p", s"${out(r)}/merged/$d.tsv", "-c", "GDC PANCAN"))
      }
    }
  }

  override def check(): Unit =
    rec.rounds.map(_._1).foreach { r =>
      val equal =
        try XenaOps.canonicalEqual(XenaTsv.read(spark, s"${out(r)}/merged/$stored.tsv"),
          XenaOps.mergeHorizontal(projects.map(p => XenaTsv.read(spark, matrix(r, p, stored))),
            "Ensembl_ID"))
        catch { case scala.util.control.NonFatal(_) => false }
      if (!equal)
        Workload.failOps(rec, "store export != one-shot merge")(o => o.round == r && o.kind == "export")
    }

  override def extras(layers: Map[String, Double]): Map[String, Double] = {
    val rounds = rec.rounds.map(_._1)
    val mb = 1024.0 * 1024.0
    val newMb = rounds.flatMap(r => projects.map(p => Workload.dirBytes(matrix(r, p, stored)))).sum / mb
    Map(
      "cli.quarantined" -> rec.ops.count(o => o.kind == "etl" && !o.ok).toDouble,
      "store.live_mb" -> Workload.dirBytes(s"${out(rounds.max)}/store") / mb,
      "store.write_amp" -> (if (newMb > 0) layers.getOrElse("store.write_mb", 0.0) / newMb else 0.0))
  }
}

/** `SparkEntry.queries` (the mix in queries.tsv) in a seeded order, each
  * written to parquet — the output run.py compares with the DuckDB
  * oracle — with blocking isolation between queries. */
final class QueryMix(spark: SparkSession, rec: Recorder, plan: JsonNode, data: String,
    work: String) extends Workload {
  private val order = Workload.strings(plan.get("order"))
  private val family = plan.get("family")
  private var persisted = 0L

  /** The first of `graft.Bench`'s warm-up shapes, a parquet scan with a
    * partial-aggregate exchange. It carries the session's first job and
    * first generated code; `graft.Bench`'s other two shapes are left out
    * to keep a run within its time budget. */
  override def warmUp(): Unit = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$data/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("s"), count(lit(1)).as("n"))
      .write.mode("overwrite").format("noop").save()
  }

  def round(r: Int): Unit = order.foreach { q =>
    val fn = graft.SparkEntry.queries(q)
    rec.op(r, "query", q) {
      fn(spark, data).write.mode("overwrite").parquet(s"$work/queries/r$r/$q")
    }
    persisted += spark.sparkContext.getPersistentRDDs.size
    Workload.isolate(spark)
  }

  override def check(): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val sql = om.createObjectNode()
    order.foreach(q => graft.SparkEntry.oracleSql.get(q).foreach(s => sql.put(q, s)))
    Files.writeString(Paths.get(s"$work/queries/oracle_sql.json"), om.writeValueAsString(sql))
  }

  override def extras(layers: Map[String, Double]): Map[String, Double] = {
    val fams = Seq("ops", "dedup", "similarity", "functions", "multimodal", "xena")
    val byFam = rec.ops.filter(_.kind == "query")
      .groupBy(o => family.get(o.name).asText).view.mapValues(_.map(_.latencyS).sum).toMap
    fams.map(f => s"query.${f}_s" -> byFam.getOrElse(f, 0.0)).toMap +
      ("parallelism.persisted_rdds" -> persisted.toDouble)
  }
}

/** Several workloads' op sequences run back to back in each round. */
final class Composite(parts: Workload*) extends Workload {
  override def warmUp(): Unit = parts.foreach(_.warmUp())
  override def prepare(): Unit = parts.foreach(_.prepare())
  def round(r: Int): Unit = parts.foreach(_.round(r))
  override def check(): Unit = parts.foreach(_.check())
  override def extras(layers: Map[String, Double]): Map[String, Double] =
    parts.map(_.extras(layers)).reduce(_ ++ _)
}

/** Seeded drops land `landings` times per round; after each landing
  * two streams run one AvailableNow trigger each: the STAR-counts
  * matrix (a stateful complete-mode aggregation) and the language-ID
  * drift ledger (an append ledger scored against a fitted store).
  * Checked against the batch computation over the same landed data. */
final class StreamLanding(spark: SparkSession, rec: Recorder, plan: JsonNode, work: String,
    landings: Int) extends Workload {
  import graft.ops.LangIdStore
  import graft.streaming.{LangIdStream, MatrixStream, StreamCurate}
  import graft.transform.GdcTransforms

  private val base = s"$work/stream"
  private val landDocs = s"$base/land_docs"
  private val landStar = s"$base/land_star"
  private val docDrops = Workload.strings(plan.get("doc_drops"))
  private val starDrops = plan.get("star_drops").elements().asScala.map(Workload.strings).toSeq
  private val strategy = graft.model.DTypes.registry("star_counts").strategy
    .asInstanceOf[graft.model.DTypes.SampleColumnsMatrix]
  private var starSchema: org.apache.spark.sql.types.StructType = _

  private def ck(name: String) = s"$base/checkpoints/$name"

  override def prepare(): Unit = {
    Files.createDirectories(Paths.get(landDocs))
    Files.createDirectories(Paths.get(landStar))
    val ref = spark.read.parquet(plan.get("reference").asText)
    // untimed staging, independent, so run concurrently
    Workload.concurrently(
      () => LangIdStore.createAt(spark, ref, s"$base/langid_store"),
      () => starSchema = MatrixStream.rawSchema(spark,
        Paths.get(starDrops.head.head).getParent.toString, strategy.read))
    Workload.isolate(spark)
  }

  private def land(r: Int): Unit = {
    val d = Paths.get(docDrops(r))
    Files.move(d, Paths.get(landDocs, d.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
    starDrops(r).foreach { f =>
      val p = Paths.get(f)
      Files.move(p, Paths.get(landStar, p.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def trigger(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  def round(r: Int): Unit = (r * landings until (r + 1) * landings).foreach(landing(r, _))

  private def landing(r: Int, l: Int): Unit = {
    // The first op of a landing includes moving its drops in (renames).
    rec.op(r, "stream", "matrix") {
      land(l)
      trigger(MatrixStream.incrementalLongMatrix(spark, landStar, strategy, starSchema)
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ck("matrix"))
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) => b.write.mode("overwrite").parquet(s"$base/out/matrix") }
        .start())
    }
    rec.op(r, "stream", "langid") {
      trigger(LangIdStream.maintain(spark, landDocs, s"$base/langid_store", s"$base/out/langid",
        ck("langid"), StreamCurate.docSchema))
    }
    Workload.isolate(spark)
  }

  private def same(a: => DataFrame, b: => DataFrame): Boolean =
    try XenaOps.canonicalEqual(a, b)
    catch { case scala.util.control.NonFatal(e) => System.err.println(e); false }

  override def check(): Unit = {
    val landed = rec.rounds.map(_._1).flatMap(r => r * landings until (r + 1) * landings)
    def drop(r: Int) = spark.read.parquet(
      Paths.get(landDocs, Paths.get(docDrops(r)).getFileName.toString).toString)
    def check(name: String)(ok: => Boolean): () => Unit = () =>
      if (!ok) Workload.failOps(rec, s"incremental $name != batch")(_.name == name)
    // untimed and independent: the comparisons run concurrently
    Workload.concurrently(
      check("matrix")(same(spark.read.parquet(s"$base/out/matrix"),
        GdcTransforms.longMeanValues(GdcTransforms.readRaw(spark, landStar, strategy.read), strategy))),
      check("langid")(same(spark.read.parquet(s"$base/out/langid"),
        landed.map(r => LangIdStore.mixDrift(spark, s"$base/langid_store", drop(r))
          .withColumn("batch", lit(r.toLong))).reduce(_ unionByName _))))
    Workload.isolate(spark)
  }

  override def extras(layers: Map[String, Double]): Map[String, Double] = {
    def rows(p: String) =
      if (Files.exists(Paths.get(p))) spark.read.parquet(p).count().toDouble else 0.0
    Map("streaming.ledger_rows" -> rows(s"$base/out/langid"))
  }
}

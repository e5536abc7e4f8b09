package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.gdc.{GdcCatalog, HttpTransport}
import graft.io.{BucketedTable, CohortStore, DownloadExecutor, XenaMetadata, XenaTsv}
import graft.model.DTypes
import graft.ops.XenaOps
import graft.transform.{Clinical, GdcTransforms}

/** CLI surface mirroring the reference `xge` entry point
  * (`main.py:44-116`): `etl`, `merge-xena`, `metadata`, `xena-eql`,
  * `gdc-check-new`, plus the network `download` verb backing `etl`.
  * Argument shapes follow the reference subcommands; execution is the
  * Spark engine.
  *
  * Every verb is one [[Verb]] in [[verbs]]: its name, its usage
  * synopsis and its body. The synopsis is also the verb's flag spec
  * (argparse parity): an unknown flag, a missing required flag or a
  * malformed number exits 2 naming the verb and the flag, before any
  * Spark session starts.
  */
object Cli {

  /** Network seam: every subcommand that talks to GDC builds its
    * transport here, so specs swap in fixtures while production gets
    * the JDK client under the reference's 10-retry/0.5-backoff policy
    * (`utils.py:187-204`). `usePost` is requested by verbs whose
    * filter payload exceeds URL limits (`gdc-check-new`'s 20k-uuid
    * batches — `gdc.py:626-635`).
    */
  private[graft] var transportFactory: Boolean => HttpTransport =
    usePost => HttpTransport.default(usePost = usePost)

  /** The running session, unchanged, when there is one (a test JVM, an
    * embedding harness); else [[GraftSession.local]] under FAIR job
    * scheduling: `etl-batch --parallel` submits independent dataset
    * jobs from N driver threads; under the default FIFO they'd queue
    * behind the largest dataset's stages instead of sharing executors.
    * No-op for single-job verbs. */
  private def session(): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .getOrElse(GraftSession.local().config("spark.scheduler.mode", "FAIR").getOrCreate())

  /** A bad command line: the verb's synopsis is printed and the run exits 2. */
  private final class ArgError(msg: String) extends Exception(msg)

  /** One verb: its name, its usage synopsis and its body. The synopsis
    * declares the flags the verb accepts (`-i|--input` declares two
    * spellings of one flag) and, before its first flag, its positional
    * arguments (`<a>` required, `[b]` optional). */
  private[graft] final case class Verb(name: String, synopsis: String)(val body: Args => Int) {
    /** Every spelling -> the first spelling of its flag. */
    val flags: Map[String, String] =
      """(?<![\w-])-{1,2}[A-Za-z][\w-]*(?:\|-{1,2}[A-Za-z][\w-]*)*""".r
        .findAllIn(synopsis).map(_.split('|').toList).foldLeft(Map.empty[String, String]) {
          (acc, spellings) =>
            val key = spellings.collectFirst(acc).getOrElse(spellings.head)
            acc ++ spellings.map(_ -> key)
        }
    /** The placeholders before the first flag: `<a>` required, `[b]` optional. */
    val positional: List[String] = synopsis.linesIterator.next().split(' ').toList
      .filter(_.nonEmpty).takeWhile(t => !t.startsWith("-") && !t.startsWith("[-") && !t.startsWith("("))
    def usage: String = synopsis.linesIterator.zipWithIndex.map {
      case (l, 0) => f"  $name%-10s $l"
      case (l, _) => " " * 13 + l
    }.mkString("\n")
  }

  /** One verb's command line. A token starting with `-` is a flag and
    * the tokens after it its values; a repeated flag ACCUMULATES values
    * (`-f a -f b` == `-f a b`). Tokens before the first flag are the
    * positional arguments. Parsing and every accessor throw
    * [[ArgError]] on a bad command line. */
  private[graft] final class Args(verb: Verb, argv: List[String]) {
    def fail(msg: String): Nothing = throw new ArgError(msg)
    def missing(flag: String): Nothing = fail(s"missing required flag $flag")

    val pos: List[String] = argv.takeWhile(!_.startsWith("-"))
    private val values: Map[String, List[String]] =
      argv.drop(pos.size).foldLeft((Map.empty[String, List[String]], "")) {
        case ((acc, _), f) if f.startsWith("-") =>
          val k = verb.flags.getOrElse(f, fail(s"unknown flag $f"))
          (acc.updated(k, acc.getOrElse(k, Nil)), k)
        case ((acc, k), v) => (acc.updated(k, acc(k) :+ v), k)
      }._1
    if (pos.size > verb.positional.size) fail(s"unexpected argument ${pos(verb.positional.size)}")
    verb.positional.drop(pos.size).find(_.startsWith("<")).foreach(p => fail(s"missing argument $p"))

    private def key(flag: String): String = verb.flags.getOrElse(flag,
      throw new IllegalArgumentException(s"${verb.name} reads $flag, which its synopsis lacks"))

    def has(flag: String): Boolean = values.contains(key(flag))
    def list(flag: String): List[String] = values.getOrElse(key(flag), Nil)
    def opt(flag: String): Option[String] =
      values.get(key(flag)).map(_.headOption.getOrElse(fail(s"flag $flag needs a value")))
    def str(flag: String, dflt: String): String = opt(flag).getOrElse(dflt)
    /** A required flag's value. */
    def apply(flag: String): String = opt(flag).getOrElse(missing(flag))
    def num[T](flag: String)(parse: String => T): Option[T] = opt(flag).map { v =>
      try parse(v)
      catch { case _: NumberFormatException => fail(s"flag $flag expects a number, got '$v'") }
    }
    def int(flag: String, dflt: Int): Int = num(flag)(_.toInt).getOrElse(dflt)
    def long(flag: String, dflt: Long): Long = num(flag)(_.toLong).getOrElse(dflt)
    def long(flag: String): Long = num(flag)(_.toLong).getOrElse(missing(flag))
    def double(flag: String, dflt: Double): Double = num(flag)(_.toDouble).getOrElse(dflt)
    /** A comma-separated list of doubles (`--q 0.25,0.5`). */
    def doubles(flag: String, dflt: Seq[Double]): Seq[Double] =
      num(flag)(_.split(",").toSeq.map(_.toDouble)).getOrElse(dflt)

    /** Read every argument before this: an argument error must exit
      * before a Spark session starts. */
    def spark: SparkSession = session()
  }

  /** An `AvailableNow` maintainer run to completion: returns once every
    * landed file is committed, rethrowing the query's failure. */
  private def drain(q: StreamingQuery): Unit = q.awaitTermination()

  /** Shared body of the modality signature-store verbs (`image-store`,
    * `audio-store`): the store layout, link/append dance and stream
    * maintenance are signature-generic ([[graft.dedup.SigBandStore]] /
    * [[graft.streaming.SigStream]]); the modality contributes the
    * signing stage, pair column names and default radius. */
  private def sigStoreVerb(
      a: Args,
      modality: String,
      aCol: String,
      bCol: String,
      dfltMaxHamming: Int,
      sign: (SparkSession, String) => DataFrame,
      streamMaintain: (SparkSession, String, String, String, String, Int) => StreamingQuery): Int = {
    val (in, store, create, stream) = (a("-i"), a("-s"), a.has("--create"), a.has("--stream"))
    val (createBands, createBuckets) = (a.int("--bands", 4), a.int("--buckets", 0))
    val out = if (create) "" else a("-o")
    val ckpt = if (stream) a("--checkpoint") else ""
    val maxHamming = a.int("--max-hamming", dfltMaxHamming)
    val spark = a.spark
    if (create) {
      val table = graft.dedup.SigBandStore.createAt(spark, sign(spark, in), "name", "sig", store,
        sigBits = 64, bands = createBands, buckets = createBuckets)
      println(s"$modality signature store created at $store ($createBands bands, ${BucketedTable.buckets(spark, table)} buckets)")
    } else if (stream) {
      drain(streamMaintain(spark, in, store, out, ckpt, maxHamming))
      println(s"streamed $modality links -> $out; store updated")
    } else {
      import org.apache.spark.sql.functions.{col, greatest, least}
      val (table, (sigBits, bands, buckets)) = graft.dedup.SigBandStore.attach(spark, store)
      val sigs = sign(spark, in)
        .transform(graft.ops.Parallelism.stage) // consumed twice: link + append
      graft.dedup.SigBandStore.linkNew(spark, table, sigs, "name", "sig",
          maxDist = maxHamming, sigBits = sigBits, bands = bands)
        .filter(col("id_a") =!= col("id_b"))
        .select(least(col("id_a"), col("id_b")).as(aCol),
          greatest(col("id_a"), col("id_b")).as(bCol),
          col("hamming"))
        .write.mode("overwrite").parquet(out)
      graft.dedup.SigBandStore.append(spark, table, sigs, "name", "sig",
        sigBits = sigBits, bands = bands, buckets = buckets)
      println(s"$modality links (max hamming $maxHamming) -> $out; store updated")
    }
    0
  }

  /** Read the 'New File UUID' column from a data-release TSV, local
    * path or http(s) URL, gzipped or plain — what the reference does
    * with `pd.read_csv(url, sep='\t')` in `main.py:44-47`. The file is
    * a release manifest (tens of thousands of rows at most) — a plain
    * driver-side read, no Spark job.
    */
  private[graft] def readUuidColumn(
      pathOrUrl: String, transport: HttpTransport): List[String] = {
    val raw: java.io.InputStream =
      if (pathOrUrl.startsWith("http://") || pathOrUrl.startsWith("https://")) {
        val (status, in) = transport.open(pathOrUrl, Map.empty)
        if (status < 200 || status >= 300) {
          in.close()
          sys.error(s"fetching $pathOrUrl failed: HTTP $status")
        }
        in
      } else java.nio.file.Files.newInputStream(java.nio.file.Paths.get(pathOrUrl))
    // Sniff the gzip magic (0x1f 0x8b) instead of trusting the name:
    // a presigned URL's query string defeats an endsWith(".gz") check
    // (".../release.tsv.gz?token=x") and would feed binary bytes to
    // the TSV parser as text.
    val buffered = new java.io.BufferedInputStream(raw)
    buffered.mark(2)
    val b1 = buffered.read()
    val b2 = buffered.read()
    buffered.reset()
    val in: java.io.InputStream =
      if (b1 == 0x1f && b2 == 0x8b) new java.util.zip.GZIPInputStream(buffered)
      else buffered
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      val lines = src.getLines()
      if (!lines.hasNext) sys.error(s"$pathOrUrl is empty")
      val header = lines.next().split('\t')
      val idx = header.indexOf("New File UUID")
      require(idx >= 0,
        s"$pathOrUrl has no 'New File UUID' column (got: ${header.mkString(", ")})")
      lines.map(_.split('\t')).collect {
        case f if f.length > idx && f(idx).nonEmpty => f(idx)
      }.toList
    } finally src.close()
  }

  /** The Loader metadata variables of one dtype's matrix: the cohort,
    * today's UTC date, and the dtype's own variables. */
  private def metadataVars(dtype: String, cohort: String): XenaMetadata.Vars = {
    val vars0 = XenaMetadata.Vars(
      xenaCohort = cohort,
      date = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("MM-dd-yyyy")))
    XenaMetadata.dtypeVariables.get(dtype).map(_(vars0)).getOrElse(vars0)
  }

  /** One dtype's ETL: raw dir → matrix TSV + Loader metadata JSON. */
  private def etlOne(
      spark: SparkSession,
      dtype: String,
      rawDir: String,
      out: String,
      cohort: String): Unit = {
    val matrix: DataFrame = dtype match {
      case "clinical" => Clinical.clinicalMatrix(spark, rawDir)
      case "survival" =>
        GdcTransforms.survivalMatrix(spark, s"$rawDir/survival.tsv", s"$rawDir/case_samples.json")
      case d => GdcTransforms.transform(spark, d, rawDir)
    }
    XenaTsv.write(matrix, out, rowKey = Some(matrix.columns.head))
    XenaMetadata.write(out, DTypes.registry(dtype).metadataKind, metadataVars(dtype, cohort),
      spark.sessionState.newHadoopConf())
  }

  /** Long-shape dtypes merge vertically; matrix dtypes horizontally
    * (reference `utils.py:92-112`). */
  private def isLongShape(dtype: String): Boolean =
    DTypes.registry.get(dtype).exists(c =>
      c.kind == DTypes.MatrixKind.GenomicSegment || c.kind == DTypes.MatrixKind.MutationVector)

  /** The gdc2xena.py driver loop (E1, `gdc2xena.py:55-110`): every
    * requested (project, dtype) is attempted; failures are QUARANTINED
    * (recorded, loop continues) and summarized at the end instead of
    * aborting the run. The quarantine PERSISTS: after every failure
    * `<root>/unfinished.json` is rewritten (`gdc2xena.py:97-105`) and
    * the stack trace appends to a per-run `<root>/etl_<ts>.err` log
    * (`gdc2xena.py:67-78,106-108`), so a crashed or killed
    * multi-project run can `--resume`: re-attempt exactly the recorded
    * pairs, skipping recorded successes. */
  private def etlBatch(a: Args): Int = {
    val (root, outDir, resume, cohort) = (a("-r"), a("-o"), a.has("--resume"), a.opt("-c"))
    // The -t/-p expansion is the non-resume branch's: a resume's work
    // list ignores both, so running it anyway would add a spurious
    // network round-trip (`-p all`) to every offline retry.
    val dtypes0 = a.list("-t")
    if (!resume && dtypes0.isEmpty) a.missing("-t")
    val (projects0, notDtypes, notProjects) =
      (a.list("-p"), a.list("--not-datatype").toSet, a.list("--not-projects").toSet)
    // `--delete-raw`: drop a pair's raw dir once its matrix is written
    // (`gdc2xena.py:93-95` shutil.rmtree on delete_raw_data) — a
    // 33-project × 22-dtype run would otherwise hold every raw
    // download on disk simultaneously.
    val deleteRaw = a.has("--delete-raw")
    // `--parallel N` (default 1): N driver threads each submit their
    // dataset's Spark jobs concurrently — a 33-project × 22-dtype
    // backfill of mostly-small datasets otherwise leaves the cluster
    // idle between one dataset's stages and the next's. Dataset ETLs
    // are independent by construction (distinct raw dirs, distinct
    // outputs), the ledger is synchronized, and the CLI session runs
    // the FAIR scheduler so concurrent jobs share executors instead of
    // queuing FIFO behind the largest one.
    val parallel = a.int("-j", 1)
    require(parallel >= 1, s"--parallel must be >= 1, got $parallel")
    val spark = a.spark
    val ledger = new EtlQuarantine(root)
    // Work list: projects × dtypes, or exactly the quarantined pairs
    // when resuming ("." is the project-less key — raw data directly
    // under <root>/<dtype>).
    val pairs: List[(String, String)] =
      if (resume) ledger.recorded
      else {
        // `-t all` / `-p all` expand like `main.py:63-71`: all valid
        // dtypes from the registry; all GDC projects via the projects
        // endpoint. `--not-datatype`/`--not-projects` subtract.
        val dtypes =
          (if (dtypes0.exists(_.equalsIgnoreCase("all")))
            DTypes.registry.keySet.toList.sorted // incl. clinical + survival
          else dtypes0).filterNot(notDtypes)
        require(dtypes.nonEmpty, "etl-batch needs -t <dtypes...>")
        // argparse-choices parity (`main.py` restricts -t to
        // valid_dtype): an unknown dtype must fail HERE — attempted, it
        // would be PERSISTED into the quarantine ledger, where --resume
        // retries the impossible pair forever.
        val unknown = dtypes.filterNot(DTypes.registry.contains)
        require(unknown.isEmpty,
          s"unknown dtype(s): ${unknown.mkString(", ")} " +
            s"(valid: ${DTypes.registry.keys.toList.sorted.mkString(", ")})")
        val projects =
          (if (projects0.exists(_.equalsIgnoreCase("all"))) {
            val catalog = new GdcCatalog(spark, HttpTransport.fetchFn(transportFactory(false)))
            // Driver-sized by contract: the projects endpoint is a
            // catalog of ~80 rows, same as the reference's index scan.
            catalog.projectInfo().select("project_id")
              .collect().map(_.getString(0)).toList.sorted
          } else projects0).filterNot(notProjects).distinct
        (if (projects.isEmpty) List(".") else projects).flatMap(p => dtypes.map(p -> _))
      }
    val nOk = new java.util.concurrent.atomic.AtomicInteger
    val nFail = new java.util.concurrent.atomic.AtomicInteger
    // First interrupt wins; workers stop pulling new pairs once set.
    val aborted =
      new java.util.concurrent.atomic.AtomicReference[graft.gdc.GdcInterrupted](null)
    def attempt(proj: String, d: String): Unit = {
      val sub = if (proj == ".") d else s"$proj/$d"
      try {
        etlOne(spark, d, s"$root/$sub", s"$outDir/$sub.tsv",
          cohort.getOrElse(if (proj == ".") "GDC " + d else "GDC " + proj))
        nOk.incrementAndGet()
        ledger.succeeded(proj, d)
        if (deleteRaw) {
          println(s"[etl-batch] $sub: deleting raw data")
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/$sub"))
        }
        println(s"[etl-batch] $sub: ok")
      } catch {
        // Cancellation is NOT a dataset failure: GdcInterrupted is a
        // RuntimeException (hence NonFatal), but quarantining it would
        // record a user ctrl-C as an unfinished pair and keep iterating
        // the remaining work with the interrupt flag set. Abort the
        // whole run instead — the ledger keeps whatever it held before
        // this pair, so --resume still re-attempts it.
        case e: graft.gdc.GdcInterrupted =>
          println(s"[etl-batch] $sub: interrupted - aborting run " +
            s"(${ledger.recorded.size} pair(s) remain recorded for --resume)")
          aborted.compareAndSet(null, e)
        // NonFatal only: an OOM/linkage error means the session is no
        // longer trustworthy — quarantining it and "succeeding" the
        // remaining dtypes on a corrupted JVM would report garbage as ok.
        case scala.util.control.NonFatal(e) =>
          nFail.incrementAndGet()
          ledger.failed(proj, d, e)
          // A write that failed mid-job leaves its directory without a
          // `_SUCCESS` marker (its overwrite had already cleared any
          // earlier matrix); a failure before the write keeps the last
          // good matrix.
          val out = new org.apache.hadoop.fs.Path(s"$outDir/$sub.tsv")
          val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
          if (fs.exists(out) && !fs.exists(new org.apache.hadoop.fs.Path(out, "_SUCCESS")))
            fs.delete(out, true)
          println(s"[etl-batch] $sub: QUARANTINED (${e.getMessage})")
      }
    }
    if (parallel == 1)
      pairs.foreach { case (p, d) =>
        if (aborted.get == null) attempt(p, d)
      }
    else {
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      pairs.foreach(queue.add)
      // Anything escaping `attempt` is fatal by construction (its
      // handlers cover GdcInterrupted + NonFatal). Sequential mode lets
      // a fatal propagate and abort the run; a worker thread dying
      // silently instead would leave the other workers "succeeding"
      // datasets on a corrupted JVM — capture it, stop the pool, and
      // rethrow after the join.
      val fatal = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      val workers = (1 to math.min(parallel, pairs.size)).map { i =>
        val t = new Thread(() => {
          // FAIR mode fair-shares BETWEEN pools; within a pool the
          // default is still FIFO. One pool per worker (a thread-local
          // property, inherited by this thread's jobs) is what makes
          // concurrent datasets actually share executors.
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"etl-$i")
          try {
            var next = queue.poll()
            while (next != null && aborted.get == null && fatal.get == null) {
              attempt(next._1, next._2)
              next = queue.poll()
            }
          } catch { case e: Throwable => fatal.compareAndSet(null, e) }
        }, s"etl-batch-$i")
        t.start(); t
      }
      workers.foreach(_.join())
      Option(fatal.get).foreach(throw _)
    }
    // An interrupt aborts the whole run (after in-flight datasets wound
    // down) with the same semantics as the sequential rethrow.
    Option(aborted.get).foreach(throw _)
    // Exit code reflects THIS run; the persisted ledger may still hold
    // older pairs this run didn't attempt (printed for resume).
    println(s"[etl-batch] ${nOk.get}/${pairs.size} succeeded")
    ledger.recorded.foreach { case (p, d) =>
      println(s"[etl-batch] unfinished: ${if (p == ".") d else s"$p/$d"}")
    }
    if (nFail.get == 0) 0 else 1
  }

  /** Every verb, in help order. */
  private[graft] val verbs: Seq[Verb] = Seq(
    Verb("etl", "-t|--datatype <dtype> -r|--root <raw-dir> -o|--output <out-matrix> [-c <cohort>]") { a =>
      val (dtype, rawDir, out) = (a("-t"), a("-r"), a("-o"))
      val cohort = a.str("-c", "GDC " + dtype)
      etlOne(a.spark, dtype, rawDir, out, cohort)
      println(s"matrix + metadata written to $out")
      0
    },

    Verb("etl-batch", "-t|--datatypes <dtypes...|all> -r|--root <root> -o|--output <out-dir> [-p|--projects <projects...|all>] [--not-datatype <d...>] [--not-projects <p...>] [--resume] [--delete-raw] [-j|--parallel N] [-c <cohort>]\n" +
      "(quarantines failures to <root>/unfinished.json + etl_<ts>.err; --resume re-attempts exactly those)")(etlBatch),

    Verb("merge-xena", "-f|--files <files...> -t|--datatype <dtype> -o|--output <out-matrix>\n" +
      "--bucketed-store <dir> -t <dtype> [-f <files...>] [-o <out-matrix>]\n" +
      "(a persistent store of cohort matrices: -f copies each matrix in and commits it, with no Spark job; " +
      "-o writes the merge of every committed cohort in row-key order)") { a =>
      val (files, dtype, storeDir) = (a.list("-f"), a("-t"), a.opt("--bucketed-store"))
      val out = if (storeDir.isEmpty) Some(a("-o")) else a.opt("-o")
      val spark = a.spark
      storeDir match {
        // Incremental assembly: each invocation adds cohorts to the
        // store's manifest, and the export is the one-shot merge over
        // every committed cohort, as join_xena.sh assembles per-cohort
        // matrices once. `-o` is optional: merging and exporting are
        // separate concerns.
        case Some(dir) =>
          require(!isLongShape(dtype),
            "--bucketed-store is the horizontal (matrix dtype) merge path; " +
              s"$dtype merges vertically and needs no row-key store")
          val m =
            if (files.nonEmpty) CohortStore.merge(spark, dir, files)
            else {
              require(CohortStore.exists(spark, dir), "initializing a bucketed store needs -f <files...>")
              CohortStore.read(spark, dir)
            }
          out.foreach { o =>
            // Row-key order, as join_xena.sh's sort renders it, sorted
            // inside the sink's single task.
            val merged = XenaOps.mergeHorizontal(
              CohortStore.matrices(spark, dir, DTypes.matrixSchema(dtype, _)), m.rowKey)
            XenaTsv.write(merged.coalesce(1).sortWithinPartitions(merged.col(s"`${m.rowKey}`")), o,
              rowKey = Some(m.rowKey))
          }
          println(s"bucketed store $dir: v${m.version}, ${m.samples.size} sample columns" +
            (if (files.nonEmpty) s" (+${files.size} matrices merged)" else ""))
        case None =>
          require(files.nonEmpty, "merge-xena needs -f <files...>")
          // Typed from the registry: no inference job per input file.
          val dfs = files.map(f => XenaTsv.readTyped(spark, f, DTypes.matrixSchema(dtype, _)))
          val merged =
            if (isLongShape(dtype)) XenaOps.mergeVertical(dfs)
            else XenaOps.mergeHorizontal(dfs, dfs.head.columns.head)
          XenaTsv.write(merged, out.get, rowKey = Some(merged.columns.head))
          println(s"merged ${files.size} matrices to ${out.get}")
      }
      0
    },

    Verb("metadata", "-t|--datatype <dtype> -p|--path <matrix-path> [-c <cohort>]") { a =>
      val dtype = a("-t")
      val out = XenaMetadata.write(a("-p"), DTypes.registry(dtype).metadataKind,
        metadataVars(dtype, a.str("-c", "GDC " + dtype)))
      println(s"metadata written to $out")
      0
    },

    Verb("xena-eql", "<matrix-a> <matrix-b>") { a =>
      val spark = a.spark
      val equal = XenaOps.canonicalEqual(
        XenaTsv.read(spark, a.pos(0), None), XenaTsv.read(spark, a.pos(1), None))
      println(if (equal) "Equal matrices." else "Matrices differ.")
      if (equal) 0 else 1
    },

    Verb("gdc-check-new", "<release-tsv-url-or-path>   (summary TSV on stdout)") { a =>
      // Reference `xge gdc-check-new <URL>` (`main.py:43-48,135-144`):
      // the argument is a data-release TSV[.gz] with a 'New File UUID'
      // column; the summary table prints to stdout as TSV
      // (`gdc.py:652` to_csv(sys.stdout, sep='\t')).
      val transport = transportFactory(true)
      val uuids = readUuidColumn(a.pos.head, transport)
      val catalog = new GdcCatalog(a.spark, HttpTransport.fetchFn(transport))
      val df = catalog.checkNew(uuids)
      if (df.columns.nonEmpty) {
        println(df.columns.mkString("\t"))
        // Collect is summary-sized: rows are distinct
        // (workflow, projects, data_type) combinations post-dedup.
        df.collect().foreach { r =>
          println(df.columns.indices
            .map(i => Option(r.get(i)).map(_.toString).getOrElse(""))
            .mkString("\t"))
        }
      }
      0
    },

    Verb("download", "-m|--manifest <manifest.tsv: name md5sum url> -o|--output <raw-dir>") { a =>
      // The reference's XenaDataset.download step (xena_dataset.py:
      // 571-664) as a standalone verb: manifest TSV (name, md5sum,
      // url) → raw dir, md5-reconciled against what's already there.
      val (manifest, dest) = (a("-m"), a("-o"))
      val spark = a.spark
      val remote = spark.read.option("sep", "\t").option("header", "true")
        .csv(manifest).select("name", "md5sum", "url")
      val report = DownloadExecutor.sync(
        spark, remote, java.nio.file.Paths.get(dest), transportFactory(false))
      println(s"[download] ${report.downloaded.size} downloaded, " +
        s"${report.deleted.size} stale deleted, ${report.redacted.size} redacted, " +
        s"${report.quarantined.size} quarantined")
      report.quarantined.foreach { case (n, why) =>
        println(s"[download] QUARANTINED $n - $why") }
      if (report.ok) 0 else 1
    },

    Verb("explain", "<sfDir> [q01_agg_pushdown,...]   (formatted physical plans, all queries when none named; regenerates EXPLAIN.md)") { a =>
      // Plans are explained without running; AQE-final shapes are
      // asserted separately in PlanShapeSpec.
      val names = a.pos.lift(1).fold(SparkEntry.queries.keys.toSeq.sorted)(_.split(",").toSeq)
      val spark = a.spark
      names.foreach { name =>
        println(s"\n===== $name =====")
        try println(SparkEntry.queries(name)(spark, a.pos.head).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
        catch { case scala.util.control.NonFatal(e) => println(s"(failed: ${e.getMessage})") }
      }
      0
    },

    // ---- training-data pipeline subcommands (beyond-parity surface) --

    Verb("dedup", "-i|--input <docs.parquet> -o|--output <out.parquet> [--mode exact|near] [--max-bucket 10000] [--survivor min-id|best-quality] [--id doc_id] [--text text]") { a =>
      // Exact or near (minhash-LSH verified) dedup of a documents
      // parquet: writes (doc_id, cluster_id); survivors are the rows
      // where doc_id == cluster_id.
      val (in, out, mode, maxBucket) = (a("-i"), a("-o"), a.str("--mode", "exact"), a.long("--max-bucket", 10000L))
      val (idCol, textCol, survivor) = (a.str("--id", "doc_id"), a.str("--text", "text"), a.opt("--survivor"))
      val docs = a.spark.read.parquet(in)
      val clusters = mode match {
        case "exact" =>
          // Dedup.exact's shape (partial-aggregating groupBy for the
          // keeper, then a keyed join back) instead of a window: the
          // window form plans a full sort per fingerprint partition
          // for the same output. Fingerprints computed ONCE — the
          // frame feeds both the keeper aggregate and the join.
          import org.apache.spark.sql.functions.{col, min => fmin}
          val fps = docs.select(col(idCol),
            graft.functions.TextFunctions.fingerprint(col(textCol)).as("fp"))
            .transform(graft.ops.Parallelism.stage)
          fps.join(
            fps.groupBy("fp").agg(fmin(col(idCol)).as("cluster_id")), Seq("fp"))
            .select(col(idCol), col("cluster_id"))
        case "near" =>
          val pairs = graft.dedup.Dedup.minHashLshPairs(
            docs, idCol, textCol, n = 2, threshold = 0.8,
            maxBucketSize = maxBucket)
          graft.dedup.Dedup.dupClusters(
            docs.selectExpr(idCol), pairs, idCol)
        case other => sys.error(s"dedup --mode must be exact|near, got $other")
      }
      // --survivor best-quality additionally writes the quality-aware
      // survivor table (cluster_id, id, quality) next to the clusters
      // — the member kept per cluster is the highest-quality one
      // (min id on ties) instead of the min-id canonical.
      survivor match {
        case Some("best-quality") =>
          import org.apache.spark.sql.functions.col
          val scored = docs.select(col(idCol),
            graft.functions.TextFunctions.qualityScore(col(textCol)).as("quality"))
          graft.dedup.Dedup.keepBestPerCluster(clusters, scored, idCol, "quality")
            .write.mode("overwrite").parquet(s"$out.survivors")
          println(s"best-quality survivors written to $out.survivors")
        case Some("min-id") | None => // min-id canonical: doc_id == cluster_id rows
        case Some(other) =>
          sys.error(s"dedup --survivor must be min-id|best-quality, got $other")
      }
      clusters.write.mode("overwrite").parquet(out)
      println(s"dedup ($mode) clusters written to $out")
      0
    },

    Verb("curate", "-i|--input <docs.parquet> -o|--output <out.parquet> [--min-quality 0.5] [--id doc_id] [--text text]") { a =>
      // Quality/language/length filter + exact-dedup survivors: writes
      // the curated corpus (all source columns preserved).
      val (in, out, minQuality) = (a("-i"), a("-o"), a.double("--min-quality", 0.5))
      val (textCol, idCol) = (a.str("--text", "text"), a.str("--id", "doc_id"))
      import org.apache.spark.sql.functions.col
      val docs = a.spark.read.parquet(in)
      val keepers = graft.dedup.Dedup.exact(docs, idCol, textCol)
        .select(col("keep_id").as(idCol))
      docs
        .join(keepers, Seq(idCol), "left_semi")
        .filter(graft.functions.TextFunctions.qualityScore(col(textCol)) >= minQuality)
        .write.mode("overwrite").parquet(out)
      println(s"curated corpus written to $out")
      0
    },

    Verb("curate-pipeline", "-i|--input <docs.parquet> -o|--output <out-dir> [--bench <parquet>] [--ct-lang] [--lang-store <langid-store-path>] [--seed <sql-bool-expr>] [--min-quality 0.5] [--min-tokens 5] [--max-tokens 1000] [--jaccard 0.8] [--budget 10000]   (writes corpus/ + ledger.json; --seed adds measured per-stage quality + decontam_audit/; --lang-store relabels from a frozen langid-store instead of an in-run CT fit)") { a =>
      // Full curation pipeline (q79's composition via ops/Curation):
      // near-dup clusters -> best-quality survivor -> quality/length
      // gates -> benchmark decontamination -> per-source token budget.
      // Writes the curated corpus parquet plus the per-stage row-count
      // ledger (ledger.json) a production curation run ships with its
      // output. --bench points at a held-out (doc_id, text) parquet;
      // without it the corpus's own hash-split valid slice is the
      // benchmark (the q79 contract).
      val (in, out) = (a("-i"), a("-o"))
      val cfg = graft.ops.Curation.Config(
        jaccardThreshold = a.double("--jaccard", 0.8),
        minQuality = a.double("--min-quality", 0.5),
        minTokens = a.int("--min-tokens", 5),
        maxTokens = a.int("--max-tokens", 1000),
        budgetPerSource = a.long("--budget", 10000L))
      // --ct-lang: replace the incoming lang labels with the
      // Cavnar–Trenkle classifier's prediction (fit once on those
      // labels) before curating — the pluggable lang source for
      // corpora whose labels aren't trusted. --lang-store <path>:
      // same relabeling from a FROZEN LangIdStore instead (fit paid at
      // store creation — the production shape; Bench's curation_lang
      // store probe measures the split). Default keeps the arriving
      // labels (the q79 contract).
      val (ctLang, langStore, benchPath, seed) =
        (a.has("--ct-lang"), a.opt("--lang-store"), a.opt("--bench"), a.opt("--seed"))
      if (ctLang && langStore.nonEmpty)
        sys.error("pass either --ct-lang (in-run fit) or --lang-store " +
          "(frozen store), not both - the two name different label sources")
      val spark = a.spark
      import org.apache.spark.sql.functions.col
      val raw = spark.read.parquet(in)
      val docs = langStore match {
        case Some(storePath) => graft.ops.Curation.withStoreLang(spark, storePath, raw)
        case None => if (ctLang) graft.ops.Curation.withCtLang(raw) else raw
      }
      val bench = benchPath match {
        case Some(p) => spark.read.parquet(p).select("doc_id", "text")
        case None => docs
          .filter(graft.functions.TextFunctions.hashSplit(col("doc_id")) === "valid")
          .select("doc_id", "text")
      }
      def writeLedger(json: String): Unit = {
        val ledgerPath = java.nio.file.Paths.get(out, "ledger.json")
        java.nio.file.Files.createDirectories(ledgerPath.getParent)
        java.nio.file.Files.write(ledgerPath, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      // --seed <sql bool>: upgrade the ledger to MEASURED per-stage
      // filter quality (precision/recall/f1/auc against the trusted
      // label) plus the before/after decontamination retrieval audit.
      seed match {
        case Some(seedExpr) =>
          val (curatedOut, lines, audit) = graft.ops.Curation.withQualityLedger(
            docs, bench, org.apache.spark.sql.functions.expr(seedExpr), cfg)
          curatedOut.write.mode("overwrite").parquet(s"$out/corpus")
          def num(o: Option[Double]) = o.map(_.toString).getOrElse("null")
          writeLedger(lines.map(s =>
            s"""  {"stage": "${s.stage}", "rows": ${s.rows}, "tokens": ${s.tokens},""" +
              s""" "precision": ${num(s.precision)}, "recall": ${num(s.recall)},""" +
              s""" "f1": ${num(s.f1)}, "auc": ${num(s.auc)}}""")
            .mkString("[\n", ",\n", "\n]"))
          audit.coalesce(1).write.mode("overwrite").parquet(s"$out/decontam_audit")
          lines.foreach(s => println(f"${s.stage}%-16s ${s.rows}%d rows  " +
            f"recall=${num(s.recall)}%s precision=${num(s.precision)}%s"))
          println(s"curated corpus + quality ledger + decontam audit written to $out")
        case None =>
          val (curatedOut, ledger) = graft.ops.Curation.withLedger(docs, bench, cfg)
          curatedOut.write.mode("overwrite").parquet(s"$out/corpus")
          writeLedger(ledger.map(s => s"""  {"stage": "${s.stage}", "rows": ${s.rows}}""")
            .mkString("[\n", ",\n", "\n]"))
          ledger.foreach(s => println(f"${s.stage}%-16s ${s.rows}%d"))
          println(s"curated corpus + ledger written to $out")
      }
      0
    },

    Verb("ann", "-i|--input <embeddings.parquet> -o|--output <out.parquet> [--mode brute|lsh|ivf|ivf-index|lsh-index|pq|pq-index|ivfpq-index] [--index <path>] [-k 10] [--dim 64] [--queries-where '<pred>'] [--mmr-lambda 0.5] [--id vec_id] [--vec embedding]") { a =>
      // Approximate (or exact) nearest neighbors over an embedding
      // parquet: writes (query_id, neighbor_id, cos, rank). Queries
      // default to the corpus itself filtered by --queries-where.
      val (in, out, mode, k, dim) = (a("-i"), a("-o"), a.str("--mode", "ivf"), a.int("-k", 10), a.int("--dim", 64))
      val (idCol, vecCol) = (a.str("--id", "vec_id"), a.str("--vec", "embedding"))
      val where = a.str("--queries-where", s"$idCol < 8")
      val index = if (mode.endsWith("-index")) a("--index") else ""
      val mmrLambda = a.num("--mmr-lambda")(_.toDouble)
      val spark = a.spark
      import org.apache.spark.sql.functions.col
      import graft.similarity.Similarity
      val corpus = spark.read.parquet(in)
      val queries = corpus.filter(where)
        .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      val topk = mode match {
        case "brute" => Similarity.bruteForceTopK(
          corpus, queries, idCol, vecCol, "q_id", "q_vec", k)
        case "lsh" => Similarity.lshTopK(
          corpus, queries, idCol, vecCol, "q_id", "q_vec",
          dim = dim, bits = 6, k = k, tables = 4)
        case "ivf" => Similarity.ivfTopK(
          corpus, queries, idCol, vecCol, "q_id", "q_vec",
          dim = dim, k = k, nlist = 24, nprobe = 6)
        case "ivf-index" =>
          Similarity.ivfTopKIndexed(spark, index, queries, "q_id", "q_vec", k = k, nprobe = 6)
        case "lsh-index" =>
          Similarity.lshTopKIndexed(spark, index, queries, "q_id", "q_vec", k = k)
        case "pq" => Similarity.pqTopK(
          corpus, idCol, vecCol, queries, "q_id", "q_vec", k = k, dim = dim)
        case "pq-index" =>
          Similarity.pqTopKIndexed(spark, index, queries, "q_id", "q_vec", k = k)
        case "ivfpq-index" =>
          Similarity.ivfPqTopKIndexed(spark, index, queries, "q_id", "q_vec", k = k, nprobe = 6)
        case other => sys.error(
          s"ann --mode must be brute|lsh|ivf|ivf-index|lsh-index|pq|pq-index|ivfpq-index, got $other")
      }
      // --mmr-lambda: diversify the page with Maximal Marginal
      // Relevance before writing (output becomes query_id, doc_id,
      // rank, mmr; λ=1 keeps the relevance order).
      val result = mmrLambda match {
        case Some(lambda) => Similarity.mmrRerank(
          topk.select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("cos").as("score")),
          corpus, idCol, vecCol, k = k, lambda = lambda)
        case None => topk
      }
      result.write.mode("overwrite").parquet(out)
      println(s"ann ($mode) top-$k written to $out")
      0
    },

    Verb("lang-id", "-i|--input <docs.parquet> -o|--output <out.parquet> [--confusion | --profiles-from <labeled.parquet>] [--top-m 64] [--id doc_id] [--lang lang]") { a =>
      // Cavnar-Trenkle character-n-gram language identification:
      // --confusion reports the (true, predicted) matrix on a labeled
      // corpus; default classifies against profiles fit on a labeled
      // reference (--profiles-from, defaults to the input itself).
      val (in, out, topM, idCol, langCol) =
        (a("-i"), a("-o"), a.int("--top-m", 64), a.str("--id", "doc_id"), a.str("--lang", "lang"))
      val (confusion, profilesFrom) = (a.has("--confusion"), a.opt("--profiles-from"))
      val spark = a.spark
      val docs = spark.read.parquet(in)
      if (confusion) {
        graft.ops.LangId.confusion(docs, idCol, langCol, "text", topM)
          .write.mode("overwrite").parquet(out)
        println(s"langid confusion matrix written to $out")
      } else {
        val ref = profilesFrom.map(spark.read.parquet(_)).getOrElse(docs)
        val profiles = graft.ops.LangId.langProfiles(ref, langCol, "text", topM)
        graft.ops.LangId.classify(docs, idCol, "text", profiles, topM)
          .write.mode("overwrite").parquet(out)
        println(s"langid predictions written to $out")
      }
      0
    },

    Verb("quantiles", "-i|--input <data.parquet> -o|--output <out.parquet> [--col value] [--q 0.25,0.5,0.75,0.95] [--sketch-k 256]") { a =>
      // Exact quantiles of an unbounded double column (KLL sketch
      // bracket + exact confirm — never a global sort): one row per
      // requested q with the true rank-ceil(qN) element.
      val (in, out, colName) = (a("-i"), a("-o"), a.str("--col", "value"))
      val (qs, k) = (a.doubles("--q", Seq(0.25, 0.5, 0.75, 0.95)), a.int("--sketch-k", 256))
      graft.ops.Quantiles.exactQuantiles(a.spark.read.parquet(in), colName, qs, k)
        .write.mode("overwrite").parquet(out)
      println(s"exact quantiles of $colName (${qs.mkString(",")}) written to $out")
      0
    },

    Verb("reindex", "-s|--index <ivf-index> [--max-occ-cv 1.0] [--max-sqerr <f>] [--iters 2]   (rebuilds only when breached; logs reindex.json)") { a =>
      // Act on the IVF health report: measure the persisted index
      // (occupancy CV over all cells + weighted mean quantization
      // error) against thresholds and rebuild it from its own stored
      // vectors ONLY when breached. The decision is logged to
      // <index>/reindex.json either way — the audit trail that says
      // why an index was (or wasn't) rebuilt.
      val (index, maxCv, maxErr, iters) = (a("-s"), a.double("--max-occ-cv", 1.0),
        a.double("--max-sqerr", Double.MaxValue), a.int("--iters", 2))
      val d = graft.similarity.Similarity.reindexIfUnhealthy(a.spark, index, maxCv, maxErr, iters)
      println((if (d.rebuilt) "REBUILT" else "healthy") + s": ${d.reason}")
      0
    },

    Verb("retune", "-s|--store <band-store> (-i|--input <docs.parquet> [--bucket-cap 1000] [--id doc_id] [--text text] | --sig [--new-bands 2]) [--max-cand-per-doc 100]   (re-bands only when breached; logs retune.json)") { a =>
      // Act on the banding health (the reindex verb's sibling for the
      // band stores): measure the persisted band table's candidate
      // mass per stored doc/item and re-band ONLY on breach — a text
      // band store re-signs the corpus (-i) under a tighter bucket
      // cap; a signature store rebuilds from its own rows with fewer
      // bands. Decision logged to <store>/retune.json either way.
      val (store, maxMass, sig) = (a("-s"), a.double("--max-cand-per-doc", 100.0), a.has("--sig"))
      val (newBands, cap) = (a.int("--new-bands", 2), a.long("--bucket-cap", 1000L))
      val in = if (sig) "" else a("-i")
      val (idCol, textCol) = (a.str("--id", "doc_id"), a.str("--text", "text"))
      val spark = a.spark
      val (retuned, reason) =
        if (sig) {
          val dd = graft.dedup.SigBandStore.retuneIfSkewed(spark, store, maxMass, newBands)
          (dd.retuned, dd.reason)
        } else {
          val dd = graft.dedup.BandStore.retuneIfSkewed(
            spark, store, spark.read.parquet(in), idCol, textCol, maxMass, cap)
          (dd.retuned, dd.reason)
        }
      println((if (retuned) "RETUNED" else "healthy") + s": $reason")
      0
    },

    Verb("vocab", "-i|--input <docs.parquet> -o|--output <out.tsv> [-k 1000] [--text text]") { a =>
      // Corpus vocabulary: token frequencies, top-k as TSV.
      val (in, out, k, textCol) = (a("-i"), a("-o"), a.int("-k", 1000), a.str("--text", "text"))
      import org.apache.spark.sql.functions._
      val top = a.spark.read.parquet(in)
        .select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(k)
      XenaTsv.write(top, out, rowKey = Some("token"))
      println(s"top-$k vocabulary written to $out")
      0
    },

    Verb("bpe-train", "-i|--input <docs.parquet> -o|--output <merges.tsv> [--merges 32] [--text text]") { a =>
      // Train a BPE merge table (Quality.bpeMerges) and ship it as the
      // ordered TSV a tokenize run consumes: step, left, right,
      // merged, count.
      val (in, out, n, textCol) = (a("-i"), a("-o"), a.int("--merges", 32), a.str("--text", "text"))
      import org.apache.spark.sql.functions.col
      val docs = a.spark.read.parquet(in).withColumn("text", col(textCol))
      val merges = graft.ops.Quality.bpeMerges(docs, n)
      val body = ("step\tleft\tright\tmerged\tcount" +:
        merges.map(mg => s"${mg.step}\t${mg.left}\t${mg.right}\t${mg.merged}\t${mg.cnt}"))
        .mkString("", "\n", "\n")
      val p = java.nio.file.Paths.get(out)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"${merges.size} BPE merges written to $out")
      0
    },

    Verb("tokenize", "-i|--input <docs.parquet> -o|--output <out.parquet> --merges <merges.tsv> [--id doc_id] [--text text]") { a =>
      // Apply a trained merge table (bpe-train's TSV) to the corpus:
      // per-doc whitespace-token and BPE-piece counts
      // (Quality.bpeEncode) — the trained-tokenizer length signal a
      // data-budget pass weighs documents by.
      val (in, out, mergesPath) = (a("-i"), a("-o"), a("--merges"))
      val (textCol, idCol) = (a.str("--text", "text"), a.str("--id", "doc_id"))
      val spark = a.spark
      import org.apache.spark.sql.functions.col
      val lines = scala.io.Source.fromFile(mergesPath, "UTF-8")
      val merges = try lines.getLines().drop(1).filter(_.nonEmpty).map { l =>
        val f = l.split('\t')
        require(f.length == 5, s"malformed merge line in $mergesPath: $l")
        graft.ops.Quality.BpeMerge(f(0).toInt, f(1), f(2), f(3), f(4).toLong)
      }.toSeq finally lines.close()
      val docs = spark.read.parquet(in)
        .withColumn("doc_id", col(idCol)).withColumn("text", col(textCol))
      graft.ops.Quality.bpeEncode(docs, merges)
        .write.mode("overwrite").parquet(out)
      println(s"tokenized with ${merges.size} merges -> $out")
      0
    },

    Verb("split", "-i|--input <docs.parquet> -o|--output <out.parquet> [--train 80] [--valid 10] [--id doc_id]") { a =>
      // Deterministic hash-bucket train/valid/test assignment.
      val (in, out, idCol) = (a("-i"), a("-o"), a.str("--id", "doc_id"))
      val (trainPct, validPct) = (a.int("--train", 80), a.int("--valid", 10))
      if (trainPct < 0 || validPct < 0 || trainPct + validPct > 100)
        a.fail(s"--train ($trainPct) and --valid ($validPct) must be >= 0 and sum to <= 100" +
          " (the remainder is the test split)")
      import org.apache.spark.sql.functions.col
      a.spark.read.parquet(in)
        .select(col(idCol),
          graft.functions.TextFunctions.hashSplit(col(idCol), trainPct, validPct).as("split"))
        .write.mode("overwrite").parquet(out)
      println(s"split assignment written to $out")
      0
    },

    Verb("pack", "-i|--input <docs.parquet | landing-dir> -o|--output <out> [--budget 512] [--window 50] [--stride 40] [--stream [--checkpoint <dir>]] [--id doc_id] [--text text]\n" +
      "--compact -o <streamed-pack-store> [--budget N]   (restore global order between maintenance windows; --budget only for stores predating the _budget pin)") { a =>
      // Chunk documents into sliding token windows and assign
      // fixed-budget training contexts (the q61/q63 pipeline).
      // --stream treats --input as a landing directory and continues
      // the token cumsum across micro-batches (PackStream).
      val (out, budget) = (a("-o"), a.num("--budget")(_.toLong))
      if (a.has("--compact")) {
        // Maintenance verb: restore batch-q63 global order over a
        // streamed pack store (no input needed — the store's own chunk
        // rows are the assignment input). The geometry comes from the
        // store's pinned budget; --budget is only an override for
        // stores predating the pin (a conflict refuses).
        graft.streaming.PackStream.compact(a.spark, out, budget)
        println(s"pack store compacted to global (doc_id, chunk_seq) order: $out")
      } else {
        val (in, window, stride) = (a("-i"), a.int("--window", 50), a.int("--stride", 40))
        val (idCol, textCol) = (a.str("--id", "doc_id"), a.str("--text", "text"))
        val (stream, ckpt) = (a.has("--stream"), a.str("--checkpoint", s"$out/_checkpoint"))
        val spark = a.spark
        import org.apache.spark.sql.functions.col
        if (stream) {
          drain(graft.streaming.PackStream.maintain(
            spark, in, out, ckpt, budget.getOrElse(512L), window, stride))
          println(s"packed stream caught up; packs under $out/data")
        } else {
          val docs = spark.read.parquet(in)
            .select(col(idCol).as("doc_id"), col(textCol).as("text"))
          graft.ops.Packing.assign(graft.ops.Packing.chunk(docs, window, stride), budget.getOrElse(512L))
            .write.mode("overwrite").parquet(out)
          println(s"pack assignment written to $out")
        }
      }
      0
    },

    Verb("decontaminate", "-i|--input <docs.parquet> -b|--benchmark <bench.parquet> -o|--output <out.parquet> [-n 5] [--bloom] [--trim] [--id doc_id] [--text text]") { a =>
      // Default: drop corpus docs sharing any word n-gram with the
      // benchmark set (GPT-3-style decontamination); writes the clean
      // corpus. --trim instead cuts only the contaminated SPANS
      // (n-token windows present in the benchmark), keeping the rest
      // of each document: (doc_id, n_tokens, n_removed, trimmed_text).
      val (in, benchPath, out, n) = (a("-i"), a("-b"), a("-o"), a.int("-n", 5))
      val (idCol, textCol, trim, bloom) =
        (a.str("--id", "doc_id"), a.str("--text", "text"), a.has("--trim"), a.has("--bloom"))
      val spark = a.spark
      import org.apache.spark.sql.functions.col
      val docs = spark.read.parquet(in)
      val bench = spark.read.parquet(benchPath)
      if (trim) {
        graft.dedup.Dedup.decontaminateTrim(docs, bench, idCol, textCol, n)
          .write.mode("overwrite").parquet(out)
        println(s"span-decontaminated corpus written to $out")
      } else {
        // --bloom: broadcast Bloom-prefilter path — same rows (no
        // false negatives + exact confirm), clean docs never explode
        // their grams. The default for large corpora with rare
        // contamination; the plain path wins only when most documents
        // are contaminated anyway.
        val contaminated = (if (bloom)
          graft.dedup.Dedup.crossNgramOverlapBloom(docs, bench, idCol, textCol, n)
        else
          graft.dedup.Dedup.crossNgramOverlap(docs, bench, idCol, textCol, n))
          .select(col("doc_id").as(idCol))
        docs.join(contaminated, Seq(idCol), "left_anti").write.mode("overwrite").parquet(out)
        println(s"decontaminated corpus written to $out")
      }
      0
    },

    Verb("fp-store", "--create -i|--input <docs.parquet> -s|--store <store-dir> [--buckets N] | --ingest -i <batch.parquet> -s <store-dir> -o|--output <accepted.parquet>   [--id doc_id] [--text text]") { a =>
      // Incremental exact-dedup store: --create persists the corpus
      // fingerprint set bucketed-by-fp; --ingest dedups a new batch
      // against it (batch-side-only shuffle), writes the accepted
      // rows, and appends their fingerprints — so re-ingesting the
      // same batch accepts zero rows (idempotent re-delivery).
      val (in, store, create, buckets) = (a("-i"), a("-s"), a.has("--create"), a.int("--buckets", 0))
      val (idCol, textCol) = (a.str("--id", "doc_id"), a.str("--text", "text"))
      val out = if (create) "" else a("-o")
      val spark = a.spark
      if (create) {
        val table = graft.dedup.FingerprintStore.createAt(
          spark, spark.read.parquet(in), idCol, textCol, store, buckets)
        println(s"fingerprint store created at $store (${BucketedTable.buckets(spark, table)} buckets)")
      } else {
        val (table, buckets) = graft.dedup.FingerprintStore.attach(spark, store)
        val batch = spark.read.parquet(in)
        val accepted = graft.dedup.FingerprintStore
          .dedupeNew(spark, table, batch, idCol, textCol)
          // snapshot pin: probes the store the append below grows, and
          // is counted after it (a recompute would accept 0 rows)
          .localCheckpoint(false)
        accepted.write.mode("overwrite").parquet(out)
        graft.dedup.FingerprintStore.append(spark, table, accepted, idCol, textCol, buckets)
        println(s"accepted ${accepted.count()} of ${batch.count()} batch rows -> $out; store updated")
      }
      0
    },

    Verb("curate-stream", "-i|--input <landing-dir> -s|--store <fp-store> --bench <parquet> -o|--output <out-dir> --checkpoint <dir> [--min-quality 0.5]") { a =>
      // Incremental curation (streaming/StreamCurate): documents
      // landing in a directory pass the per-document gates (quality,
      // length, decontamination vs a static benchmark) and exact-
      // dedupe against the fingerprint store; survivors append to the
      // curated corpus with a per-batch ledger line. Create the store
      // first (fp-store --create, possibly over an empty corpus);
      // corpus-global stages (near-dup clusters, budget) run as
      // periodic batch passes via curate-pipeline.
      val (in, store, benchPath, out) = (a("-i"), a("-s"), a("--bench"), a("-o"))
      val (ckpt, minQuality) = (a("--checkpoint"), a.double("--min-quality", 0.5))
      val spark = a.spark
      val bench = spark.read.parquet(benchPath).select("doc_id", "text")
      drain(graft.streaming.StreamCurate.maintain(
        spark, in, store, bench, out, ckpt, minQuality = minQuality))
      println(s"streamed curation -> $out/corpus (+ _ledger); store updated")
      0
    },

    Verb("drift-stream", "-i|--input <landing-dir> -s|--store <lm-store> -o|--output <ledger-dir> --checkpoint <dir> [--group source]") { a =>
      // Streaming distribution-drift monitor: per micro-batch, one
      // KL-vs-frozen-LM-store row per group lands at
      // ledger/batch=<id> (overwrite - replay idempotent).
      val (in, store, out, ckpt, grp) = (a("-i"), a("-s"), a("-o"), a("--checkpoint"), a.str("--group", "source"))
      val spark = a.spark
      val schema = spark.read.parquet(in).schema // landing must have >= 1 drop
      drain(graft.streaming.StreamDrift.maintain(spark, in, store, out, ckpt, schema, grp))
      println(s"streamed drift ledger -> $out")
      0
    },

    Verb("data-card", "-i|--input <docs.parquet> -o|--output <out-dir> [--budget N --epochs 2] [--langid-store <dir>] [--hll-store <dir>] [--tok-store <dir>] [--psi-store <dir> [--psi-col n_chars]] [--cms-store <dir>]   (writes card.json; stores add the drift section)") { a =>
      // Corpus data card: the one-file JSON datasheet a curated corpus
      // ships with -- sizes, lang/source composition, dup rates,
      // quality buckets, optional token-budget mixture plan.
      val (in, out, budget, epochs) = (a("-i"), a("-o"), a.long("--budget", 0L), a.long("--epochs", 2L))
      // drift posture: each provided frozen store adds its monitor's
      // rows to the card's "drift" section (v2 datasheet health).
      val drift = graft.ops.DataCard.DriftStores(
        langIdStore = a.opt("--langid-store"),
        hllStore = a.opt("--hll-store"),
        tokStore = a.opt("--tok-store"),
        psiStore = a.opt("--psi-store").map(p => (p, a.str("--psi-col", "n_chars"))),
        cmsStore = a.opt("--cms-store"))
      val spark = a.spark
      graft.ops.DataCard.write(spark, spark.read.parquet(in), out,
        budget = budget, maxEpochs = epochs, drift = drift)
      println(s"data card written to $out/card.json")
      0
    },

    Verb("eval-stream", "-i|--input <labeled-landing-dir> -s|--store <nb-store> -o|--output <ledger-dir> --checkpoint <dir> [--label y]") { a =>
      // Streaming filter-quality monitor: per labeled micro-batch, one
      // classifierMetrics row vs the FROZEN NB store lands at
      // ledger/batch=<id> (overwrite - replay idempotent).
      val (in, store, out, ckpt, label) = (a("-i"), a("-s"), a("-o"), a("--checkpoint"), a.str("--label", "y"))
      val spark = a.spark
      val schema = spark.read.parquet(in).schema // landing must have >= 1 drop
      drain(graft.streaming.EvalStream.maintain(spark, in, store, out, ckpt, schema, label))
      println(s"streamed evaluation ledger -> $out")
      0
    },

    Verb("export-shards", "-i|--input <docs.parquet> -o|--output <out-dir> [--shards 16] [--id doc_id] [--text text]   (writes shards/ + manifest.json)") { a =>
      // Sharded training export: every document lands in exactly one
      // of --shards files-worth of data, internally shuffled by the
      // deterministic md5 order (Packing.shardAssignments), written
      // partitioned by shard with rows sorted by shard_pos, plus a
      // manifest.json of per-shard row/token counts — the
      // dataloader-facing corpus sink.
      val (in, out, nShards) = (a("-i"), a("-o"), a.int("--shards", 16))
      val (idCol, textCol) = (a.str("--id", "doc_id"), a.str("--text", "text"))
      import org.apache.spark.sql.functions.{col, sum}
      val docs = a.spark.read.parquet(in)
      val assigned = graft.ops.Packing.shardAssignments(
          docs.select(col(idCol)), idCol, nShards)
        .join(docs, Seq(idCol))
        .withColumn("n_tokens",
          graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long"))
      assigned
        .repartition(nShards, col("shard"))
        .sortWithinPartitions("shard", "shard_pos")
        .write.mode("overwrite").partitionBy("shard").parquet(s"$out/shards")
      val manifest = assigned.groupBy("shard")
        .agg(org.apache.spark.sql.functions.count(col(idCol)).as("n_docs"),
          sum("n_tokens").as("n_tokens"))
        .orderBy("shard")
        .collect()
        .map(r => s"""  {"shard": ${r.getLong(0)}, "n_docs": ${r.getLong(1)}, "n_tokens": ${r.getLong(2)}}""")
        .mkString("[\n", ",\n", "\n]")
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "manifest.json"),
        manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"$nShards shards + manifest written to $out")
      0
    },

    Verb("lm-store", "--create -i|--input <docs.parquet> -s|--store <store-dir> [--buckets N] | --score -i <batch.parquet> -s <store-dir> -o|--output <out.parquet> | --oov -i <batch.parquet> -s <store-dir> -o <out.parquet> [--lang lang]") { a =>
      // Frozen corpus LM: --create fits the unigram LM on a reference
      // corpus (bucketed vocab + totals sidecar); --score rates a
      // batch under it — O(batch) quality gating with n_oov separated
      // from low-probability (two different failure modes).
      val (in, store, create, oov) = (a("-i"), a("-s"), a.has("--create"), a.has("--oov"))
      val (buckets, langCol) = (a.int("--buckets", 0), a.str("--lang", "lang"))
      val out = if (create) "" else a("-o")
      val spark = a.spark
      if (create) {
        val table = graft.ops.LmStore.createAt(spark, spark.read.parquet(in), store, buckets)
        println(s"unigram LM store created at $store (${BucketedTable.buckets(spark, table)} buckets)")
      } else if (oov) {
        graft.ops.LmStore.oovReport(spark, store, spark.read.parquet(in), langCol)
          .write.mode("overwrite").parquet(out)
        println(s"OOV aging report written to $out")
      } else {
        graft.ops.LmStore.score(spark, store, spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)
        println(s"LM scores written to $out")
      }
      0
    },

    Verb("corpus-diff", "--prev <a.parquet> --now <b.parquet> -o|--output <out.parquet> [--id doc_id] [--text text] [--source source]") { a =>
      // Snapshot release audit: per source, docs added / removed /
      // content-changed / unchanged between two corpus releases.
      val (prev, now, out) = (a("--prev"), a("--now"), a("-o"))
      val (idCol, textCol, srcCol) = (a.str("--id", "doc_id"), a.str("--text", "text"), a.str("--source", "source"))
      val spark = a.spark
      graft.ops.CorpusDiff.diff(
          spark.read.parquet(prev), spark.read.parquet(now), idCol, textCol, srcCol)
        .write.mode("overwrite").parquet(out)
      println(s"corpus diff written to $out")
      0
    },

    Verb("vocab-size", "-i|--input <docs.parquet> -o|--output <out.parquet> [--group lang] [--p 12] [--text text]") { a =>
      // Per-group vocabulary size, exact + HyperLogLog estimate (the
      // sketch is what a full-scale run keeps; the exact column gates
      // it honest at test scale).
      val (in, out, group, textCol, p) =
        (a("-i"), a("-o"), a.str("--group", "lang"), a.str("--text", "text"), a.int("--p", 12))
      graft.ops.CorpusStats.vocabSize(a.spark.read.parquet(in), group, textCol, p)
        .write.mode("overwrite").parquet(out)
      println(s"vocabulary-size report written to $out")
      0
    },

    Verb("hll-store", "--create -i|--input <ref.parquet> -s|--store <store-dir> [--p 12] [--lang lang] [--text text] | --growth -i <batch.parquet> -s <store-dir> -o|--output <out.parquet> | --ingest -i <batch.parquet> -s <store-dir> | --stream -i <landing-dir> -s <store-dir> -o <ledger-dir> --checkpoint <dir>") { a =>
      // Persisted per-language HLL registers: --create freezes the
      // reference corpus's registers; --growth reports per-language
      // estimated vocabulary before/after an arriving batch without
      // folding; --ingest folds the batch in (register-wise max,
      // replay-idempotent); --stream writes a growth ledger per
      // micro-batch at batch=<id> and folds each batch after reporting.
      val (in, store, langCol, textCol) = (a("-i"), a("-s"), a.str("--lang", "lang"), a.str("--text", "text"))
      val (create, ingest, stream, p) = (a.has("--create"), a.has("--ingest"), a.has("--stream"), a.int("--p", 12))
      val out = if (create || ingest) "" else a("-o")
      val ckpt = if (stream) a("--checkpoint") else ""
      val spark = a.spark
      if (create) {
        graft.ops.HllStore.createAt(spark, spark.read.parquet(in), store, langCol, textCol, p)
        println(s"HLL register store created at $store (p=$p)")
      } else if (ingest) {
        graft.ops.HllStore.ingest(spark, store, spark.read.parquet(in), langCol, textCol)
        println(s"batch folded into $store")
      } else if (stream) {
        val schema = spark.read.parquet(in).schema
        drain(graft.streaming.HllStream.maintain(
          spark, in, store, out, ckpt, schema, langCol, textCol))
        println(s"vocabulary-growth ledger written to $out")
      } else {
        graft.ops.HllStore.growth(spark, store, spark.read.parquet(in), langCol, textCol)
          .write.mode("overwrite").parquet(out)
        println(s"vocabulary-growth report written to $out")
      }
      0
    },

    Verb("cms-store", "--create -i|--input <ref.parquet> -s|--store <store-dir> [--d 4] [--w 1024] [--text text] | --surge -i <batch.parquet> -s <store-dir> -o|--output <out.parquet> [-k 20] | --stream -i <landing-dir> -s <store-dir> -o <ledger-dir> --checkpoint <dir> [-k 20]") { a =>
      // Frozen Count-Min-Sketch counters: --create folds the reference
      // corpus's token occurrences into a d x w counter matrix;
      // --surge reports an arriving batch's top-k tokens with exact
      // batch counts, frozen CMS reference estimates and surge ratios
      // (the template/spam alarm); --stream writes the surge report
      // per micro-batch at batch=<id> (overwrite, replay-idempotent).
      val (in, store, textCol, create, stream) =
        (a("-i"), a("-s"), a.str("--text", "text"), a.has("--create"), a.has("--stream"))
      val (d, w, k) = (a.int("--d", 4), a.int("--w", 1024), a.int("-k", 20))
      val out = if (create) "" else a("-o")
      val ckpt = if (stream) a("--checkpoint") else ""
      val spark = a.spark
      if (create) {
        graft.ops.CmsStore.createAt(spark, spark.read.parquet(in), store, d, w, textCol)
        println(s"CMS counter store created at $store (d=$d, w=$w)")
      } else if (stream) {
        val schema = spark.read.parquet(in).schema
        drain(graft.streaming.CmsStream.maintain(spark, in, store, out, ckpt, schema, k, textCol))
        println(s"surge ledger written under $out")
      } else {
        graft.ops.CmsStore.surge(spark, store, spark.read.parquet(in), k, textCol)
          .write.mode("overwrite").parquet(out)
        println(s"heavy-hitter surge report written to $out")
      }
      0
    },

    Verb("nb-store", "--create -i|--input <docs.parquet> -s|--store <store-dir> --seed <sql-bool-expr> [--buckets N] | --score -i <batch.parquet> -s <store-dir> -o|--output <out.parquet>") { a =>
      // Frozen Naive Bayes classifier: --create fits the class-
      // conditional histograms on a labeled reference corpus (seed
      // label from a SQL boolean over its columns); --score rates a
      // batch under the FROZEN model — O(batch) trainable quality /
      // langid gating, OOV priced by Laplace and counted.
      val (in, store, create, buckets) = (a("-i"), a("-s"), a.has("--create"), a.int("--buckets", 0))
      val (seed, out) = if (create) (a("--seed"), "") else ("", a("-o"))
      val spark = a.spark
      if (create) {
        val table = graft.ops.NbStore.createAt(
          spark, spark.read.parquet(in),
          org.apache.spark.sql.functions.expr(seed), store, buckets)
        println(s"NB model store created at $store (${BucketedTable.buckets(spark, table)} buckets, seed: $seed)")
      } else {
        graft.ops.NbStore.score(spark, store, spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)
        println(s"NB scores written to $out")
      }
      0
    },

    Verb("tok-store", "--create -i|--input <docs.parquet> -s|--store <store-dir> [--merges 32] | --encode -i <batch.parquet> -s <store-dir> -o|--output <out.parquet> | --drift -i <batch.parquet> -s <store-dir> -o <out.parquet>") { a =>
      // Frozen BPE tokenizer: --create trains the merge table on a
      // reference snapshot and persists it (ordered merges + training
      // fertility reference); --encode tokenizes a batch under the
      // FROZEN table (O(batch), no training jobs); --drift reports
      // per-language fertility against the snapshot — the
      // tokenizer-aging monitor.
      val (in, store, create, drift, n) = (a("-i"), a("-s"), a.has("--create"), a.has("--drift"), a.int("--merges", 32))
      val out = if (create) "" else a("-o")
      val spark = a.spark
      if (create) {
        val merges = graft.ops.TokStore.createAt(spark, spark.read.parquet(in), store, n)
        println(s"BPE tokenizer store created at $store (${merges.size} merges)")
      } else if (drift) {
        graft.ops.TokStore.fertilityDrift(spark, store, spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)
        println(s"fertility drift vs frozen tokenizer written to $out")
      } else {
        graft.ops.TokStore.encode(spark, store, spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)
        println(s"frozen-tokenizer encode written to $out")
      }
      0
    },

    Verb("langid-store", "--create -i|--input <labeled.parquet> -s|--store <store-dir> [--top-m 64] | --mix-drift -i <batch.parquet> -s <store-dir> -o|--output <out.parquet> | -i <batch.parquet> -s <store-dir> -o <out.parquet>   (frozen profiles; classify O(batch))") { a =>
      // Frozen language-ID model: --create fits Cavnar-Trenkle
      // profiles on a labeled snapshot and persists them with the
      // snapshot's labeled language mix; --mix-drift reports the
      // arriving batch's PREDICTED composition against it (the
      // feed-composition alarm); default classifies the batch.
      val (in, store, create, mixDrift, topM) =
        (a("-i"), a("-s"), a.has("--create"), a.has("--mix-drift"), a.int("--top-m", 64))
      val out = if (create) "" else a("-o")
      val spark = a.spark
      if (create) {
        graft.ops.LangIdStore.createAt(spark, spark.read.parquet(in), store, topM)
        println(s"langid store created at $store (top-$topM profiles)")
      } else if (mixDrift) {
        graft.ops.LangIdStore.mixDrift(spark, store, spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)
        println(s"language-mix drift vs frozen profiles written to $out")
      } else {
        graft.ops.LangIdStore.classify(spark, store, spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)
        println(s"frozen-profile langid predictions written to $out")
      }
      0
    },

    Verb("budget", "-i|--input <docs.parquet> -o|--output <out.parquet> -B|--budget <tokens-per-key> [--key source] [--id doc_id] [--text text]") { a =>
      // Per-key token-budget sample (the "at most B tokens from each
      // source" mixture clause): deterministic md5-order take within
      // each key until the budget is consumed. Writes (id, key,
      // weight, cum_before) for kept rows.
      val (in, out, budget, keyCol) = (a("-i"), a("-o"), a.long("-B"), a.str("--key", "source"))
      val (idCol, textCol) = (a.str("--id", "doc_id"), a.str("--text", "text"))
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      val weighted = a.spark.read.parquet(in).select(col(idCol), col(keyCol),
        coalesce(graft.functions.TextFunctions.tokenCount(col(textCol)), lit(0))
          .as("n_tokens"))
      graft.ops.Sampling.tokenBudgetPerKey(weighted, keyCol, idCol, "n_tokens", budget)
        .write.mode("overwrite").parquet(out)
      println(s"budget sample ($budget tokens per $keyCol) written to $out")
      0
    },

    Verb("sample", "-i|--input <docs.parquet | landing-dir> -o|--output <out.parquet | store-dir> [-k 12] [--group source] [--weight 'ln(2 + n_chars)'] [--stream --checkpoint <dir>] [--id doc_id]") { a =>
      // Weighted sample without replacement (Efraimidis-Spirakis): k
      // rows per group, inclusion chance proportional to a SQL weight
      // expression over the row — deterministic (md5 uniform), so
      // re-runs and engines agree row-for-row.
      val (in, out, k, groupCol, idCol) =
        (a("-i"), a("-o"), a.int("-k", 12), a.str("--group", "source"), a.str("--id", "doc_id"))
      // Default weight is ln(2 + n_chars), not ln(1 + n_chars): an
      // empty document would otherwise weigh exactly 0 and trip
      // weightedSample's deliberate non-positive-weight guard, failing
      // the whole job on legitimate input.
      val weightExpr = a.str("--weight", "ln(2 + n_chars)")
      val weight = org.apache.spark.sql.functions.expr(weightExpr)
      val stream = a.has("--stream")
      val ckpt = if (stream) a("--checkpoint") else ""
      val spark = a.spark
      if (stream) {
        // Cross-batch reservoir over a landing directory: the store at
        // -o always holds the current sample (groups x k rows).
        val schema = spark.read.parquet(in).schema // landing must have >= 1 drop
        drain(graft.streaming.StreamSample.maintain(
          spark, in, out, ckpt, schema, idCol, groupCol, weight, k))
        println(s"streamed weighted sample ($k per $groupCol) -> $out/sample")
      } else {
        graft.ops.Sampling.weightedSample(spark.read.parquet(in), idCol, groupCol, weight, k)
          .write.mode("overwrite").parquet(out)
        println(s"weighted sample ($k per $groupCol, weight $weightExpr) written to $out")
      }
      0
    },

    Verb("cluster-sample", "-i|--input <emb.parquet> -o|--output <out.parquet> [-k 8] [--nlist 24] [--dim 64] [--id vec_id] [--vec embedding] | --stream -i <landing-dir> --index <ivf-index> -o <store-dir> --checkpoint <dir> [-k 8]") { a =>
      // Cluster-balanced subset over an embeddings parquet: k vectors
      // per k-means cell (diversity-flattening quota). Batch mode
      // trains the deterministic quantizer inline; --stream assigns
      // landings against a FROZEN persisted IVF index (--index) and
      // maintains the cross-batch reservoir store at -o.
      val (in, out, k, stream) = (a("-i"), a("-o"), a.int("-k", 8), a.has("--stream"))
      val (index, ckpt) = if (stream) (a("--index"), a("--checkpoint")) else ("", "")
      val (idCol, vecCol) = (a.str("--id", "vec_id"), a.str("--vec", "embedding"))
      val (dim, nlist) = (a.int("--dim", 64), a.int("--nlist", 24))
      val spark = a.spark
      if (stream) {
        val schema = spark.read.parquet(in).schema // landing must have >= 1 drop
        drain(graft.streaming.ClusterSampleStream.maintain(spark, in, index, out, ckpt, schema, k))
        println(s"streamed cluster-balanced reservoir ($k per cell) -> $out/sample")
      } else {
        graft.similarity.Similarity.clusterBalancedSample(
          spark.read.parquet(in), idCol, vecCol, dim, nlist, k)
          .write.mode("overwrite").parquet(out)
        println(s"cluster-balanced sample ($k per cell, nlist $nlist) written to $out")
      }
      0
    },

    Verb("evaluate", "--mode retrieval -i|--input <results.parquet> -t|--truth <truth.parquet> -o|--output <out-dir> [-k 10] | --mode classifier -i <scored.parquet> -o <out.parquet> [--score log_odds --pred predicted --label y] [--group source] | --mode calibration -i <scored.parquet> -o <out.parquet> [--score log_odds --label y --bins 10 --id doc_id]") { a =>
      // Batch evaluation verbs over parquet inputs:
      //   --mode retrieval : results (query_id, doc_id, rank) vs a
      //     truth parquet (query_id, doc_id) -> per-query recall/MRR/
      //     nDCG rows plus a 1-row summary parquet alongside.
      //   --mode classifier: a scored parquet -> the single
      //     classifierMetrics row (tie-aware AUC + confusion rates).
      val (in, out, mode, k) = (a("-i"), a("-o"), a.str("--mode", "retrieval"), a.int("-k", 10))
      val truth = if (mode == "retrieval") a("-t") else ""
      val (score, pred, label) = (a.str("--score", "log_odds"), a.str("--pred", "predicted"), a.str("--label", "y"))
      val (idCol, bins, group) = (a.str("--id", "doc_id"), a.int("--bins", 10), a.opt("--group"))
      val spark = a.spark
      mode match {
        case "retrieval" =>
          val per = graft.ops.Eval.retrievalMetrics(
            spark.read.parquet(in), spark.read.parquet(truth), k)
          per.write.mode("overwrite").parquet(s"$out/per_query")
          graft.ops.Eval.retrievalSummary(spark.read.parquet(s"$out/per_query"))
            .write.mode("overwrite").parquet(s"$out/summary")
          println(s"retrieval evaluation (k=$k) -> $out/per_query + $out/summary")
        case "classifier" =>
          val scored = spark.read.parquet(in)
          val res = group match {
            case Some(g) => graft.ops.Eval.groupedClassifierMetrics(scored, g, score, pred, label)
            case None => graft.ops.Eval.classifierMetrics(scored, score, pred, label)
          }
          res.write.mode("overwrite").parquet(out)
          println(s"classifier evaluation -> $out")
        case "calibration" =>
          graft.ops.Eval.calibration(spark.read.parquet(in), idCol, score, label, bins)
            .write.mode("overwrite").parquet(out)
          println(s"calibration report ($bins bins) -> $out")
        case other => sys.error(s"evaluate: unknown --mode $other")
      }
      0
    },

    Verb("psi-store", "--create -i|--input <ref.parquet> -s|--store <store-dir> [--col value] [--qs 0.2,0.4,0.6,0.8] | -i <batch.parquet> -s <store-dir> -o|--output <out.parquet> [--col value] | --stream -i <landing-dir> -s <store-dir> -o <ledger-dir> --checkpoint <dir> [--col value]") { a =>
      // Frozen score-distribution reference for PSI drift monitoring:
      // --create fits exact quantile cut-points on a reference column
      // and freezes them with the reference bin counts; the default
      // mode bins an arriving batch under the FROZEN cuts and reports
      // per-bin shares + PSI terms; --stream writes the same report
      // per micro-batch at batch=<id> (overwrite, replay-idempotent).
      val (in, store, valueCol, create, stream) =
        (a("-i"), a("-s"), a.str("--col", "value"), a.has("--create"), a.has("--stream"))
      val qs = a.doubles("--qs", Seq(0.2, 0.4, 0.6, 0.8))
      val out = if (create) "" else a("-o")
      val ckpt = if (stream) a("--checkpoint") else ""
      val spark = a.spark
      if (create) {
        graft.ops.PsiStore.createAt(spark, spark.read.parquet(in), valueCol, store, qs)
        println(s"PSI reference frozen at $store (${qs.size + 1} bins on $valueCol)")
      } else if (stream) {
        val schema = spark.read.parquet(in).schema
        drain(graft.streaming.PsiStream.maintain(spark, in, store, out, ckpt, schema, valueCol))
        println(s"PSI ledger written to $out")
      } else {
        graft.ops.PsiStore.psi(spark, store, spark.read.parquet(in), valueCol)
          .write.mode("overwrite").parquet(out)
        println(s"PSI report written to $out")
      }
      0
    },

    Verb("mixture-plan", "-i|--input <docs.parquet> -o|--output <out.parquet> --budget <tokens> [--epochs 2] [--alpha 0.5] [--group source]") { a =>
      // Token-budget mixture allocation over a documents parquet:
      // group by --group, temperature-weighted water-filling under a
      // --budget and --epochs cap (q113's operator).
      val (in, out, grp, budget) = (a("-i"), a("-o"), a.str("--group", "source"), a.long("--budget"))
      val (epochs, alpha) = (a.long("--epochs", 2L), a.double("--alpha", 0.5))
      import org.apache.spark.sql.functions.{col, size, sum}
      val per = a.spark.read.parquet(in)
        .filter(col("text").isNotNull)
        .select(col(grp).as("source"),
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("nt"))
        .groupBy("source").agg(sum("nt").cast("long").as("n_tokens"))
      graft.ops.Mixture.tokenBudgetAllocation(per, budget, epochs, alpha)
        .write.mode("overwrite").parquet(out)
      println(s"mixture plan (budget $budget, cap $epochs epochs) -> $out")
      0
    },

    Verb("quality", "-i|--input <docs.parquet> -o|--output <out.parquet> [--mode heuristic|unigram-lm|bigram-lm|importance|novelty|buckets] [--target-where '<pred>'] [--buckets 64] [--n-buckets 3] [-n|--ngram 3] [--id doc_id] [--text text]") { a =>
      // Per-document quality / data-selection scores over a documents
      // parquet: --mode heuristic (length/stopword/punctuation
      // composite), unigram-lm (mean token log-prob under the corpus's
      // own unigram LM), importance (DSIR hashed-unigram log-weights
      // against --target-where rows), novelty (fraction of distinct
      // n-grams unique to the doc).
      val (in, out, mode) = (a("-i"), a("-o"), a.str("--mode", "heuristic"))
      val (idCol, textCol) = (a.str("--id", "doc_id"), a.str("--text", "text"))
      val targetWhere = if (mode == "importance") a("--target-where") else ""
      val (buckets, nBuckets, n) = (a.int("--buckets", 64), a.int("--n-buckets", 3), a.int("-n", 3))
      import org.apache.spark.sql.functions.{col, expr, lit}
      // The Quality operators address doc_id/text/lang by name;
      // normalize the configured columns onto that contract once.
      val docs0 = a.spark.read.parquet(in)
        .withColumn("doc_id", col(idCol))
        .withColumn("text", col(textCol))
      def withLang =
        if (docs0.columns.contains("lang")) docs0 else docs0.withColumn("lang", lit(""))
      val scored = mode match {
        case "heuristic" =>
          docs0.select(col("doc_id"),
            graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
        case "unigram-lm" => graft.ops.Quality.unigramLogprob(docs0)
        case "bigram-lm" => graft.ops.Quality.bigramLogprob(docs0)
        case "importance" => graft.ops.Quality.importanceWeights(withLang, expr(targetWhere), buckets)
        case "novelty" => graft.ops.Quality.ngramNovelty(docs0, n)
        case "buckets" => graft.ops.Quality.qualityBuckets(withLang, nBuckets)
        case other =>
          sys.error(s"quality --mode must be heuristic|unigram-lm|bigram-lm|importance|novelty|buckets, got $other")
      }
      scored.write.mode("overwrite").parquet(out)
      println(s"quality scores ($mode) written to $out")
      0
    },

    Verb("retrieve", "-i|--input <corpus.parquet> -o|--output <out.parquet> (-q|--queries <queries.parquet> | --queries-where '<pred>') [-s|--store <posting-store>] [--mode bm25|tfidf] [-k 10] [--max-term-df N] [--id doc_id] [--text text]   (--max-term-df: drop query terms with corpus df > N from scoring - the declared probe-cost cap; tf-idf keeps full-vocabulary norms and caps the dot probe only)") { a =>
      // BM25 top-k lexical retrieval: score a query parquet (or a
      // --queries-where subset of the corpus) against a corpus
      // parquet; writes (query_id, doc_id, rank, score).
      val (in, out, k) = (a("-i"), a("-o"), a.int("-k", 10))
      val (idCol, textCol) = (a.str("--id", "doc_id"), a.str("--text", "text"))
      val (qPath, where, store) = (a.opt("-q"), a.opt("--queries-where"), a.opt("-s"))
      // --store: probe a persisted posting store (see `posting-store
      // --create`) instead of tokenizing the corpus in this run; -i
      // still names the query source when --queries-where selects
      // from it. --mode tfidf swaps the scoring to cosine over tf-idf
      // weights (with --store it needs the frozen document norms of
      // `posting-store --freeze-norms`, refit per corpus release — the
      // q141 contract). --max-term-df N is the DECLARED approximation
      // for boilerplate-heavy query batches: query terms with corpus
      // df > N are dropped from scoring — probe cost bounded by Σ df
      // over admitted terms (q137/q140's oracle-visible contracts; for
      // tf-idf the cap restricts the dot probe only, norms keep every
      // term).
      val (mode, maxDf) = (a.str("--mode", "bm25"), a.long("--max-term-df", Long.MaxValue))
      val spark = a.spark
      import org.apache.spark.sql.functions.{col, expr, not}
      val all = spark.read.parquet(in)
        .withColumn("doc_id", col(idCol)).withColumn("text", col(textCol))
      val (corpus, queries) = (qPath, where) match {
        case (Some(p), _) =>
          (all, spark.read.parquet(p).select(col(idCol).as("q_id"), col(textCol).as("text")))
        case (None, Some(w)) =>
          (all.filter(not(expr(w))), all.filter(expr(w)).select(col("doc_id").as("q_id"), col("text")))
        case (None, None) =>
          sys.error("retrieve needs -q <queries.parquet> or --queries-where '<pred>'")
      }
      val hits = (store, mode) match {
        case (Some(s), "bm25") =>
          graft.ops.PostingStore.retrieve(spark, s, queries, k, maxTermDf = maxDf)
        case (Some(s), "tfidf") =>
          graft.ops.PostingStore.retrieveTfidf(spark, s, queries, k, maxTermDf = maxDf)
        case (Some(_), other) => sys.error(s"retrieve --store supports bm25|tfidf, got $other")
        case (None, "bm25") => graft.ops.Retrieval.bm25TopK(corpus, queries, k, maxTermDf = maxDf)
        case (None, "tfidf") => graft.ops.Retrieval.tfidfTopK(corpus, queries, k, maxTermDf = maxDf)
        case (None, other) => sys.error(s"retrieve --mode must be bm25|tfidf, got $other")
      }
      hits.write.mode("overwrite").parquet(out)
      println(s"$mode top-$k written to $out")
      0
    },

    Verb("posting-store", "--create -i|--input <corpus.parquet> -s|--store <store-dir> [--buckets N] | --ingest -i <new-docs.parquet> -s <store-dir> --tag <batch-tag> | --freeze-norms -s <store-dir>   [--id doc_id] [--text text]   (--freeze-norms: persist the tf-idf document norms of the committed ledger - required by tf-idf retrieval through the store, refit after each ingest)") { a =>
      // Persisted BM25 posting store: --create tokenizes + counts the
      // corpus once into a term-bucket-partitioned posting table;
      // --ingest appends NEW docs (dedup upstream). Probe with
      // `retrieve --store`.
      val (store, create, ingest, freeze) = (a("-s"), a.has("--create"), a.has("--ingest"), a.has("--freeze-norms"))
      val (idCol, textCol, buckets) = (a.str("--id", "doc_id"), a.str("--text", "text"), a.int("--buckets", 0))
      // -i names the corpus for --create/--ingest; --freeze-norms
      // reads only the store's own ledger.
      val in = if (create || ingest) a("-i") else ""
      // --tag names this ingest's ledger entry: re-running with the
      // same tag REPLACES it (the crash-retry idempotence lever), a
      // new tag appends a new batch.
      val tag = if (!create && ingest) a("--tag") else ""
      val spark = a.spark
      import org.apache.spark.sql.functions.col
      def docs = spark.read.parquet(in).select(col(idCol).as("doc_id"), col(textCol).as("text"))
      if (create) {
        graft.ops.PostingStore.create(docs, store, buckets)
        println(s"posting store created at $store")
      } else if (ingest) {
        graft.ops.PostingStore.append(docs, store, tag)
        println(s"posting store at $store grown (tag $tag)")
      } else if (freeze) {
        // Freeze the tf-idf document norms of the committed ledger —
        // the once-per-release fit `retrieve --store --mode tfidf`
        // probes against; an --ingest after a freeze makes the norms
        // stale and the probe refuses until this re-runs.
        graft.ops.PostingStore.freezeNorms(spark, store)
        println(s"tf-idf norms frozen at $store")
      } else sys.error("posting-store needs --create, --ingest or --freeze-norms")
      0
    },

    Verb("corpus-stats", "-i|--input <docs.parquet> -o|--output <out.parquet> [--mode hitters|pmi|drift] [--min-count 1000] [--window 3] [--min-pair 5] [-k 20] [--group source] [--text text]") { a =>
      // Corpus-level lexical statistics: --mode hitters (exact heavy
      // hitters behind a Count-Min prefilter) or pmi (windowed PMI
      // collocations).
      val (in, out, mode, textCol) = (a("-i"), a("-o"), a.str("--mode", "hitters"), a.str("--text", "text"))
      val (minCount, w, minPair, k) =
        (a.long("--min-count", 1000L), a.int("--window", 3), a.long("--min-pair", 5L), a.int("-k", 20))
      val grp = a.str("--group", "source")
      import org.apache.spark.sql.functions.col
      val docs = a.spark.read.parquet(in).withColumn("text", col(textCol))
      val res = mode match {
        case "hitters" => graft.ops.CorpusStats.heavyHitters(docs, minCount)
        case "pmi" => graft.ops.CorpusStats.pmiPairs(docs, w, minPair, k)
        case "drift" => graft.ops.Quality.groupKlDrift(docs, grp)
        case other => sys.error(s"corpus-stats --mode must be hitters|pmi|drift, got $other")
      }
      res.write.mode("overwrite").parquet(out)
      println(s"corpus stats ($mode) written to $out")
      0
    },

    Verb("link", "-i|--input <batch.parquet> -r|--reference <reference.parquet> -o|--output <out.parquet> [-s|--store <band-store>] [-n|--ngram 2] [--threshold 0.8] [--max-bucket 10000] [--id doc_id] [--text text]   (doc_a = reference, doc_b = batch)") { a =>
      // Cross-corpus fuzzy join (record linkage by near-duplicate
      // text): writes (doc_a from --reference, doc_b from --input,
      // jaccard) for every pair clearing --threshold. With --store,
      // the reference's persisted band table (see `band-store
      // --create`) supplies the candidate side — the reference is
      // signed once, not per link run; its text is read only for
      // candidate verification.
      val (in, ref, out, store) = (a("-i"), a("-r"), a("-o"), a.opt("-s"))
      val (idCol, textCol, n) = (a.str("--id", "doc_id"), a.str("--text", "text"), a.int("-n", 2))
      val (threshold, maxBucket) = (a.double("--threshold", 0.8), a.long("--max-bucket", 10000L))
      val spark = a.spark
      val links = store match {
        case Some(s) =>
          val (table, (sn, snh, sb, _, _)) = graft.dedup.BandStore.attach(spark, s)
          graft.dedup.BandStore.linkNew(
            spark, table, spark.read.parquet(in), spark.read.parquet(ref),
            idCol, textCol, threshold, n = sn, numHashes = snh, bands = sb,
            maxBucketSize = maxBucket)
        case None =>
          // reference as doc_a, batch as doc_b — same orientation as
          // the store path
          graft.dedup.Dedup.minHashLshJoin(
            spark.read.parquet(ref), spark.read.parquet(in), idCol, textCol,
            n = n, threshold = threshold, numHashes = 64, bands = 16,
            maxBucketSize = maxBucket)
      }
      links.write.mode("overwrite").parquet(out)
      println(s"fuzzy links (threshold $threshold) written to $out")
      0
    },

    Verb("band-store", "--create -i|--input <reference.parquet> -s|--store <store-dir> [-n|--ngram 2] [--buckets N] | --ingest -i <new-ref.parquet> -s <store-dir>   [--id doc_id] [--text text]") { a =>
      // Persist a reference corpus's MinHash band table for
      // incremental linkage: --create signs the corpus once; `link
      // --store` then links arriving batches without re-signing it.
      // --ingest appends NEW reference docs' band rows (sign only the
      // new docs).
      val (in, store, create, n, buckets) = (a("-i"), a("-s"), a.has("--create"), a.int("-n", 2), a.int("--buckets", 0))
      val (idCol, textCol) = (a.str("--id", "doc_id"), a.str("--text", "text"))
      val spark = a.spark
      if (create) {
        val table = graft.dedup.BandStore.createAt(
          spark, spark.read.parquet(in), idCol, textCol, store,
          n = n, numHashes = 64, bands = 16, buckets = buckets)
        println(s"band store created at $store (${BucketedTable.buckets(spark, table)} buckets)")
      } else {
        val (table, (sn, snh, sb, sbk, scap)) = graft.dedup.BandStore.attach(spark, store)
        // appended rows honor the store's PERSISTED cap — a retuned
        // (capped) store stays capped as it grows
        graft.dedup.BandStore.append(
          spark, table, spark.read.parquet(in), idCol, textCol,
          n = sn, numHashes = snh, bands = sb, maxBucketSize = scap, buckets = sbk)
        println(s"band rows appended to $store")
      }
      0
    },

    // Persisted image near-dup signatures ([[SigBandStore]] over packed
    // aHash64): --create decodes and signs a PPM corpus ONCE; --ingest
    // links an arriving image batch against the store (exchange-free
    // bucket join + popcount verify), writes the (img_a, img_b,
    // hamming) pairs, and appends the batch's signatures; --stream runs
    // the same link-then-append per micro-batch over a landing
    // directory.
    Verb("image-store", "--create -i|--input <ppm-glob> -s|--store <store-dir> [--bands 4] [--buckets N] | --ingest -i <ppm-glob> -s <store-dir> -o|--output <pairs.parquet> [--max-hamming 6] | --stream -i <landing-dir> -s <store-dir> -o <pairs-dir> --checkpoint <dir> [--max-hamming 6]") { a =>
      sigStoreVerb(a, "image", "img_a", "img_b", dfltMaxHamming = 6,
        sign = (spark, in) => graft.multimodal.ImageOps.aHash64Packed(spark,
          graft.multimodal.ImageOps.decodePpm(spark,
            graft.multimodal.ImageOps.readBinary(spark, in))),
        streamMaintain = graft.streaming.ImageSigStream.maintain(_, _, _, _, _, _))
    },

    // The audio twin over the SAME store machinery: packed eHash
    // signatures ([[AudioOps.energyHash64]]) instead of aHash.
    Verb("audio-store", "--create -i|--input <wav-glob> -s|--store <store-dir> [--bands 4] [--buckets N] | --ingest -i <wav-glob> -s <store-dir> -o|--output <pairs.parquet> [--max-hamming 4] | --stream -i <landing-dir> -s <store-dir> -o <pairs-dir> --checkpoint <dir> [--max-hamming 4]") { a =>
      sigStoreVerb(a, "audio", "clip_a", "clip_b", dfltMaxHamming = 4,
        sign = (spark, in) => graft.multimodal.AudioOps.energyHash64(spark,
          graft.multimodal.ImageOps.readBinary(spark, in)),
        streamMaintain = graft.streaming.AudioSigStream.maintain(_, _, _, _, _, _))
    },

    Verb("classify", "-i|--input <embeddings.parquet> -o|--output <out.parquet> --queries-where '<pred>' [-k 10] [--label label] [--id vec_id] [--vec embedding]") { a =>
      // kNN label propagation: classify --queries-where rows of the
      // embedding parquet by majority vote of their k nearest labeled
      // neighbors (the remaining rows with a non-null label).
      val (in, out, k, where) = (a("-i"), a("-o"), a.int("-k", 10), a("--queries-where"))
      val (idCol, vecCol, labelCol) = (a.str("--id", "vec_id"), a.str("--vec", "embedding"), a.str("--label", "label"))
      import org.apache.spark.sql.functions.{col, not, expr}
      val corpus = a.spark.read.parquet(in)
      val queries = corpus.filter(where)
        .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      val seeds = corpus.filter(not(expr(where))).filter(col(labelCol).isNotNull)
      graft.similarity.Similarity.knnClassify(
        seeds, queries, idCol, vecCol, labelCol, "q_id", "q_vec", k)
        .write.mode("overwrite").parquet(out)
      println(s"knn labels (k=$k) written to $out")
      0
    },

    Verb("negatives", "-i|--input <embeddings.parquet> -o|--output <out.parquet> --anchors-where '<pred>' [-k 5] [--label label] [--id vec_id] [--vec embedding]") { a =>
      // Hard-negative mining for contrastive training: for each
      // --anchors-where row, the k most cosine-similar DIFFERENT-label
      // vectors from the rest of the embedding parquet.
      val (in, out, k, where) = (a("-i"), a("-o"), a.int("-k", 5), a("--anchors-where"))
      val (idCol, vecCol, labelCol) = (a.str("--id", "vec_id"), a.str("--vec", "embedding"), a.str("--label", "label"))
      import org.apache.spark.sql.functions.{col, expr, not}
      val all = a.spark.read.parquet(in).filter(col(labelCol).isNotNull)
      graft.similarity.Similarity.hardNegatives(
        corpus = all.filter(not(expr(where))),
        anchors = all.filter(expr(where)).select(col(idCol).as("a_id"),
          col(vecCol).as("a_vec"), col(labelCol).as("a_label")),
        idCol, vecCol, labelCol, "a_id", "a_vec", "a_label", k)
        .write.mode("overwrite").parquet(out)
      println(s"hard negatives (k=$k) written to $out")
      0
    },

    Verb("ann-index", "-i|--input <embeddings.parquet> -o|--output <index-path> [--family ivf|lsh|pq|ivfpq] [--nlist 24] [--bits 6] [--tables 4] [--dim 64] [--residual] [--residual-auto] [--id vec_id] [--vec embedding]") { a =>
      // Build a persisted ANN index (probe-time partition pruning):
      // --family ivf -> vectors partitioned by cell + quantizer JSON;
      // --family lsh -> tables-way replicated index partitioned by
      // (t, sig).
      val (in, out, family, dim) = (a("-i"), a("-o"), a.str("--family", "ivf"), a.int("--dim", 64))
      val (idCol, vecCol) = (a.str("--id", "vec_id"), a.str("--vec", "embedding"))
      val (nlist, bits, tables) = (a.int("--nlist", 24), a.int("--bits", 6), a.int("--tables", 4))
      val (residual, residualAuto) = (a.has("--residual"), a.has("--residual-auto"))
      val spark = a.spark
      import graft.similarity.Similarity
      family match {
        case "ivf" =>
          Similarity.writeIvfIndex(spark.read.parquet(in), idCol, vecCol, dim, nlist, out)
          println(s"ivf index ($nlist cells) written to $out")
        case "lsh" =>
          Similarity.writeLshIndex(spark.read.parquet(in), idCol, vecCol, dim, bits, out, tables)
          println(s"lsh index ($tables x 2^$bits buckets) written to $out")
        case "pq" =>
          Similarity.writePqIndex(spark.read.parquet(in), idCol, vecCol, dim, out)
          println(s"pq index (compressed codes) written to $out")
        case "ivfpq" =>
          // --residual: faiss-style residual codes — better on
          // clustered corpora, worse on near-uniform ones (measured;
          // see Similarity.IvfPqIndexMeta.residual). --residual-auto
          // measures the corpus instead (mean residual-norm ratio
          // under the trained quantizer) and records the estimate and
          // the choice in index.json.
          if (residual && residualAuto)
            sys.error("--residual and --residual-auto are mutually exclusive: " +
              "--residual-auto lets the corpus measurement decide, --residual forces it")
          val built = Similarity.writeIvfPqIndex(
            spark.read.parquet(in), idCol, vecCol, dim, nlist, out,
            residual = residual, residualAuto = residualAuto)
          val mode =
            if (residualAuto)
              (if (built.residual) " residual (auto)" else " raw (auto)") +
                built.residualGain.map(g => f" gain $g%.3f").getOrElse("")
            else if (residual) " residual" else ""
          println(s"ivf-pq index ($nlist cells, compressed$mode codes) written to $out")
        case other => sys.error(s"ann-index --family must be ivf|lsh|pq|ivfpq, got $other")
      }
      0
    },

    Verb("semantic-dedup", "-i|--input <embeddings.parquet> -o|--output <out.parquet> [--nlist 24] [--threshold 0.4] [--dim 64] [--id vec_id] [--vec embedding]") { a =>
      // SemDeDup over an embeddings parquet: writes one row per vector
      // (id, cell, cos_centroid, kept 0/1); the kept==1 rows are the
      // deduplicated corpus. Pairwise work is bounded per k-means cell
      // — size --nlist to the corpus (cells of ~10³-10⁴ vectors).
      val (in, out, idCol, vecCol) = (a("-i"), a("-o"), a.str("--id", "vec_id"), a.str("--vec", "embedding"))
      val (dim, nlist, threshold) = (a.int("--dim", 64), a.int("--nlist", 24), a.double("--threshold", 0.4))
      graft.similarity.Similarity.semanticDedup(
        a.spark.read.parquet(in), idCol, vecCol, dim, nlist, threshold)
        .write.mode("overwrite").parquet(out)
      println(s"semantic-dedup (nlist=$nlist, threshold=$threshold) written to $out")
      0
    },

    Verb("dup-windows", "-i|--input <docs.parquet> -o|--output <out.parquet> [--w 8] [--id doc_id] [--text text]") { a =>
      // Cross-document duplicated token-window report: one row per
      // document with >= --w tokens — (doc_id, n_windows,
      // n_dup_windows, dup_frac). The trimming signal of
      // substring-level dedup; docs with high dup_frac repeat spans
      // that exist verbatim in other documents.
      val (in, out, idCol, textCol, w) =
        (a("-i"), a("-o"), a.str("--id", "doc_id"), a.str("--text", "text"), a.int("--w", 8))
      graft.dedup.Dedup.dupWindowStats(a.spark.read.parquet(in), idCol, textCol, w)
        .write.mode("overwrite").parquet(out)
      println(s"dup-windows (w=$w) report written to $out")
      0
    },

    Verb("dedup-trim", "-i|--input <docs.parquet> -o|--output <out.parquet> [--w 8] [--id doc_id] [--text text]") { a =>
      // Duplicated-span removal: writes the corpus with every
      // cross-doc duplicated w-token span cut except in its canonical
      // (min-doc-id) owner — (doc_id, n_tokens, n_removed,
      // trimmed_text). The removal twin of dup-windows' report.
      val (in, out, idCol, textCol, w) =
        (a("-i"), a("-o"), a.str("--id", "doc_id"), a.str("--text", "text"), a.int("--w", 8))
      graft.dedup.Dedup.trimDupSpans(a.spark.read.parquet(in), idCol, textCol, w)
        .write.mode("overwrite").parquet(out)
      println(s"dedup-trim (w=$w) corpus written to $out")
      0
    },

    Verb("frames", "-i|--input <media-glob> -o|--output <out.parquet> [--kind avi|wav] [--every 1] [--frames 4] [--bytes 1024]") { a =>
      // Multimodal frame extraction: sample frames from every media
      // file under a glob (container parse per-partition, fingerprint
      // where the codec decode would run) into one parquet frame table
      // — the input a vision/audio encoder batch would embed.
      val (in, out, kind) = (a("-i"), a("-o"), a.str("--kind", "avi"))
      val (everyK, n, bytes) = (a.int("--every", 1), a.int("--frames", 4), a.int("--bytes", 1024))
      val spark = a.spark
      val binaries = graft.multimodal.ImageOps.readBinary(spark, in)
      val frames = kind match {
        case "avi" => graft.multimodal.VideoOps.frameSample(spark, binaries, everyK).toDF()
        case "wav" => graft.multimodal.AudioOps.frameSample(spark, binaries, n, bytes).toDF()
        case other => sys.error(s"frames: unknown --kind $other (avi|wav)")
      }
      frames.write.mode("overwrite").parquet(out)
      println(s"frame table written to $out")
      0
    }
  )

  private val byName: Map[String, Verb] = verbs.map(v => v.name -> v).toMap

  def run(args: Array[String]): Int = args.toList match {
    case name :: rest if byName.contains(name) =>
      val verb = byName(name)
      try verb.body(new Args(verb, rest))
      catch {
        case e: ArgError =>
          Console.err.println(s"$name: ${e.getMessage}")
          Console.err.println("usage: graft.Cli\n" + verb.usage)
          2
      }
    case other =>
      Console.err.println("usage: graft.Cli <subcommand> [options]\n" +
        verbs.map(_.usage).mkString("\n") + s"\ngot: ${other.mkString(" ")}")
      2
  }

  def main(args: Array[String]): Unit = sys.exit(run(args))
}

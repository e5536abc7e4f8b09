package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gdc.{GdcCatalog, HttpTransport}
import graft.io.{DownloadExecutor, XenaMetadata, XenaTsv}
import graft.model.DTypes
import graft.ops.XenaOps
import graft.transform.{Clinical, GdcTransforms}

/** CLI surface mirroring the reference `xge` entry point
  * (`main.py:44-116`): `etl`, `merge-xena`, `metadata`, `xena-eql`,
  * `gdc-check-new`, plus the network `download` verb backing `etl`.
  * Argument shapes follow the reference subcommands; execution is the
  * Spark engine.
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

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // FAIR job scheduling: `etl-batch --parallel` submits
      // independent dataset jobs from N driver threads; under the
      // default FIFO they'd queue behind the largest dataset's stages
      // instead of sharing executors. No-op for single-job verbs.
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
  }

  private def opts(args: List[String]): Map[String, List[String]] = {
    // A repeated flag ACCUMULATES values (`-f a -f b` == `-f a b`) —
    // resetting to Nil on re-appearance silently dropped all but the
    // last occurrence's values.
    val (m, _) = args.foldLeft((Map.empty[String, List[String]], "")) {
      case ((acc, _), a) if a.startsWith("-") =>
        (if (acc.contains(a)) acc else acc.updated(a, Nil), a)
      case ((acc, key), a) => (acc.updated(key, acc.getOrElse(key, Nil) :+ a), key)
    }
    m
  }

  private def one(m: Map[String, List[String]], keys: String*): String =
    keys.flatMap(k => m.getOrElse(k, Nil)).headOption.getOrElse(
      sys.error(s"missing required option ${keys.mkString("/")}"))

  /** Shared body of the modality signature-store verbs (`image-store`,
    * `audio-store`): the store layout, link/append dance and stream
    * maintenance are signature-generic ([[graft.dedup.SigBandStore]] /
    * [[graft.streaming.SigStream]]); the modality contributes the
    * signing stage, pair column names and default radius. */
  private def sigStoreVerb(
      rest: List[String],
      modality: String,
      aCol: String,
      bCol: String,
      dfltMaxHamming: Int,
      sign: (SparkSession, String) => DataFrame,
      streamMaintain: (SparkSession, String, String, String, String, Int) =>
        org.apache.spark.sql.streaming.StreamingQuery): Int = {
    val m = opts(rest)
    val in = one(m, "-i", "--input")
    val store = one(m, "-s", "--store")
    val spark = session()
    if (m.contains("--create")) {
      val bands = m.get("--bands").flatMap(_.headOption).map(_.toInt).getOrElse(4)
      val buckets = m.get("--buckets").flatMap(_.headOption).map(_.toInt).getOrElse(64)
      graft.dedup.SigBandStore.createAt(spark, sign(spark, in), "name", "sig", store,
        sigBits = 64, bands = bands, buckets = buckets)
      println(s"$modality signature store created at $store ($bands bands, $buckets buckets)")
    } else if (m.contains("--stream")) {
      val out = one(m, "-o", "--output")
      val ckpt = m.get("--checkpoint").flatMap(_.headOption)
        .getOrElse(sys.error(s"$modality-store --stream needs --checkpoint <dir>"))
      val maxHamming = m.get("--max-hamming").flatMap(_.headOption).map(_.toInt)
        .getOrElse(dfltMaxHamming)
      val q = streamMaintain(spark, in, store, out, ckpt, maxHamming)
      q.processAllAvailable(); q.stop()
      println(s"streamed $modality links -> $out; store updated")
    } else {
      import org.apache.spark.sql.functions.{col, greatest, least}
      val out = one(m, "-o", "--output")
      val maxHamming = m.get("--max-hamming").flatMap(_.headOption).map(_.toInt)
        .getOrElse(dfltMaxHamming)
      val (table, (sigBits, bands, buckets)) = graft.dedup.SigBandStore.attach(spark, store)
      val sigs = sign(spark, in)
        .localCheckpoint(false) // consumed twice: link + append
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
    val vars0 = XenaMetadata.Vars(
      xenaCohort = cohort,
      date = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("MM-dd-yyyy")))
    val vars = XenaMetadata.dtypeVariables.get(dtype).map(_(vars0)).getOrElse(vars0)
    XenaMetadata.write(out, DTypes.registry(dtype).metadataKind, vars)
  }

  /** Long-shape dtypes merge vertically; matrix dtypes horizontally
    * (reference `utils.py:92-112`). */
  private def isLongShape(dtype: String): Boolean =
    DTypes.registry.get(dtype).exists(c =>
      c.kind == DTypes.MatrixKind.GenomicSegment || c.kind == DTypes.MatrixKind.MutationVector)

  def run(args: Array[String]): Int = args.toList match {
    case "etl" :: rest =>
      val m = opts(rest)
      val dtype = one(m, "-t", "--datatype")
      val rawDir = one(m, "-r", "--root")
      val out = one(m, "-o", "--output")
      val cohort = m.get("-c").flatMap(_.headOption).getOrElse("GDC " + dtype)
      etlOne(session(), dtype, rawDir, out, cohort)
      println(s"matrix + metadata written to $out")
      0

    case "etl-batch" :: rest =>
      // The gdc2xena.py driver loop (E1, `gdc2xena.py:55-110`): every
      // requested (project, dtype) is attempted; failures are
      // QUARANTINED (recorded, loop continues) and summarized at the
      // end instead of aborting the run. The quarantine PERSISTS:
      // after every failure `<root>/unfinished.json` is rewritten
      // (`gdc2xena.py:97-105`) and the stack trace appends to a
      // per-run `<root>/etl_<ts>.err` log (`gdc2xena.py:67-78,106-108`),
      // so a crashed or killed multi-project run can `--resume`:
      // re-attempt exactly the recorded pairs, skipping recorded
      // successes.
      val m = opts(rest)
      val root = one(m, "-r", "--root")
      val outDir = one(m, "-o", "--output")
      val resume = m.contains("--resume")
      val cohort = m.get("-c").flatMap(_.headOption)
      val spark = session()
      val ledger = new EtlQuarantine(root)
      // Work list: projects × dtypes, or exactly the quarantined
      // pairs when resuming ("." is the project-less key — raw data
      // directly under <root>/<dtype>). The -t/-p expansion lives in
      // the non-resume branch: a resume's work list ignores both, so
      // running it anyway would add a spurious network round-trip
      // (`-p all`) to every offline retry.
      val pairs: List[(String, String)] =
        if (resume) ledger.recorded
        else {
          // `-t all` / `-p all` expand like `main.py:63-71`: all valid
          // dtypes from the registry; all GDC projects via the
          // projects endpoint. `--not-datatype`/`--not-projects`
          // subtract.
          val dtypes0 = m.getOrElse("-t", m.getOrElse("--datatypes", Nil))
          val dtypes =
            (if (dtypes0.exists(_.equalsIgnoreCase("all")))
              DTypes.registry.keySet.toList.sorted // incl. clinical + survival
            else dtypes0).filterNot(m.getOrElse("--not-datatype", Nil).toSet)
          require(dtypes.nonEmpty, "etl-batch needs -t <dtypes...>")
          // argparse-choices parity (`main.py` restricts -t to
          // valid_dtype): an unknown dtype must fail HERE — attempted,
          // it would be PERSISTED into the quarantine ledger, where
          // --resume retries the impossible pair forever.
          val unknown = dtypes.filterNot(DTypes.registry.contains)
          require(unknown.isEmpty,
            s"unknown dtype(s): ${unknown.mkString(", ")} " +
              s"(valid: ${DTypes.registry.keys.toList.sorted.mkString(", ")})")
          val projects0 = m.getOrElse("-p", m.getOrElse("--projects", Nil))
          val projects =
            (if (projects0.exists(_.equalsIgnoreCase("all"))) {
              val catalog = new GdcCatalog(
                spark, HttpTransport.fetchFn(transportFactory(false)))
              // Driver-sized by contract: the projects endpoint is a
              // catalog of ~80 rows, same as the reference's index scan.
              catalog.projectInfo().select("project_id")
                .collect().map(_.getString(0)).toList.sorted
            } else projects0)
              .filterNot(m.getOrElse("--not-projects", Nil).toSet).distinct
          (if (projects.isEmpty) List(".") else projects)
            .flatMap(p => dtypes.map(p -> _))
        }
      // `--delete-raw`: drop a pair's raw dir once its matrix is
      // written (`gdc2xena.py:93-95` shutil.rmtree on delete_raw_data)
      // — a 33-project × 22-dtype run would otherwise hold every raw
      // download on disk simultaneously.
      val deleteRaw = m.contains("--delete-raw")
      // `--parallel N` (default 1): N driver threads each submit their
      // dataset's Spark jobs concurrently — a 33-project × 22-dtype
      // backfill of mostly-small datasets otherwise leaves the
      // cluster idle between one dataset's stages and the next's.
      // Dataset ETLs are independent by construction (distinct raw
      // dirs, distinct outputs), the ledger is synchronized, and the
      // CLI session runs the FAIR scheduler so concurrent jobs share
      // executors instead of queuing FIFO behind the largest one.
      val parallel = m.get("-j").orElse(m.get("--parallel"))
        .flatMap(_.headOption).map(_.toInt).getOrElse(1)
      require(parallel >= 1, s"--parallel must be >= 1, got $parallel")
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
          // RuntimeException (hence NonFatal), but quarantining it
          // would record a user ctrl-C as an unfinished pair and keep
          // iterating the remaining work with the interrupt flag set.
          // Abort the whole run instead — the ledger keeps whatever it
          // held before this pair, so --resume still re-attempts it.
          case e: graft.gdc.GdcInterrupted =>
            println(s"[etl-batch] $sub: interrupted — aborting run " +
              s"(${ledger.recorded.size} pair(s) remain recorded for --resume)")
            aborted.compareAndSet(null, e)
          // NonFatal only: an OOM/linkage error means the session is
          // no longer trustworthy — quarantining it and "succeeding"
          // the remaining dtypes on a corrupted JVM would report
          // garbage as ok.
          case scala.util.control.NonFatal(e) =>
            nFail.incrementAndGet()
            ledger.failed(proj, d, e)
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
        // handlers cover GdcInterrupted + NonFatal). Sequential mode
        // lets a fatal propagate and abort the run; a worker thread
        // dying silently instead would leave the other workers
        // "succeeding" datasets on a corrupted JVM — capture it, stop
        // the pool, and rethrow after the join.
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
      // An interrupt aborts the whole run (after in-flight datasets
      // wound down) with the same semantics as the sequential rethrow.
      Option(aborted.get).foreach(throw _)
      // Exit code reflects THIS run; the persisted ledger may still
      // hold older pairs this run didn't attempt (printed for resume).
      println(s"[etl-batch] ${nOk.get}/${pairs.size} succeeded")
      ledger.recorded.foreach { case (p, d) =>
        println(s"[etl-batch] unfinished: ${if (p == ".") d else s"$p/$d"}")
      }
      if (nFail.get == 0) 0 else 1

    case "merge-xena" :: rest =>
      val m = opts(rest)
      val files = m.getOrElse("-f", m.getOrElse("--files", Nil))
      val dtype = one(m, "-t", "--datatype")
      val spark = session()
      val dfs = files.map(f => XenaTsv.read(spark, f, None))
      m.get("--bucketed-store").flatMap(_.headOption) match {
        // Incremental assembly against a persistent bucketed store:
        // the accumulated pan-cancer matrix stays bucketed+sorted on
        // the row key BETWEEN runs, so each new cohort merges with the
        // (dominant) accumulated side streaming shuffle- and sort-free
        // — vs the reference's join_xena.sh, which re-sorts every
        // matrix on every assembly. `-o` is optional here: export and
        // accumulation are separate concerns.
        case Some(dir) =>
          require(!isLongShape(dtype),
            "--bucketed-store is the horizontal (matrix dtype) merge path; " +
              s"$dtype merges vertically and needs no row-key store")
          // Init-time only (store.json keeps it): one bucket per shuffle
          // slot makes each store write one task wave. The store is only
          // merged, never probed, so it skips the probe-granularity
          // floor of XenaOps.defaultBucketedStoreBuckets.
          val buckets = m.get("--buckets").flatMap(_.headOption).map(_.toInt)
            .getOrElse(spark.sessionState.conf.numShufflePartitions)
          val acc =
            if (!graft.io.BucketedStore.exists(dir)) {
              require(files.nonEmpty, "initializing a bucketed store needs -f <files...>")
              graft.io.BucketedStore.init(spark, dir, dfs.head, dfs.head.columns.head, buckets)
              if (dfs.sizeIs > 1) graft.io.BucketedStore.merge(spark, dir, dfs.tail)
              else graft.io.BucketedStore.accumulated(spark, dir)
            } else if (files.nonEmpty) graft.io.BucketedStore.merge(spark, dir, dfs)
            else graft.io.BucketedStore.accumulated(spark, dir)
          m.get("-o").orElse(m.get("--output")).flatMap(_.headOption).foreach { out =>
            XenaTsv.write(acc, out, rowKey = Some(acc.columns.head))
          }
          println(s"bucketed store $dir: v${graft.io.BucketedStore.readMeta(dir).version}, " +
            s"${acc.columns.length - 1} sample columns" +
            (if (files.nonEmpty) s" (+${files.size} matrices merged)" else ""))
          0
        case None =>
          val out = one(m, "-o", "--output")
          require(files.nonEmpty, "merge-xena needs -f <files...>")
          val merged =
            if (isLongShape(dtype)) XenaOps.mergeVertical(dfs)
            else XenaOps.mergeHorizontal(dfs, dfs.head.columns.head)
          XenaTsv.write(merged, out, rowKey = Some(merged.columns.head))
          println(s"merged ${files.size} matrices to $out")
          0
      }

    case "metadata" :: rest =>
      val m = opts(rest)
      val dtype = one(m, "-t", "--datatype")
      val matrix = one(m, "-p", "--path")
      val cohort = m.get("-c").flatMap(_.headOption).getOrElse("GDC " + dtype)
      val vars0 = XenaMetadata.Vars(
        xenaCohort = cohort,
        date = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter.ofPattern("MM-dd-yyyy")))
      val vars = XenaMetadata.dtypeVariables.get(dtype).map(_(vars0)).getOrElse(vars0)
      val out = XenaMetadata.write(matrix, DTypes.registry(dtype).metadataKind, vars)
      println(s"metadata written to $out")
      0

    case "xena-eql" :: a :: b :: Nil =>
      val spark = session()
      val equal = XenaOps.canonicalEqual(
        XenaTsv.read(spark, a, None), XenaTsv.read(spark, b, None))
      println(if (equal) "Equal matrices." else "Matrices differ.")
      if (equal) 0 else 1

    case "gdc-check-new" :: url :: Nil =>
      // Reference `xge gdc-check-new <URL>` (`main.py:43-48,135-144`):
      // the argument is a data-release TSV[.gz] with a 'New File UUID'
      // column; the summary table prints to stdout as TSV
      // (`gdc.py:652` to_csv(sys.stdout, sep='\t')).
      val transport = transportFactory(true)
      val uuids = readUuidColumn(url, transport)
      val spark = session()
      val catalog = new GdcCatalog(spark, HttpTransport.fetchFn(transport))
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

    case "download" :: rest =>
      // The reference's XenaDataset.download step (xena_dataset.py:
      // 571-664) as a standalone verb: manifest TSV (name, md5sum,
      // url) → raw dir, md5-reconciled against what's already there.
      val m = opts(rest)
      val manifest = one(m, "-m", "--manifest")
      val dest = one(m, "-o", "--output")
      val spark = session()
      val remote = spark.read.option("sep", "\t").option("header", "true")
        .csv(manifest).select("name", "md5sum", "url")
      val report = DownloadExecutor.sync(
        spark, remote, java.nio.file.Paths.get(dest), transportFactory(false))
      println(s"[download] ${report.downloaded.size} downloaded, " +
        s"${report.deleted.size} stale deleted, ${report.redacted.size} redacted, " +
        s"${report.quarantined.size} quarantined")
      report.quarantined.foreach { case (n, why) =>
        println(s"[download] QUARANTINED $n — $why") }
      if (report.ok) 0 else 1

    // ---- training-data pipeline subcommands (beyond-parity surface) --

    case "dedup" :: rest =>
      // Exact or near (minhash-LSH verified) dedup of a documents
      // parquet: writes (doc_id, cluster_id); survivors are the rows
      // where doc_id == cluster_id.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val mode = m.get("--mode").flatMap(_.headOption).getOrElse("exact")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      val docs = spark.read.parquet(in)
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
            .localCheckpoint(false)
          fps.join(
            fps.groupBy("fp").agg(fmin(col(idCol)).as("cluster_id")), Seq("fp"))
            .select(col(idCol), col("cluster_id"))
        case "near" =>
          val maxBucket = m.get("--max-bucket").flatMap(_.headOption)
            .map(_.toLong).getOrElse(10000L)
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
      m.get("--survivor").flatMap(_.headOption) match {
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

    case "curate" :: rest =>
      // Quality/language/length filter + exact-dedup survivors: writes
      // the curated corpus (all source columns preserved).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val minQuality = m.get("--min-quality").flatMap(_.headOption)
        .map(_.toDouble).getOrElse(0.5)
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val spark = session()
      import org.apache.spark.sql.functions.col
      val docs = spark.read.parquet(in)
      val keepers = graft.dedup.Dedup.exact(docs, idCol, textCol)
        .select(col("keep_id").as(idCol))
      val curated = docs
        .join(keepers, Seq(idCol), "left_semi")
        .filter(graft.functions.TextFunctions.qualityScore(col(textCol)) >= minQuality)
      curated.write.mode("overwrite").parquet(out)
      println(s"curated corpus written to $out")
      0

    case "curate-pipeline" :: rest =>
      // Full curation pipeline (q79's composition via ops/Curation):
      // near-dup clusters -> best-quality survivor -> quality/length
      // gates -> benchmark decontamination -> per-source token budget.
      // Writes the curated corpus parquet plus the per-stage row-count
      // ledger (ledger.json) a production curation run ships with its
      // output. --bench points at a held-out (doc_id, text) parquet;
      // without it the corpus's own hash-split valid slice is the
      // benchmark (the q79 contract).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      def dOpt(k: String, dflt: Double) =
        m.get(k).flatMap(_.headOption).map(_.toDouble).getOrElse(dflt)
      def lOpt(k: String, dflt: Long) =
        m.get(k).flatMap(_.headOption).map(_.toLong).getOrElse(dflt)
      val cfg = graft.ops.Curation.Config(
        jaccardThreshold = dOpt("--jaccard", 0.8),
        minQuality = dOpt("--min-quality", 0.5),
        minTokens = lOpt("--min-tokens", 5L).toInt,
        maxTokens = lOpt("--max-tokens", 1000L).toInt,
        budgetPerSource = lOpt("--budget", 10000L))
      val spark = session()
      import org.apache.spark.sql.functions.col
      // --ct-lang: replace the incoming lang labels with the
      // Cavnar–Trenkle classifier's prediction (fit once on those
      // labels) before curating — the pluggable lang source for
      // corpora whose labels aren't trusted. --lang-store <path>:
      // same relabeling from a FROZEN LangIdStore instead (fit paid
      // at store creation — the production shape; StoreBench's
      // curation_lang row measures the split). Default keeps the
      // arriving labels (the q79 contract).
      if (m.contains("--ct-lang") && m.contains("--lang-store"))
        sys.error("pass either --ct-lang (in-run fit) or --lang-store " +
          "(frozen store), not both — the two name different label sources")
      val raw = spark.read.parquet(in)
      val docs = m.get("--lang-store").flatMap(_.headOption) match {
        case Some(storePath) => graft.ops.Curation.withStoreLang(spark, storePath, raw)
        case None =>
          if (m.contains("--ct-lang")) graft.ops.Curation.withCtLang(raw) else raw
      }
      val bench = m.get("--bench").flatMap(_.headOption) match {
        case Some(p) => spark.read.parquet(p).select("doc_id", "text")
        case None => docs
          .filter(graft.functions.TextFunctions.hashSplit(col("doc_id")) === "valid")
          .select("doc_id", "text")
      }
      // --seed <sql bool>: upgrade the ledger to MEASURED per-stage
      // filter quality (precision/recall/f1/auc against the trusted
      // label) plus the before/after decontamination retrieval audit.
      m.get("--seed").flatMap(_.headOption) match {
        case Some(seed) =>
          val (curatedOut, lines, audit) = graft.ops.Curation.withQualityLedger(
            docs, bench, org.apache.spark.sql.functions.expr(seed), cfg)
          curatedOut.write.mode("overwrite").parquet(s"$out/corpus")
          def num(o: Option[Double]) = o.map(_.toString).getOrElse("null")
          val ledgerJson = lines.map(s =>
            s"""  {"stage": "${s.stage}", "rows": ${s.rows}, "tokens": ${s.tokens},""" +
              s""" "precision": ${num(s.precision)}, "recall": ${num(s.recall)},""" +
              s""" "f1": ${num(s.f1)}, "auc": ${num(s.auc)}}""")
            .mkString("[\n", ",\n", "\n]")
          val ledgerPath = java.nio.file.Paths.get(out, "ledger.json")
          java.nio.file.Files.createDirectories(ledgerPath.getParent)
          java.nio.file.Files.write(ledgerPath,
            ledgerJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          audit.coalesce(1).write.mode("overwrite").parquet(s"$out/decontam_audit")
          lines.foreach(s => println(f"${s.stage}%-16s ${s.rows}%d rows  " +
            f"recall=${num(s.recall)}%s precision=${num(s.precision)}%s"))
          println(s"curated corpus + quality ledger + decontam audit written to $out")
        case None =>
          val (curatedOut, ledger) = graft.ops.Curation.withLedger(docs, bench, cfg)
          curatedOut.write.mode("overwrite").parquet(s"$out/corpus")
          val ledgerJson = ledger.map(s => s"""  {"stage": "${s.stage}", "rows": ${s.rows}}""")
            .mkString("[\n", ",\n", "\n]")
          val ledgerPath = java.nio.file.Paths.get(out, "ledger.json")
          java.nio.file.Files.createDirectories(ledgerPath.getParent)
          java.nio.file.Files.write(ledgerPath,
            ledgerJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          ledger.foreach(s => println(f"${s.stage}%-16s ${s.rows}%d"))
          println(s"curated corpus + ledger written to $out")
      }
      0

    case "ann" :: rest =>
      // Approximate (or exact) nearest neighbors over an embedding
      // parquet: writes (query_id, neighbor_id, cos, rank). Queries
      // default to the corpus itself filtered by --queries-where.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val mode = m.get("--mode").flatMap(_.headOption).getOrElse("ivf")
      val k = m.get("-k").flatMap(_.headOption).map(_.toInt).getOrElse(10)
      val dim = m.get("--dim").flatMap(_.headOption).map(_.toInt).getOrElse(64)
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("vec_id")
      val vecCol = m.get("--vec").flatMap(_.headOption).getOrElse("embedding")
      val where = m.get("--queries-where").flatMap(_.headOption)
        .getOrElse(s"$idCol < 8")
      val spark = session()
      import org.apache.spark.sql.functions.col
      val corpus = spark.read.parquet(in)
      val queries = corpus.filter(where)
        .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      val topk = mode match {
        case "brute" => graft.similarity.Similarity.bruteForceTopK(
          corpus, queries, idCol, vecCol, "q_id", "q_vec", k)
        case "lsh" => graft.similarity.Similarity.lshTopK(
          corpus, queries, idCol, vecCol, "q_id", "q_vec",
          dim = dim, bits = 6, k = k, tables = 4)
        case "ivf" => graft.similarity.Similarity.ivfTopK(
          corpus, queries, idCol, vecCol, "q_id", "q_vec",
          dim = dim, k = k, nlist = 24, nprobe = 6)
        case "ivf-index" =>
          val index = one(m, "--index")
          graft.similarity.Similarity.ivfTopKIndexed(
            spark, index, queries, "q_id", "q_vec", k = k, nprobe = 6)
        case "lsh-index" =>
          val index = one(m, "--index")
          graft.similarity.Similarity.lshTopKIndexed(
            spark, index, queries, "q_id", "q_vec", k = k)
        case "pq" => graft.similarity.Similarity.pqTopK(
          corpus, idCol, vecCol, queries, "q_id", "q_vec", k = k, dim = dim)
        case "pq-index" =>
          val index = one(m, "--index")
          graft.similarity.Similarity.pqTopKIndexed(
            spark, index, queries, "q_id", "q_vec", k = k)
        case "ivfpq-index" =>
          val index = one(m, "--index")
          graft.similarity.Similarity.ivfPqTopKIndexed(
            spark, index, queries, "q_id", "q_vec", k = k, nprobe = 6)
        case other => sys.error(
          s"ann --mode must be brute|lsh|ivf|ivf-index|lsh-index|pq|pq-index|ivfpq-index, got $other")
      }
      // --mmr-lambda: diversify the page with Maximal Marginal
      // Relevance before writing (output becomes query_id, doc_id,
      // rank, mmr; λ=1 keeps the relevance order).
      val result = m.get("--mmr-lambda").flatMap(_.headOption).map(_.toDouble) match {
        case Some(lambda) => graft.similarity.Similarity.mmrRerank(
          topk.select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("cos").as("score")),
          corpus, idCol, vecCol, k = k, lambda = lambda)
        case None => topk
      }
      result.write.mode("overwrite").parquet(out)
      println(s"ann ($mode) top-$k written to $out")
      0

    case "lang-id" :: rest =>
      // Cavnar-Trenkle character-n-gram language identification:
      // --confusion reports the (true, predicted) matrix on a labeled
      // corpus; default classifies against profiles fit on a labeled
      // reference (--profiles-from, defaults to the input itself).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val topM = m.get("--top-m").flatMap(_.headOption).map(_.toInt).getOrElse(64)
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val langCol = m.get("--lang").flatMap(_.headOption).getOrElse("lang")
      val spark = session()
      val docs = spark.read.parquet(in)
      if (m.contains("--confusion")) {
        graft.ops.LangId.confusion(docs, idCol, langCol, "text", topM)
          .write.mode("overwrite").parquet(out)
        println(s"langid confusion matrix written to $out")
      } else {
        val ref = m.get("--profiles-from").flatMap(_.headOption)
          .map(spark.read.parquet(_)).getOrElse(docs)
        val profiles = graft.ops.LangId.langProfiles(ref, langCol, "text", topM)
        graft.ops.LangId.classify(docs, idCol, "text", profiles, topM)
          .write.mode("overwrite").parquet(out)
        println(s"langid predictions written to $out")
      }
      0

    case "quantiles" :: rest =>
      // Exact quantiles of an unbounded double column (KLL sketch
      // bracket + exact confirm — never a global sort): one row per
      // requested q with the true rank-ceil(qN) element.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val colName = m.get("--col").flatMap(_.headOption).getOrElse("value")
      val qs = m.get("--q").flatMap(_.headOption)
        .map(_.split(",").toSeq.map(_.toDouble))
        .getOrElse(Seq(0.25, 0.5, 0.75, 0.95))
      val k = m.get("--sketch-k").flatMap(_.headOption).map(_.toInt).getOrElse(256)
      val spark = session()
      graft.ops.Quantiles.exactQuantiles(spark.read.parquet(in), colName, qs, k)
        .write.mode("overwrite").parquet(out)
      println(s"exact quantiles of $colName (${qs.mkString(",")}) written to $out")
      0

    case "reindex" :: rest =>
      // Act on the IVF health report: measure the persisted index
      // (occupancy CV over all cells + weighted mean quantization
      // error) against thresholds and rebuild it from its own stored
      // vectors ONLY when breached. The decision is logged to
      // <index>/reindex.json either way — the audit trail that says
      // why an index was (or wasn't) rebuilt.
      val m = opts(rest)
      val index = one(m, "-s", "--index")
      val maxCv = m.get("--max-occ-cv").flatMap(_.headOption)
        .map(_.toDouble).getOrElse(1.0)
      val maxErr = m.get("--max-sqerr").flatMap(_.headOption)
        .map(_.toDouble).getOrElse(Double.MaxValue)
      val iters = m.get("--iters").flatMap(_.headOption).map(_.toInt).getOrElse(2)
      val spark = session()
      val d = graft.similarity.Similarity.reindexIfUnhealthy(
        spark, index, maxCv, maxErr, iters)
      println((if (d.rebuilt) "REBUILT" else "healthy") + s": ${d.reason}")
      0

    case "retune" :: rest =>
      // Act on the banding health (the reindex verb's sibling for the
      // band stores): measure the persisted band table's candidate
      // mass per stored doc/item and re-band ONLY on breach — a text
      // band store re-signs the corpus (-i) under a tighter bucket
      // cap; a signature store rebuilds from its own rows with fewer
      // bands. Decision logged to <store>/retune.json either way.
      val m = opts(rest)
      val store = one(m, "-s", "--store")
      val maxMass = m.get("--max-cand-per-doc").flatMap(_.headOption)
        .map(_.toDouble).getOrElse(100.0)
      val spark = session()
      val d =
        if (m.contains("--sig")) {
          val newBands = m.get("--new-bands").flatMap(_.headOption)
            .map(_.toInt).getOrElse(2)
          val dd = graft.dedup.SigBandStore.retuneIfSkewed(
            spark, store, maxMass, newBands)
          (dd.retuned, dd.reason)
        } else {
          val in = one(m, "-i", "--input")
          val cap = m.get("--bucket-cap").flatMap(_.headOption)
            .map(_.toLong).getOrElse(1000L)
          val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
          val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
          val dd = graft.dedup.BandStore.retuneIfSkewed(
            spark, store, spark.read.parquet(in), idCol, textCol, maxMass, cap)
          (dd.retuned, dd.reason)
        }
      println((if (d._1) "RETUNED" else "healthy") + s": ${d._2}")
      0

    case "vocab" :: rest =>
      // Corpus vocabulary: token frequencies, top-k as TSV.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val k = m.get("-k").flatMap(_.headOption).map(_.toInt).getOrElse(1000)
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      import org.apache.spark.sql.functions._
      val top = spark.read.parquet(in)
        .select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(k)
      XenaTsv.write(top, out, rowKey = Some("token"))
      println(s"top-$k vocabulary written to $out")
      0

    case "bpe-train" :: rest =>
      // Train a BPE merge table (Quality.bpeMerges) and ship it as the
      // ordered TSV a tokenize run consumes: step, left, right,
      // merged, count.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val n = m.get("--merges").flatMap(_.headOption).map(_.toInt).getOrElse(32)
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      import org.apache.spark.sql.functions.col
      val docs = spark.read.parquet(in).withColumn("text", col(textCol))
      val merges = graft.ops.Quality.bpeMerges(docs, n)
      val body = ("step\tleft\tright\tmerged\tcount" +:
        merges.map(mg => s"${mg.step}\t${mg.left}\t${mg.right}\t${mg.merged}\t${mg.cnt}"))
        .mkString("", "\n", "\n")
      val p = java.nio.file.Paths.get(out)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"${merges.size} BPE merges written to $out")
      0

    case "tokenize" :: rest =>
      // Apply a trained merge table (bpe-train's TSV) to the corpus:
      // per-doc whitespace-token and BPE-piece counts
      // (Quality.bpeEncode) — the trained-tokenizer length signal a
      // data-budget pass weighs documents by.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val mergesPath = one(m, "--merges")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val spark = session()
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

    case "split" :: rest =>
      // Deterministic hash-bucket train/valid/test assignment.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val trainPct = m.get("--train").flatMap(_.headOption).map(_.toInt).getOrElse(80)
      val validPct = m.get("--valid").flatMap(_.headOption).map(_.toInt).getOrElse(10)
      if (trainPct < 0 || validPct < 0 || trainPct + validPct > 100) {
        System.err.println(
          s"split: --train ($trainPct) and --valid ($validPct) must be >= 0 and sum to <= 100" +
            " (the remainder is the test split)")
        return 2
      }
      val spark = session()
      import org.apache.spark.sql.functions.col
      spark.read.parquet(in)
        .select(col(idCol),
          graft.functions.TextFunctions.hashSplit(col(idCol), trainPct, validPct).as("split"))
        .write.mode("overwrite").parquet(out)
      println(s"split assignment written to $out")
      0

    case "pack" :: rest =>
      // Chunk documents into sliding token windows and assign
      // fixed-budget training contexts (the q61/q63 pipeline).
      // --stream treats --input as a landing directory and continues
      // the token cumsum across micro-batches (PackStream).
      val m = opts(rest)
      val out = one(m, "-o", "--output")
      val budget = m.get("--budget").flatMap(_.headOption).map(_.toLong).getOrElse(512L)
      if (m.contains("--compact")) {
        // Maintenance verb: restore batch-q63 global order over a
        // streamed pack store (no input needed — the store's own
        // chunk rows are the assignment input). The geometry comes
        // from the store's pinned budget; --budget is only an
        // override for stores predating the pin (a conflict refuses).
        graft.streaming.PackStream.compact(session(), out,
          m.get("--budget").flatMap(_.headOption).map(_.toLong))
        println(s"pack store compacted to global (doc_id, chunk_seq) order: $out")
        return 0
      }
      val in = one(m, "-i", "--input")
      val window = m.get("--window").flatMap(_.headOption).map(_.toInt).getOrElse(50)
      val stride = m.get("--stride").flatMap(_.headOption).map(_.toInt).getOrElse(40)
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      import org.apache.spark.sql.functions.col
      if (m.contains("--stream")) {
        val ckpt = m.get("--checkpoint").flatMap(_.headOption)
          .getOrElse(s"$out/_checkpoint")
        val q = graft.streaming.PackStream.maintain(
          spark, in, out, ckpt, budget, window, stride)
        q.awaitTermination() // AvailableNow: returns once caught up
        println(s"packed stream caught up; packs under $out/data")
      } else {
        val docs = spark.read.parquet(in)
          .select(col(idCol).as("doc_id"), col(textCol).as("text"))
        graft.ops.Packing.assign(graft.ops.Packing.chunk(docs, window, stride), budget)
          .write.mode("overwrite").parquet(out)
        println(s"pack assignment written to $out")
      }
      0

    case "decontaminate" :: rest =>
      // Default: drop corpus docs sharing any word n-gram with the
      // benchmark set (GPT-3-style decontamination); writes the clean
      // corpus. --trim instead cuts only the contaminated SPANS
      // (n-token windows present in the benchmark), keeping the rest
      // of each document: (doc_id, n_tokens, n_removed, trimmed_text).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val benchPath = one(m, "-b", "--benchmark")
      val out = one(m, "-o", "--output")
      val n = m.get("-n").flatMap(_.headOption).map(_.toInt).getOrElse(5)
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      import org.apache.spark.sql.functions.col
      val docs = spark.read.parquet(in)
      val bench = spark.read.parquet(benchPath)
      if (m.contains("--trim")) {
        graft.dedup.Dedup.decontaminateTrim(docs, bench, idCol, textCol, n)
          .write.mode("overwrite").parquet(out)
        println(s"span-decontaminated corpus written to $out")
      } else {
        // --bloom: broadcast Bloom-prefilter path — same rows (no
        // false negatives + exact confirm), clean docs never explode
        // their grams. The default for large corpora with rare
        // contamination; the plain path wins only when most documents
        // are contaminated anyway.
        val contaminated = (if (m.contains("--bloom"))
          graft.dedup.Dedup.crossNgramOverlapBloom(docs, bench, idCol, textCol, n)
        else
          graft.dedup.Dedup.crossNgramOverlap(docs, bench, idCol, textCol, n))
          .select(col("doc_id").as(idCol))
        val clean = docs.join(contaminated, Seq(idCol), "left_anti")
        clean.write.mode("overwrite").parquet(out)
        println(s"decontaminated corpus written to $out")
      }
      0

    case "fp-store" :: rest =>
      // Incremental exact-dedup store: --create persists the corpus
      // fingerprint set bucketed-by-fp; --ingest dedups a new batch
      // against it (batch-side-only shuffle), writes the accepted
      // rows, and appends their fingerprints — so re-ingesting the
      // same batch accepts zero rows (idempotent re-delivery).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val store = one(m, "-s", "--store")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      if (m.contains("--create")) {
        val buckets = m.get("--buckets").flatMap(_.headOption).map(_.toInt).getOrElse(64)
        val docs = spark.read.parquet(in)
        graft.dedup.FingerprintStore.createAt(spark, docs, idCol, textCol, store, buckets)
        println(s"fingerprint store created at $store ($buckets buckets)")
      } else {
        val out = one(m, "-o", "--output")
        val (table, buckets) = graft.dedup.FingerprintStore.attach(spark, store)
        val batch = spark.read.parquet(in)
        val accepted = graft.dedup.FingerprintStore
          .dedupeNew(spark, table, batch, idCol, textCol)
          .localCheckpoint(false) // consumed twice: sink + fp append
        accepted.write.mode("overwrite").parquet(out)
        graft.dedup.FingerprintStore.append(
          spark, table, accepted, idCol, textCol, buckets)
        println(s"accepted ${accepted.count()} of ${batch.count()} batch rows -> $out; store updated")
      }
      0

    case "curate-stream" :: rest =>
      // Incremental curation (streaming/StreamCurate): documents
      // landing in a directory pass the per-document gates (quality,
      // length, decontamination vs a static benchmark) and exact-
      // dedupe against the fingerprint store; survivors append to the
      // curated corpus with a per-batch ledger line. Create the store
      // first (fp-store --create, possibly over an empty corpus);
      // corpus-global stages (near-dup clusters, budget) run as
      // periodic batch passes via curate-pipeline.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val store = one(m, "-s", "--store")
      val benchPath = one(m, "--bench")
      val out = one(m, "-o", "--output")
      val ckpt = m.get("--checkpoint").flatMap(_.headOption)
        .getOrElse(sys.error("curate-stream needs --checkpoint <dir>"))
      val minQuality = m.get("--min-quality").flatMap(_.headOption)
        .map(_.toDouble).getOrElse(0.5)
      val spark = session()
      val bench = spark.read.parquet(benchPath).select("doc_id", "text")
      val q = graft.streaming.StreamCurate.maintain(
        spark, in, store, bench, out, ckpt, minQuality = minQuality)
      q.processAllAvailable(); q.stop()
      println(s"streamed curation -> $out/corpus (+ _ledger); store updated")
      0

    case "drift-stream" :: rest =>
      // Streaming distribution-drift monitor: per micro-batch, one
      // KL-vs-frozen-LM-store row per group lands at
      // ledger/batch=<id> (overwrite - replay idempotent).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val store = one(m, "-s", "--store")
      val out = one(m, "-o", "--output")
      val ckpt = m.get("--checkpoint").flatMap(_.headOption)
        .getOrElse(sys.error("drift-stream needs --checkpoint <dir>"))
      val grp = m.get("--group").flatMap(_.headOption).getOrElse("source")
      val spark = session()
      val schema = spark.read.parquet(in).schema // landing must have >= 1 drop
      val q = graft.streaming.StreamDrift.maintain(
        spark, in, store, out, ckpt, schema, grp)
      q.processAllAvailable(); q.stop()
      println(s"streamed drift ledger -> $out")
      0

    case "data-card" :: rest =>
      // Corpus data card: the one-file JSON datasheet a curated
      // corpus ships with -- sizes, lang/source composition, dup
      // rates, quality buckets, optional token-budget mixture plan.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val budget = m.get("--budget").flatMap(_.headOption).map(_.toLong).getOrElse(0L)
      val epochs = m.get("--epochs").flatMap(_.headOption).map(_.toLong).getOrElse(2L)
      // drift posture: each provided frozen store adds its monitor's
      // rows to the card's "drift" section (v2 datasheet health).
      def storeOpt(k: String) = m.get(k).flatMap(_.headOption)
      val drift = graft.ops.DataCard.DriftStores(
        langIdStore = storeOpt("--langid-store"),
        hllStore = storeOpt("--hll-store"),
        tokStore = storeOpt("--tok-store"),
        psiStore = storeOpt("--psi-store").map(p =>
          (p, storeOpt("--psi-col").getOrElse("n_chars"))),
        cmsStore = storeOpt("--cms-store"))
      val spark = session()
      graft.ops.DataCard.write(spark, spark.read.parquet(in), out,
        budget = budget, maxEpochs = epochs, drift = drift)
      println(s"data card written to $out/card.json")
      0

    case "eval-stream" :: rest =>
      // Streaming filter-quality monitor: per labeled micro-batch,
      // one classifierMetrics row vs the FROZEN NB store lands at
      // ledger/batch=<id> (overwrite - replay idempotent).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val store = one(m, "-s", "--store")
      val out = one(m, "-o", "--output")
      val ckpt = m.get("--checkpoint").flatMap(_.headOption)
        .getOrElse(sys.error("eval-stream needs --checkpoint <dir>"))
      val label = m.get("--label").flatMap(_.headOption).getOrElse("y")
      val spark = session()
      val schema = spark.read.parquet(in).schema // landing must have >= 1 drop
      val q = graft.streaming.EvalStream.maintain(
        spark, in, store, out, ckpt, schema, label)
      q.processAllAvailable(); q.stop()
      println(s"streamed evaluation ledger -> $out")
      0

    case "export-shards" :: rest =>
      // Sharded training export: every document lands in exactly one
      // of --shards files-worth of data, internally shuffled by the
      // deterministic md5 order (Packing.shardAssignments), written
      // partitioned by shard with rows sorted by shard_pos, plus a
      // manifest.json of per-shard row/token counts — the
      // dataloader-facing corpus sink.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val nShards = m.get("--shards").flatMap(_.headOption).map(_.toInt).getOrElse(16)
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      import org.apache.spark.sql.functions.{col, sum}
      val docs = spark.read.parquet(in)
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

    case "lm-store" :: rest =>
      // Frozen corpus LM: --create fits the unigram LM on a reference
      // corpus (bucketed vocab + totals sidecar); --score rates a
      // batch under it — O(batch) quality gating with n_oov separated
      // from low-probability (two different failure modes).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val store = one(m, "-s", "--store")
      val spark = session()
      if (m.contains("--create")) {
        val buckets = m.get("--buckets").flatMap(_.headOption).map(_.toInt).getOrElse(64)
        graft.ops.LmStore.createAt(spark, spark.read.parquet(in), store, buckets)
        println(s"unigram LM store created at $store ($buckets buckets)")
      } else if (m.contains("--oov")) {
        val out = one(m, "-o", "--output")
        val langCol = m.get("--lang").flatMap(_.headOption).getOrElse("lang")
        graft.ops.LmStore.oovReport(spark, store, spark.read.parquet(in), langCol)
          .write.mode("overwrite").parquet(out)
        println(s"OOV aging report written to $out")
      } else {
        val out = one(m, "-o", "--output")
        graft.ops.LmStore.score(spark, store, spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)
        println(s"LM scores written to $out")
      }
      0

    case "corpus-diff" :: rest =>
      // Snapshot release audit: per source, docs added / removed /
      // content-changed / unchanged between two corpus releases.
      val m = opts(rest)
      val prev = one(m, "--prev")
      val now = one(m, "--now")
      val out = one(m, "-o", "--output")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val srcCol = m.get("--source").flatMap(_.headOption).getOrElse("source")
      val spark = session()
      graft.ops.CorpusDiff.diff(
          spark.read.parquet(prev), spark.read.parquet(now), idCol, textCol, srcCol)
        .write.mode("overwrite").parquet(out)
      println(s"corpus diff written to $out")
      0

    case "vocab-size" :: rest =>
      // Per-group vocabulary size, exact + HyperLogLog estimate (the
      // sketch is what a full-scale run keeps; the exact column gates
      // it honest at test scale).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val group = m.get("--group").flatMap(_.headOption).getOrElse("lang")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val p = m.get("--p").flatMap(_.headOption).map(_.toInt).getOrElse(12)
      val spark = session()
      graft.ops.CorpusStats.vocabSize(spark.read.parquet(in), group, textCol, p)
        .write.mode("overwrite").parquet(out)
      println(s"vocabulary-size report written to $out")
      0

    case "hll-store" :: rest =>
      // Persisted per-language HLL registers: --create freezes the
      // reference corpus's registers; --growth reports per-language
      // estimated vocabulary before/after an arriving batch without
      // folding; --ingest folds the batch in (register-wise max,
      // replay-idempotent); --stream writes a growth ledger per
      // micro-batch at batch=<id> and folds each batch after reporting.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val store = one(m, "-s", "--store")
      val langCol = m.get("--lang").flatMap(_.headOption).getOrElse("lang")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      if (m.contains("--create")) {
        val p = m.get("--p").flatMap(_.headOption).map(_.toInt).getOrElse(12)
        graft.ops.HllStore.createAt(spark, spark.read.parquet(in), store, langCol, textCol, p)
        println(s"HLL register store created at $store (p=$p)")
      } else if (m.contains("--ingest")) {
        graft.ops.HllStore.ingest(spark, store, spark.read.parquet(in), langCol, textCol)
        println(s"batch folded into $store")
      } else if (m.contains("--stream")) {
        val out = one(m, "-o", "--output")
        val ckpt = one(m, "--checkpoint")
        val schema = spark.read.parquet(in).schema
        val q = graft.streaming.HllStream.maintain(
          spark, in, store, out, ckpt, schema, langCol, textCol)
        q.awaitTermination()
        println(s"vocabulary-growth ledger written to $out")
      } else {
        val out = one(m, "-o", "--output")
        graft.ops.HllStore.growth(spark, store, spark.read.parquet(in), langCol, textCol)
          .write.mode("overwrite").parquet(out)
        println(s"vocabulary-growth report written to $out")
      }
      0

    case "cms-store" :: rest =>
      // Frozen Count-Min-Sketch counters: --create folds the reference
      // corpus's token occurrences into a d x w counter matrix;
      // --surge reports an arriving batch's top-k tokens with exact
      // batch counts, frozen CMS reference estimates and surge ratios
      // (the template/spam alarm); --stream writes the surge report
      // per micro-batch at batch=<id> (overwrite, replay-idempotent).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val store = one(m, "-s", "--store")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      if (m.contains("--create")) {
        val d = m.get("--d").flatMap(_.headOption).map(_.toInt).getOrElse(4)
        val w = m.get("--w").flatMap(_.headOption).map(_.toInt).getOrElse(1024)
        graft.ops.CmsStore.createAt(spark, spark.read.parquet(in), store, d, w, textCol)
        println(s"CMS counter store created at $store (d=$d, w=$w)")
      } else if (m.contains("--stream")) {
        val out = one(m, "-o", "--output")
        val ckpt = one(m, "--checkpoint")
        val k = m.get("-k").flatMap(_.headOption).map(_.toInt).getOrElse(20)
        val schema = spark.read.parquet(in).schema
        val q = graft.streaming.CmsStream.maintain(
          spark, in, store, out, ckpt, schema, k, textCol)
        q.awaitTermination()
        println(s"surge ledger written under $out")
      } else {
        val out = one(m, "-o", "--output")
        val k = m.get("-k").flatMap(_.headOption).map(_.toInt).getOrElse(20)
        graft.ops.CmsStore.surge(spark, store, spark.read.parquet(in), k, textCol)
          .write.mode("overwrite").parquet(out)
        println(s"heavy-hitter surge report written to $out")
      }
      0

    case "nb-store" :: rest =>
      // Frozen Naive Bayes classifier: --create fits the class-
      // conditional histograms on a labeled reference corpus (seed
      // label from a SQL boolean over its columns); --score rates a
      // batch under the FROZEN model — O(batch) trainable quality /
      // langid gating, OOV priced by Laplace and counted.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val store = one(m, "-s", "--store")
      val spark = session()
      if (m.contains("--create")) {
        val seed = one(m, "--seed")
        val buckets = m.get("--buckets").flatMap(_.headOption).map(_.toInt).getOrElse(64)
        graft.ops.NbStore.createAt(
          spark, spark.read.parquet(in),
          org.apache.spark.sql.functions.expr(seed), store, buckets)
        println(s"NB model store created at $store ($buckets buckets, seed: $seed)")
      } else {
        val out = one(m, "-o", "--output")
        graft.ops.NbStore.score(spark, store, spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)
        println(s"NB scores written to $out")
      }
      0

    case "tok-store" :: rest =>
      // Frozen BPE tokenizer: --create trains the merge table on a
      // reference snapshot and persists it (ordered merges + training
      // fertility reference); --encode tokenizes a batch under the
      // FROZEN table (O(batch), no training jobs); --drift reports
      // per-language fertility against the snapshot — the
      // tokenizer-aging monitor.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val store = one(m, "-s", "--store")
      val spark = session()
      if (m.contains("--create")) {
        val n = m.get("--merges").flatMap(_.headOption).map(_.toInt).getOrElse(32)
        val merges = graft.ops.TokStore.createAt(
          spark, spark.read.parquet(in), store, n)
        println(s"BPE tokenizer store created at $store (${merges.size} merges)")
      } else if (m.contains("--drift")) {
        val out = one(m, "-o", "--output")
        graft.ops.TokStore.fertilityDrift(spark, store, spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)
        println(s"fertility drift vs frozen tokenizer written to $out")
      } else {
        val out = one(m, "-o", "--output")
        graft.ops.TokStore.encode(spark, store, spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)
        println(s"frozen-tokenizer encode written to $out")
      }
      0

    case "langid-store" :: rest =>
      // Frozen language-ID model: --create fits Cavnar-Trenkle
      // profiles on a labeled snapshot and persists them with the
      // snapshot's labeled language mix; --mix-drift reports the
      // arriving batch's PREDICTED composition against it (the
      // feed-composition alarm); default classifies the batch.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val store = one(m, "-s", "--store")
      val spark = session()
      if (m.contains("--create")) {
        val topM = m.get("--top-m").flatMap(_.headOption).map(_.toInt).getOrElse(64)
        graft.ops.LangIdStore.createAt(spark, spark.read.parquet(in), store, topM)
        println(s"langid store created at $store (top-$topM profiles)")
      } else if (m.contains("--mix-drift")) {
        val out = one(m, "-o", "--output")
        graft.ops.LangIdStore.mixDrift(spark, store, spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)
        println(s"language-mix drift vs frozen profiles written to $out")
      } else {
        val out = one(m, "-o", "--output")
        graft.ops.LangIdStore.classify(spark, store, spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)
        println(s"frozen-profile langid predictions written to $out")
      }
      0

    case "budget" :: rest =>
      // Per-key token-budget sample (the "at most B tokens from each
      // source" mixture clause): deterministic md5-order take within
      // each key until the budget is consumed. Writes (id, key,
      // weight, cum_before) for kept rows.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val budget = one(m, "-B", "--budget").toLong
      val keyCol = m.get("--key").flatMap(_.headOption).getOrElse("source")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      val weighted = spark.read.parquet(in).select(col(idCol), col(keyCol),
        coalesce(graft.functions.TextFunctions.tokenCount(col(textCol)), lit(0))
          .as("n_tokens"))
      graft.ops.Sampling.tokenBudgetPerKey(weighted, keyCol, idCol, "n_tokens", budget)
        .write.mode("overwrite").parquet(out)
      println(s"budget sample ($budget tokens per $keyCol) written to $out")
      0

    case "sample" :: rest =>
      // Weighted sample without replacement (Efraimidis-Spirakis):
      // k rows per group, inclusion chance proportional to a SQL
      // weight expression over the row — deterministic (md5 uniform),
      // so re-runs and engines agree row-for-row.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val k = m.get("-k").flatMap(_.headOption).map(_.toInt).getOrElse(12)
      val groupCol = m.get("--group").flatMap(_.headOption).getOrElse("source")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      // Default weight is ln(2 + n_chars), not ln(1 + n_chars): an
      // empty document would otherwise weigh exactly 0 and trip
      // weightedSample's deliberate non-positive-weight guard,
      // failing the whole job on legitimate input.
      val weightExpr = m.get("--weight").flatMap(_.headOption)
        .getOrElse("ln(2 + n_chars)")
      val spark = session()
      if (m.contains("--stream")) {
        // Cross-batch reservoir over a landing directory: the store
        // at -o always holds the current sample (groups x k rows).
        val ckpt = m.get("--checkpoint").flatMap(_.headOption)
          .getOrElse(sys.error("sample --stream needs --checkpoint <dir>"))
        val schema = spark.read.parquet(in).schema // landing must have >= 1 drop
        val q = graft.streaming.StreamSample.maintain(
          spark, in, out, ckpt, schema, idCol, groupCol,
          org.apache.spark.sql.functions.expr(weightExpr), k)
        q.processAllAvailable(); q.stop()
        println(s"streamed weighted sample ($k per $groupCol) -> $out/sample")
      } else {
        graft.ops.Sampling.weightedSample(
          spark.read.parquet(in), idCol, groupCol,
          org.apache.spark.sql.functions.expr(weightExpr), k)
          .write.mode("overwrite").parquet(out)
        println(s"weighted sample ($k per $groupCol, weight $weightExpr) written to $out")
      }
      0

    case "cluster-sample" :: rest =>
      // Cluster-balanced subset over an embeddings parquet: k vectors
      // per k-means cell (diversity-flattening quota). Batch mode
      // trains the deterministic quantizer inline; --stream assigns
      // landings against a FROZEN persisted IVF index (--index) and
      // maintains the cross-batch reservoir store at -o.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val k = m.get("-k").flatMap(_.headOption).map(_.toInt).getOrElse(8)
      val spark = session()
      if (m.contains("--stream")) {
        val index = one(m, "--index")
        val ckpt = m.get("--checkpoint").flatMap(_.headOption)
          .getOrElse(sys.error("cluster-sample --stream needs --checkpoint <dir>"))
        val schema = spark.read.parquet(in).schema // landing must have >= 1 drop
        val q = graft.streaming.ClusterSampleStream.maintain(
          spark, in, index, out, ckpt, schema, k)
        q.processAllAvailable(); q.stop()
        println(s"streamed cluster-balanced reservoir ($k per cell) -> $out/sample")
      } else {
        val idCol = m.get("--id").flatMap(_.headOption).getOrElse("vec_id")
        val vecCol = m.get("--vec").flatMap(_.headOption).getOrElse("embedding")
        val dim = m.get("--dim").flatMap(_.headOption).map(_.toInt).getOrElse(64)
        val nlist = m.get("--nlist").flatMap(_.headOption).map(_.toInt).getOrElse(24)
        graft.similarity.Similarity.clusterBalancedSample(
          spark.read.parquet(in), idCol, vecCol, dim, nlist, k)
          .write.mode("overwrite").parquet(out)
        println(s"cluster-balanced sample ($k per cell, nlist $nlist) written to $out")
      }
      0

    case "evaluate" :: rest =>
      // Batch evaluation verbs over parquet inputs:
      //   --mode retrieval : results (query_id, doc_id, rank) vs a
      //     truth parquet (query_id, doc_id) -> per-query recall/MRR/
      //     nDCG rows plus a 1-row summary parquet alongside.
      //   --mode classifier: a scored parquet -> the single
      //     classifierMetrics row (tie-aware AUC + confusion rates).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val mode = m.get("--mode").flatMap(_.headOption).getOrElse("retrieval")
      val spark = session()
      mode match {
        case "retrieval" =>
          val truth = one(m, "-t", "--truth")
          val k = m.get("-k").flatMap(_.headOption).map(_.toInt).getOrElse(10)
          val per = graft.ops.Eval.retrievalMetrics(
            spark.read.parquet(in), spark.read.parquet(truth), k)
          per.write.mode("overwrite").parquet(s"$out/per_query")
          graft.ops.Eval.retrievalSummary(spark.read.parquet(s"$out/per_query"))
            .write.mode("overwrite").parquet(s"$out/summary")
          println(s"retrieval evaluation (k=$k) -> $out/per_query + $out/summary")
        case "classifier" =>
          val score = m.get("--score").flatMap(_.headOption).getOrElse("log_odds")
          val pred = m.get("--pred").flatMap(_.headOption).getOrElse("predicted")
          val label = m.get("--label").flatMap(_.headOption).getOrElse("y")
          val scored = spark.read.parquet(in)
          val res = m.get("--group").flatMap(_.headOption) match {
            case Some(g) => graft.ops.Eval.groupedClassifierMetrics(
              scored, g, score, pred, label)
            case None => graft.ops.Eval.classifierMetrics(scored, score, pred, label)
          }
          res.write.mode("overwrite").parquet(out)
          println(s"classifier evaluation -> $out")
        case "calibration" =>
          val score = m.get("--score").flatMap(_.headOption).getOrElse("log_odds")
          val label = m.get("--label").flatMap(_.headOption).getOrElse("y")
          val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
          val bins = m.get("--bins").flatMap(_.headOption).map(_.toInt).getOrElse(10)
          graft.ops.Eval.calibration(spark.read.parquet(in), idCol, score, label, bins)
            .write.mode("overwrite").parquet(out)
          println(s"calibration report ($bins bins) -> $out")
        case other => sys.error(s"evaluate: unknown --mode $other")
      }
      0

    case "psi-store" :: rest =>
      // Frozen score-distribution reference for PSI drift monitoring:
      // --create fits exact quantile cut-points on a reference column
      // and freezes them with the reference bin counts; the default
      // mode bins an arriving batch under the FROZEN cuts and reports
      // per-bin shares + PSI terms; --stream writes the same report
      // per micro-batch at batch=<id> (overwrite, replay-idempotent).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val store = one(m, "-s", "--store")
      val valueCol = m.get("--col").flatMap(_.headOption).getOrElse("value")
      val spark = session()
      if (m.contains("--create")) {
        val qs = m.get("--qs").flatMap(_.headOption)
          .map(_.split(",").toSeq.map(_.toDouble))
          .getOrElse(Seq(0.2, 0.4, 0.6, 0.8))
        graft.ops.PsiStore.createAt(spark, spark.read.parquet(in), valueCol, store, qs)
        println(s"PSI reference frozen at $store (${qs.size + 1} bins on $valueCol)")
      } else if (m.contains("--stream")) {
        val out = one(m, "-o", "--output")
        val ckpt = one(m, "--checkpoint")
        val schema = spark.read.parquet(in).schema
        val q = graft.streaming.PsiStream.maintain(
          spark, in, store, out, ckpt, schema, valueCol)
        q.awaitTermination()
        println(s"PSI ledger written to $out")
      } else {
        val out = one(m, "-o", "--output")
        graft.ops.PsiStore.psi(spark, store, spark.read.parquet(in), valueCol)
          .write.mode("overwrite").parquet(out)
        println(s"PSI report written to $out")
      }
      0

    case "mixture-plan" :: rest =>
      // Token-budget mixture allocation over a documents parquet:
      // group by --group, temperature-weighted water-filling under a
      // --budget and --epochs cap (q113's operator).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val grp = m.get("--group").flatMap(_.headOption).getOrElse("source")
      val budget = m.get("--budget").flatMap(_.headOption).map(_.toLong)
        .getOrElse(sys.error("mixture-plan needs --budget <tokens>"))
      val epochs = m.get("--epochs").flatMap(_.headOption).map(_.toLong).getOrElse(2L)
      val alpha = m.get("--alpha").flatMap(_.headOption).map(_.toDouble).getOrElse(0.5)
      val spark = session()
      import org.apache.spark.sql.functions.{col, size, sum}
      val per = spark.read.parquet(in)
        .filter(col("text").isNotNull)
        .select(col(grp).as("source"),
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("nt"))
        .groupBy("source").agg(sum("nt").cast("long").as("n_tokens"))
      graft.ops.Mixture.tokenBudgetAllocation(per, budget, epochs, alpha)
        .write.mode("overwrite").parquet(out)
      println(s"mixture plan (budget $budget, cap $epochs epochs) -> $out")
      0

    case "quality" :: rest =>
      // Per-document quality / data-selection scores over a documents
      // parquet: --mode heuristic (length/stopword/punctuation
      // composite), unigram-lm (mean token log-prob under the corpus's
      // own unigram LM), importance (DSIR hashed-unigram log-weights
      // against --target-where rows), novelty (fraction of distinct
      // n-grams unique to the doc).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val mode = m.get("--mode").flatMap(_.headOption).getOrElse("heuristic")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      import org.apache.spark.sql.functions.{col, expr}
      val docsIn = spark.read.parquet(in)
      // The Quality operators address doc_id/text/lang by name;
      // normalize the configured columns onto that contract once.
      val docs0 = docsIn
        .withColumn("doc_id", col(idCol))
        .withColumn("text", col(textCol))
      val scored = mode match {
        case "heuristic" =>
          docs0.select(col("doc_id"),
            graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
        case "unigram-lm" =>
          graft.ops.Quality.unigramLogprob(docs0)
        case "bigram-lm" =>
          graft.ops.Quality.bigramLogprob(docs0)
        case "importance" =>
          val targetWhere = one(m, "--target-where")
          val buckets = m.get("--buckets").flatMap(_.headOption)
            .map(_.toInt).getOrElse(64)
          val withLang =
            if (docs0.columns.contains("lang")) docs0
            else docs0.withColumn("lang", org.apache.spark.sql.functions.lit(""))
          graft.ops.Quality.importanceWeights(withLang, expr(targetWhere), buckets)
        case "novelty" =>
          val n = m.get("-n").orElse(m.get("--ngram")).flatMap(_.headOption).map(_.toInt).getOrElse(3)
          graft.ops.Quality.ngramNovelty(docs0, n)
        case "buckets" =>
          val nb = m.get("--n-buckets").flatMap(_.headOption).map(_.toInt).getOrElse(3)
          val withLang =
            if (docs0.columns.contains("lang")) docs0
            else docs0.withColumn("lang", org.apache.spark.sql.functions.lit(""))
          graft.ops.Quality.qualityBuckets(withLang, nb)
        case other =>
          sys.error(s"quality --mode must be heuristic|unigram-lm|bigram-lm|importance|novelty|buckets, got $other")
      }
      scored.write.mode("overwrite").parquet(out)
      println(s"quality scores ($mode) written to $out")
      0

    case "retrieve" :: rest =>
      // BM25 top-k lexical retrieval: score a query parquet (or a
      // --queries-where subset of the corpus) against a corpus
      // parquet; writes (query_id, doc_id, rank, score).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val k = m.get("-k").flatMap(_.headOption).map(_.toInt).getOrElse(10)
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      import org.apache.spark.sql.functions.{col, expr, not}
      val all = spark.read.parquet(in)
        .withColumn("doc_id", col(idCol)).withColumn("text", col(textCol))
      val (corpus, queries) =
        (m.get("-q").orElse(m.get("--queries")).flatMap(_.headOption),
          m.get("--queries-where").flatMap(_.headOption)) match {
          case (Some(qPath), _) =>
            (all, spark.read.parquet(qPath)
              .select(col(idCol).as("q_id"), col(textCol).as("text")))
          case (None, Some(where)) =>
            (all.filter(not(expr(where))),
              all.filter(expr(where)).select(col("doc_id").as("q_id"), col("text")))
          case (None, None) =>
            sys.error("retrieve needs -q <queries.parquet> or --queries-where '<pred>'")
        }
      // --store: probe a persisted posting store (see `posting-store
      // --create`) instead of tokenizing the corpus in this run; -i
      // still names the query source when --queries-where selects
      // from it. --mode tfidf swaps the scoring to cosine over
      // tf-idf weights (with --store it needs the frozen document
      // norms of `posting-store --freeze-norms`, refit per corpus
      // release — the q141 contract). --max-term-df N is
      // the DECLARED approximation for boilerplate-heavy query
      // batches: query terms with corpus df > N are dropped from
      // scoring — probe cost bounded by Σ df over admitted terms
      // (q137/q140's oracle-visible contracts; for tf-idf the cap
      // restricts the dot probe only, norms keep every term).
      val mode = m.get("--mode").flatMap(_.headOption).getOrElse("bm25")
      val maxDf = m.get("--max-term-df").flatMap(_.headOption)
        .map(_.toLong).getOrElse(Long.MaxValue)
      val hits = (m.get("-s").orElse(m.get("--store")).flatMap(_.headOption), mode) match {
        case (Some(store), "bm25") =>
          graft.ops.PostingStore.retrieve(spark, store, queries, k, maxTermDf = maxDf)
        case (Some(store), "tfidf") =>
          graft.ops.PostingStore.retrieveTfidf(spark, store, queries, k, maxTermDf = maxDf)
        case (Some(_), other) => sys.error(s"retrieve --store supports bm25|tfidf, got $other")
        case (None, "bm25") =>
          graft.ops.Retrieval.bm25TopK(corpus, queries, k, maxTermDf = maxDf)
        case (None, "tfidf") =>
          graft.ops.Retrieval.tfidfTopK(corpus, queries, k, maxTermDf = maxDf)
        case (None, other) => sys.error(s"retrieve --mode must be bm25|tfidf, got $other")
      }
      hits.write.mode("overwrite").parquet(out)
      println(s"$mode top-$k written to $out")
      0

    case "posting-store" :: rest =>
      // Persisted BM25 posting store: --create tokenizes + counts the
      // corpus once into a term-bucket-partitioned posting table;
      // --ingest appends NEW docs (dedup upstream). Probe with
      // `retrieve --store`.
      val m = opts(rest)
      val store = one(m, "-s", "--store")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      import org.apache.spark.sql.functions.col
      // -i names the corpus for --create/--ingest; --freeze-norms
      // reads only the store's own ledger.
      def docs = {
        val in = one(m, "-i", "--input")
        spark.read.parquet(in)
          .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      }
      if (m.contains("--create")) {
        val buckets = m.get("--buckets").flatMap(_.headOption).map(_.toInt).getOrElse(64)
        graft.ops.PostingStore.create(docs, store, buckets)
        println(s"posting store created at $store")
      } else if (m.contains("--ingest")) {
        // --tag names this ingest's ledger entry: re-running with the
        // same tag REPLACES it (the crash-retry idempotence lever),
        // a new tag appends a new batch.
        val tag = one(m, "--tag")
        graft.ops.PostingStore.append(docs, store, tag)
        println(s"posting store at $store grown (tag $tag)")
      } else if (m.contains("--freeze-norms")) {
        // Freeze the tf-idf document norms of the committed ledger —
        // the once-per-release fit `retrieve --store --mode tfidf`
        // probes against; an --ingest after a freeze makes the norms
        // stale and the probe refuses until this re-runs.
        graft.ops.PostingStore.freezeNorms(spark, store)
        println(s"tf-idf norms frozen at $store")
      } else sys.error("posting-store needs --create, --ingest or --freeze-norms")
      0

    case "corpus-stats" :: rest =>
      // Corpus-level lexical statistics: --mode hitters (exact heavy
      // hitters behind a Count-Min prefilter) or pmi (windowed PMI
      // collocations).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val mode = m.get("--mode").flatMap(_.headOption).getOrElse("hitters")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      import org.apache.spark.sql.functions.col
      val docs = spark.read.parquet(in).withColumn("text", col(textCol))
      val res = mode match {
        case "hitters" =>
          val minCount = m.get("--min-count").flatMap(_.headOption)
            .map(_.toLong).getOrElse(1000L)
          graft.ops.CorpusStats.heavyHitters(docs, minCount)
        case "pmi" =>
          val w = m.get("--window").flatMap(_.headOption).map(_.toInt).getOrElse(3)
          val minPair = m.get("--min-pair").flatMap(_.headOption)
            .map(_.toLong).getOrElse(5L)
          val k = m.get("-k").flatMap(_.headOption).map(_.toInt).getOrElse(20)
          graft.ops.CorpusStats.pmiPairs(docs, w, minPair, k)
        case "drift" =>
          val grp = m.get("--group").flatMap(_.headOption).getOrElse("source")
          graft.ops.Quality.groupKlDrift(docs, grp)
        case other =>
          sys.error(s"corpus-stats --mode must be hitters|pmi|drift, got $other")
      }
      res.write.mode("overwrite").parquet(out)
      println(s"corpus stats ($mode) written to $out")
      0

    case "link" :: rest =>
      // Cross-corpus fuzzy join (record linkage by near-duplicate
      // text): writes (doc_a from --reference, doc_b from --input,
      // jaccard) for every pair clearing --threshold. With --store,
      // the reference's persisted band table (see `band-store
      // --create`) supplies the candidate side — the reference is
      // signed once, not per link run; its text is read only for
      // candidate verification.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val ref = one(m, "-r", "--reference")
      val out = one(m, "-o", "--output")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val threshold = m.get("--threshold").flatMap(_.headOption)
        .map(_.toDouble).getOrElse(0.8)
      val maxBucket = m.get("--max-bucket").flatMap(_.headOption)
        .map(_.toLong).getOrElse(10000L)
      val spark = session()
      val links = m.get("-s").orElse(m.get("--store")).flatMap(_.headOption) match {
        case Some(store) =>
          val (table, (sn, snh, sb, _, _)) = graft.dedup.BandStore.attach(spark, store)
          graft.dedup.BandStore.linkNew(
            spark, table, spark.read.parquet(in), spark.read.parquet(ref),
            idCol, textCol, threshold, n = sn, numHashes = snh, bands = sb,
            maxBucketSize = maxBucket)
        case None =>
          val n = m.get("-n").orElse(m.get("--ngram")).flatMap(_.headOption)
            .map(_.toInt).getOrElse(2)
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

    case "band-store" :: rest =>
      // Persist a reference corpus's MinHash band table for
      // incremental linkage: --create signs the corpus once; `link
      // --store` then links arriving batches without re-signing it.
      // --ingest appends NEW reference docs' band rows (sign only the
      // new docs).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val store = one(m, "-s", "--store")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val spark = session()
      if (m.contains("--create")) {
        val n = m.get("-n").orElse(m.get("--ngram")).flatMap(_.headOption)
          .map(_.toInt).getOrElse(2)
        val buckets = m.get("--buckets").flatMap(_.headOption).map(_.toInt).getOrElse(64)
        graft.dedup.BandStore.createAt(
          spark, spark.read.parquet(in), idCol, textCol, store,
          n = n, numHashes = 64, bands = 16, buckets = buckets)
        println(s"band store created at $store ($buckets buckets)")
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

    case "image-store" :: rest =>
      // Persisted image near-dup signatures ([[SigBandStore]] over
      // packed aHash64): --create decodes and signs a PPM corpus ONCE;
      // --ingest links an arriving image batch against the store
      // (exchange-free bucket join + popcount verify), writes the
      // (img_a, img_b, hamming) pairs, and appends the batch's
      // signatures; --stream runs the same link-then-append per
      // micro-batch over a landing directory.
      sigStoreVerb(rest, "image", "img_a", "img_b", dfltMaxHamming = 6,
        sign = (spark, in) => graft.multimodal.ImageOps.aHash64Packed(spark,
          graft.multimodal.ImageOps.decodePpm(spark,
            graft.multimodal.ImageOps.readBinary(spark, in))),
        streamMaintain = graft.streaming.ImageSigStream.maintain(_, _, _, _, _, _))

    case "audio-store" :: rest =>
      // The audio twin over the SAME store machinery: packed eHash
      // signatures ([[AudioOps.energyHash64]]) instead of aHash.
      sigStoreVerb(rest, "audio", "clip_a", "clip_b", dfltMaxHamming = 4,
        sign = (spark, in) => graft.multimodal.AudioOps.energyHash64(spark,
          graft.multimodal.ImageOps.readBinary(spark, in)),
        streamMaintain = graft.streaming.AudioSigStream.maintain(_, _, _, _, _, _))

    case "classify" :: rest =>
      // kNN label propagation: classify --queries-where rows of the
      // embedding parquet by majority vote of their k nearest labeled
      // neighbors (the remaining rows with a non-null label).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val k = m.get("-k").flatMap(_.headOption).map(_.toInt).getOrElse(10)
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("vec_id")
      val vecCol = m.get("--vec").flatMap(_.headOption).getOrElse("embedding")
      val labelCol = m.get("--label").flatMap(_.headOption).getOrElse("label")
      val where = one(m, "--queries-where")
      val spark = session()
      import org.apache.spark.sql.functions.{col, not, expr}
      val corpus = spark.read.parquet(in)
      val queries = corpus.filter(where)
        .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      val seeds = corpus.filter(not(expr(where))).filter(col(labelCol).isNotNull)
      graft.similarity.Similarity.knnClassify(
        seeds, queries, idCol, vecCol, labelCol, "q_id", "q_vec", k)
        .write.mode("overwrite").parquet(out)
      println(s"knn labels (k=$k) written to $out")
      0

    case "negatives" :: rest =>
      // Hard-negative mining for contrastive training: for each
      // --anchors-where row, the k most cosine-similar DIFFERENT-label
      // vectors from the rest of the embedding parquet.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val k = m.get("-k").flatMap(_.headOption).map(_.toInt).getOrElse(5)
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("vec_id")
      val vecCol = m.get("--vec").flatMap(_.headOption).getOrElse("embedding")
      val labelCol = m.get("--label").flatMap(_.headOption).getOrElse("label")
      val where = one(m, "--anchors-where")
      val spark = session()
      import org.apache.spark.sql.functions.{col, expr, not}
      val all = spark.read.parquet(in).filter(col(labelCol).isNotNull)
      graft.similarity.Similarity.hardNegatives(
        corpus = all.filter(not(expr(where))),
        anchors = all.filter(expr(where)).select(col(idCol).as("a_id"),
          col(vecCol).as("a_vec"), col(labelCol).as("a_label")),
        idCol, vecCol, labelCol, "a_id", "a_vec", "a_label", k)
        .write.mode("overwrite").parquet(out)
      println(s"hard negatives (k=$k) written to $out")
      0

    case "ann-index" :: rest =>
      // Build a persisted ANN index (probe-time partition pruning):
      // --family ivf -> vectors partitioned by cell + quantizer JSON;
      // --family lsh -> tables-way replicated index partitioned by
      // (t, sig).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val family = m.get("--family").flatMap(_.headOption).getOrElse("ivf")
      val dim = m.get("--dim").flatMap(_.headOption).map(_.toInt).getOrElse(64)
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("vec_id")
      val vecCol = m.get("--vec").flatMap(_.headOption).getOrElse("embedding")
      val spark = session()
      family match {
        case "ivf" =>
          val nlist = m.get("--nlist").flatMap(_.headOption).map(_.toInt).getOrElse(24)
          graft.similarity.Similarity.writeIvfIndex(
            spark.read.parquet(in), idCol, vecCol, dim, nlist, out)
          println(s"ivf index ($nlist cells) written to $out")
        case "lsh" =>
          val bits = m.get("--bits").flatMap(_.headOption).map(_.toInt).getOrElse(6)
          val tables = m.get("--tables").flatMap(_.headOption).map(_.toInt).getOrElse(4)
          graft.similarity.Similarity.writeLshIndex(
            spark.read.parquet(in), idCol, vecCol, dim, bits, out, tables)
          println(s"lsh index ($tables x 2^$bits buckets) written to $out")
        case "pq" =>
          graft.similarity.Similarity.writePqIndex(
            spark.read.parquet(in), idCol, vecCol, dim, out)
          println(s"pq index (compressed codes) written to $out")
        case "ivfpq" =>
          val nlist = m.get("--nlist").flatMap(_.headOption).map(_.toInt).getOrElse(24)
          // --residual: faiss-style residual codes — better on
          // clustered corpora, worse on near-uniform ones (measured;
          // see Similarity.IvfPqIndexMeta.residual). --residual-auto
          // measures the corpus instead (mean residual-norm ratio
          // under the trained quantizer) and records the estimate and
          // the choice in index.json.
          val residual = m.contains("--residual")
          val residualAuto = m.contains("--residual-auto")
          if (residual && residualAuto)
            sys.error("--residual and --residual-auto are mutually exclusive: " +
              "--residual-auto lets the corpus measurement decide, --residual forces it")
          val built = graft.similarity.Similarity.writeIvfPqIndex(
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

    case "semantic-dedup" :: rest =>
      // SemDeDup over an embeddings parquet: writes one row per vector
      // (id, cell, cos_centroid, kept 0/1); the kept==1 rows are the
      // deduplicated corpus. Pairwise work is bounded per k-means cell
      // — size --nlist to the corpus (cells of ~10³-10⁴ vectors).
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("vec_id")
      val vecCol = m.get("--vec").flatMap(_.headOption).getOrElse("embedding")
      val dim = m.get("--dim").flatMap(_.headOption).map(_.toInt).getOrElse(64)
      val nlist = m.get("--nlist").flatMap(_.headOption).map(_.toInt).getOrElse(24)
      val threshold = m.get("--threshold").flatMap(_.headOption)
        .map(_.toDouble).getOrElse(0.4)
      val spark = session()
      graft.similarity.Similarity.semanticDedup(
        spark.read.parquet(in), idCol, vecCol, dim, nlist, threshold)
        .write.mode("overwrite").parquet(out)
      println(s"semantic-dedup (nlist=$nlist, threshold=$threshold) written to $out")
      0

    case "dup-windows" :: rest =>
      // Cross-document duplicated token-window report: one row per
      // document with >= --w tokens — (doc_id, n_windows,
      // n_dup_windows, dup_frac). The trimming signal of
      // substring-level dedup; docs with high dup_frac repeat spans
      // that exist verbatim in other documents.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val w = m.get("--w").flatMap(_.headOption).map(_.toInt).getOrElse(8)
      val spark = session()
      graft.dedup.Dedup.dupWindowStats(spark.read.parquet(in), idCol, textCol, w)
        .write.mode("overwrite").parquet(out)
      println(s"dup-windows (w=$w) report written to $out")
      0

    case "dedup-trim" :: rest =>
      // Duplicated-span removal: writes the corpus with every
      // cross-doc duplicated w-token span cut except in its canonical
      // (min-doc-id) owner — (doc_id, n_tokens, n_removed,
      // trimmed_text). The removal twin of dup-windows' report.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val idCol = m.get("--id").flatMap(_.headOption).getOrElse("doc_id")
      val textCol = m.get("--text").flatMap(_.headOption).getOrElse("text")
      val w = m.get("--w").flatMap(_.headOption).map(_.toInt).getOrElse(8)
      val spark = session()
      graft.dedup.Dedup.trimDupSpans(spark.read.parquet(in), idCol, textCol, w)
        .write.mode("overwrite").parquet(out)
      println(s"dedup-trim (w=$w) corpus written to $out")
      0

    case "frames" :: rest =>
      // Multimodal frame extraction: sample frames from every media
      // file under a glob (container parse per-partition, fingerprint
      // where the codec decode would run) into one parquet frame
      // table — the input a vision/audio encoder batch would embed.
      val m = opts(rest)
      val in = one(m, "-i", "--input")
      val out = one(m, "-o", "--output")
      val kind = m.get("--kind").flatMap(_.headOption).getOrElse("avi")
      val spark = session()
      val binaries = graft.multimodal.ImageOps.readBinary(spark, in)
      val frames = kind match {
        case "avi" =>
          val everyK = m.get("--every").flatMap(_.headOption).map(_.toInt).getOrElse(1)
          graft.multimodal.VideoOps.frameSample(spark, binaries, everyK).toDF()
        case "wav" =>
          val n = m.get("--frames").flatMap(_.headOption).map(_.toInt).getOrElse(4)
          val bytes = m.get("--bytes").flatMap(_.headOption).map(_.toInt).getOrElse(1024)
          graft.multimodal.AudioOps.frameSample(spark, binaries, n, bytes).toDF()
        case other => sys.error(s"frames: unknown --kind $other (avi|wav)")
      }
      frames.write.mode("overwrite").parquet(out)
      println(s"frame table written to $out")
      0

    case other =>
      System.err.println(
        s"""usage: graft.Cli <subcommand> [options]
           |  etl        -t <dtype> -r <raw-dir> -o <out-matrix> [-c <cohort>]
           |  etl-batch  -t <dtypes...|all> -r <root> -o <out-dir> [-p <projects...|all>] [--not-datatype <d...>] [--not-projects <p...>] [--resume] [--delete-raw] [-j N|--parallel N] [-c <cohort>]
           |             (quarantines failures to <root>/unfinished.json + etl_<ts>.err; --resume re-attempts exactly those)
           |  merge-xena -f <files...> -t <dtype> -o <out-matrix>
           |  merge-xena --bucketed-store <dir> [--buckets N] -t <dtype> [-f <files...>] [-o <out-matrix>]
           |             (incremental merge into a persistent store; --buckets is fixed at init, default the session's shuffle partitions)
           |  metadata   -t <dtype> -p <matrix-path> [-c <cohort>]
           |  xena-eql   <matrix-a> <matrix-b>
           |  gdc-check-new <release-tsv-url-or-path>   (summary TSV on stdout)
           |  download   -m <manifest.tsv: name md5sum url> -o <raw-dir>
           |  dedup      -i <docs.parquet> -o <out.parquet> [--mode exact|near] [--max-bucket 10000] [--id doc_id] [--text text]
           |  curate     -i <docs.parquet> -o <out.parquet> [--min-quality 0.5] [--id doc_id] [--text text]
           |  curate-pipeline -i <docs.parquet> -o <out-dir> [--bench <parquet>] [--ct-lang] [--lang-store <langid-store-path>] [--seed <sql-bool-expr>] [--min-quality 0.5] [--min-tokens 5] [--max-tokens 1000] [--jaccard 0.8] [--budget 10000]   (writes corpus/ + ledger.json; --seed adds measured per-stage quality + decontam_audit/; --lang-store relabels from a frozen langid-store instead of an in-run CT fit)
           |  curate-stream -i <landing-dir> -s <fp-store> --bench <parquet> -o <out-dir> --checkpoint <dir> [--min-quality 0.5]
           |  lm-store   --create -i <docs.parquet> -s <store-dir> [--buckets 64] | --score -i <batch.parquet> -s <store-dir> -o <out.parquet> | --oov -i <batch.parquet> -s <store-dir> -o <out.parquet> [--lang lang]
           |  corpus-diff --prev <a.parquet> --now <b.parquet> -o <out.parquet> [--id doc_id] [--text text] [--source source]
           |  vocab-size -i <docs.parquet> -o <out.parquet> [--group lang] [--p 12] [--text text]
           |  cms-store  --create -i <ref.parquet> -s <store-dir> [--d 4] [--w 1024] [--text text] | --surge -i <batch.parquet> -s <store-dir> -o <out.parquet> [-k 20] | --stream -i <landing-dir> -s <store-dir> -o <ledger-dir> --checkpoint <dir> [-k 20]
           |  nb-store   --create -i <docs.parquet> -s <store-dir> --seed <sql-bool-expr> [--buckets 64] | --score -i <batch.parquet> -s <store-dir> -o <out.parquet>
           |  cluster-sample -i <emb.parquet> -o <out.parquet> [-k 8] [--nlist 24] [--dim 64] [--id vec_id] [--vec embedding] | --stream -i <landing-dir> --index <ivf-index> -o <store-dir> --checkpoint <dir> [-k 8]
           |  drift-stream -i <landing-dir> -s <lm-store> -o <ledger-dir> --checkpoint <dir> [--group source]
           |  eval-stream -i <labeled-landing-dir> -s <nb-store> -o <ledger-dir> --checkpoint <dir> [--label y]
           |  data-card  -i <docs.parquet> -o <out-dir> [--budget N --epochs 2] [--langid-store <dir>] [--hll-store <dir>] [--tok-store <dir>] [--psi-store <dir> [--psi-col n_chars]] [--cms-store <dir>]   (writes card.json; stores add the drift section)
           |  evaluate   --mode retrieval -i <results.parquet> -t <truth.parquet> -o <out-dir> [-k 10] | --mode classifier -i <scored.parquet> -o <out.parquet> [--score log_odds --pred predicted --label y] [--group source] | --mode calibration -i <scored.parquet> -o <out.parquet> [--score log_odds --label y --bins 10 --id doc_id]
           |  hll-store  --create -i <ref.parquet> -s <store-dir> [--p 12] [--lang lang] [--text text] | --growth -i <batch.parquet> -s <store-dir> -o <out.parquet> | --ingest -i <batch.parquet> -s <store-dir> | --stream -i <landing-dir> -s <store-dir> -o <ledger-dir> --checkpoint <dir>
           |  psi-store  --create -i <ref.parquet> -s <store-dir> [--col value] [--qs 0.2,0.4,0.6,0.8] | -i <batch.parquet> -s <store-dir> -o <out.parquet> [--col value] | --stream -i <landing-dir> -s <store-dir> -o <ledger-dir> --checkpoint <dir> [--col value]
           |  mixture-plan -i <docs.parquet> -o <out.parquet> --budget <tokens> [--epochs 2] [--alpha 0.5] [--group source]
           |  export-shards -i <docs.parquet> -o <out-dir> [--shards 16] [--id doc_id] [--text text]   (writes shards/ + manifest.json)
           |  bpe-train  -i <docs.parquet> -o <merges.tsv> [--merges 32] [--text text]
           |  tokenize   -i <docs.parquet> -o <out.parquet> --merges <merges.tsv> [--id doc_id] [--text text]
           |  vocab      -i <docs.parquet> -o <out.tsv> [-k 1000] [--text text]
           |  split      -i <docs.parquet> -o <out.parquet> [--train 80] [--valid 10] [--id doc_id]
           |  budget     -i <docs.parquet> -o <out.parquet> -B <tokens-per-key> [--key source] [--id doc_id] [--text text]
           |  sample     -i <docs.parquet | landing-dir> -o <out.parquet | store-dir> [-k 12] [--group source] [--weight 'ln(2 + n_chars)'] [--stream --checkpoint <dir>] [--id doc_id]
           |  pack       -i <docs.parquet | landing-dir> -o <out> [--budget 512] [--window 50] [--stride 40] [--stream [--checkpoint <dir>]] [--id doc_id] [--text text]
           |  pack       --compact -o <streamed-pack-store> [--budget N]   (restore global order between maintenance windows; --budget only for stores predating the _budget pin)
           |  decontaminate -i <docs.parquet> -b <bench.parquet> -o <out.parquet> [-n 5] [--bloom] [--trim] [--id doc_id] [--text text]
           |  fp-store   --create -i <docs.parquet> -s <store-dir> [--buckets 64] | --ingest -i <batch.parquet> -s <store-dir> -o <accepted.parquet>   [--id doc_id] [--text text]
           |  semantic-dedup -i <embeddings.parquet> -o <out.parquet> [--nlist 24] [--threshold 0.4] [--dim 64] [--id vec_id] [--vec embedding]
           |  dup-windows -i <docs.parquet> -o <out.parquet> [--w 8] [--id doc_id] [--text text]
           |  dedup-trim -i <docs.parquet> -o <out.parquet> [--w 8] [--id doc_id] [--text text]
           |  quality    -i <docs.parquet> -o <out.parquet> [--mode heuristic|unigram-lm|bigram-lm|importance|novelty|buckets] [--target-where '<pred>'] [--buckets 64] [--n-buckets 3] [-n 3] [--id doc_id] [--text text]
           |  retrieve   -i <corpus.parquet> -o <out.parquet> (-q <queries.parquet> | --queries-where '<pred>') [-s <posting-store>] [--mode bm25|tfidf] [-k 10] [--max-term-df N] [--id doc_id] [--text text]   (--max-term-df: drop query terms with corpus df > N from scoring — the declared probe-cost cap; tf-idf keeps full-vocabulary norms and caps the dot probe only)
           |  posting-store --create -i <corpus.parquet> -s <store-dir> [--buckets 64] | --ingest -i <new-docs.parquet> -s <store-dir> --tag <batch-tag> | --freeze-norms -s <store-dir>   [--id doc_id] [--text text]   (--freeze-norms: persist the tf-idf document norms of the committed ledger — required by retrieve --store --mode tfidf, refit after each ingest)
           |  corpus-stats -i <docs.parquet> -o <out.parquet> [--mode hitters|pmi|drift] [--min-count 1000] [--window 3] [--min-pair 5] [-k 20] [--group source] [--text text]
           |  link       -i <batch.parquet> -r <reference.parquet> -o <out.parquet> [-s <band-store>] [-n 2] [--threshold 0.8] [--max-bucket 10000] [--id doc_id] [--text text]   (doc_a = reference, doc_b = batch)
           |  band-store --create -i <reference.parquet> -s <store-dir> [-n 2] [--buckets 64] | --ingest -i <new-ref.parquet> -s <store-dir>   [--id doc_id] [--text text]
           |  image-store --create -i <ppm-glob> -s <store-dir> [--bands 4] [--buckets 64] | --ingest -i <ppm-glob> -s <store-dir> -o <pairs.parquet> [--max-hamming 6] | --stream -i <landing-dir> -s <store-dir> -o <pairs-dir> --checkpoint <dir> [--max-hamming 6]
           |  audio-store --create -i <wav-glob> -s <store-dir> [--bands 4] [--buckets 64] | --ingest -i <wav-glob> -s <store-dir> -o <pairs.parquet> [--max-hamming 4] | --stream -i <landing-dir> -s <store-dir> -o <pairs-dir> --checkpoint <dir> [--max-hamming 4]
           |  classify   -i <embeddings.parquet> -o <out.parquet> --queries-where '<pred>' [-k 10] [--label label] [--id vec_id] [--vec embedding]
           |  negatives  -i <embeddings.parquet> -o <out.parquet> --anchors-where '<pred>' [-k 5] [--label label] [--id vec_id] [--vec embedding]
           |  ann        -i <embeddings.parquet> -o <out.parquet> [--mode brute|lsh|ivf|ivf-index|lsh-index|pq|pq-index|ivfpq-index] [--index <path>] [-k 10] [--dim 64] [--queries-where '<pred>'] [--mmr-lambda 0.5]
           |  ann-index  -i <embeddings.parquet> -o <index-path> [--family ivf|lsh|pq|ivfpq] [--nlist 24] [--bits 6] [--tables 4] [--dim 64] [--residual] [--residual-auto]
           |  frames     -i <media-glob> -o <out.parquet> [--kind avi|wav] [--every 1] [--frames 4] [--bytes 1024]
           |  tok-store  --create -i <docs.parquet> -s <store-dir> [--merges 32] | --encode -i <batch.parquet> -s <store-dir> -o <out.parquet> | --drift -i <batch.parquet> -s <store-dir> -o <out.parquet>
           |  lang-id    -i <docs.parquet> -o <out.parquet> [--confusion | --profiles-from <labeled.parquet>] [--top-m 64] [--id doc_id] [--lang lang]
           |  langid-store --create -i <labeled.parquet> -s <store-dir> [--top-m 64] | --mix-drift -i <batch.parquet> -s <store-dir> -o <out.parquet> | -i <batch.parquet> -s <store-dir> -o <out.parquet>   (frozen profiles; classify O(batch))
           |  quantiles  -i <data.parquet> -o <out.parquet> [--col value] [--q 0.25,0.5,0.75,0.95] [--sketch-k 256]
           |  reindex    -s <ivf-index> [--max-occ-cv 1.0] [--max-sqerr <f>] [--iters 2]   (rebuilds only when breached; logs reindex.json)
           |  retune     -s <band-store> (-i <docs.parquet> [--bucket-cap 1000] [--id doc_id] [--text text] | --sig [--new-bands 2]) [--max-cand-per-doc 100]   (re-bands only when breached; logs retune.json)
           |got: ${other.mkString(" ")}""".stripMargin)
      2
  }

  def main(args: Array[String]): Unit = sys.exit(run(args))
}

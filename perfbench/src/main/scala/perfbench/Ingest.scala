package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.cdc.CdcOps
import graft.store.SnapshotStore
import graft.streaming.CdcStream

/** `cdc_ingest`: the paper's pipeline driven from outside. OGG change
  * lines derived from the committed events table fold through
  * `CdcStream` into a `SnapshotStore` keyed on USER_ID.
  *
  *  (a) catch-up: a landed backlog is drained with `Trigger.AvailableNow`
  *      and a bounded `maxFilesPerTrigger` (`work_s`);
  *  (b) live: an open-loop writer lands files at a fixed rate, below the
  *      catch-up rate, while the stream runs on the deploy-default 1 s
  *      trigger; a file's lag runs from its due time to the end of the
  *      micro-batch that committed it (`lag_*`);
  *  (c) reads: one closed-loop client issues `readRange` over seeded
  *      narrow key ranges (`op_*`).
  * After the timed phases the store is checked against the fold law:
  * it must equal `CdcOps.softDeleteSnapshot` over every generated line.
  */
object Ingest {
  val BacklogFileLines = 2000
  val CatchUpFilesPerTrigger = 4
  val LiveFileLines = 100
  /** The offered live rate, 2k rows/s, sits below the catch-up rate. */
  val LiveFilesPerSecond = 20
  val LiveSeconds = 5
  val ReadShare = 0.5
  val LookupWidth = 5
  /** Ten replicas make a backlog of 45 files, drained in 12 batches, so
    * the catch-up wall spans more than one slow spell of a shared host. */
  val Replicas = 10
  val KeyStride = 100000000L
  /** Lookups right after the stream stops are slower than later ones;
    * the first hundred are warm-up, outside the timer. */
  val WarmupLookups = 100

  final case class Inputs(backlog: Seq[Path], live: Seq[Path], lineBytes: Long, keys: (Long, Long))

  /** The change lines: `ChangeModel.changeLines` over the committed
    * events table, so key spread, op mix (signup = I, error = D) and
    * event times are the data's own. The table is replicated
    * `Replicas` times with event-id offsets; USER_ID is kept, so each
    * key's history is ten times denser. Each replica stays in event-id
    * order, and one writer merges them in an
    * order the seed sets: a key's lines from different replicas arrive
    * out of `current_ts` order, by as much as the merge lets one replica
    * run ahead of another. The last `LiveSeconds` worth of lines at the
    * live rate are the live files; the rest is the backlog. */
  def generate(a: Args): Unit = {
    val dir = Paths.get(a.inputs)
    val spark = graft.GraftSession.local(a.cores, "perfbench-gen")
    val events = graft.sources.Tables(spark, s"${a.data}/sf0.01").events
    val replicas = (0 until Replicas).map { r =>
      graft.cdc.ChangeModel.changeLines(events.withColumn("event_id", col("event_id") + lit(r * KeyStride)))
        .orderBy("id").select("line").collect().map(_.getString(0))
    }
    val users = events.agg(min("user_id"), max("user_id")).head()
    spark.stop()
    val total = replicas.map(_.length).sum
    val merged = new Array[String](total)
    val pos = Array.fill(replicas.size)(0)
    val rng = new java.util.SplittableRandom(a.seed)
    // Every interleaving of the replicas is equally likely: the next line
    // comes from a replica with probability proportional to what it has left.
    (0 until total).foreach { i =>
      var k = rng.nextInt(total - i)
      var r = 0
      while (k >= replicas(r).length - pos(r)) { k -= replicas(r).length - pos(r); r += 1 }
      merged(i) = replicas(r)(pos(r))
      pos(r) += 1
    }
    val liveLines = LiveFilesPerSecond * LiveSeconds * LiveFileLines
    val (backlog, live) = merged.splitAt(total - liveLines)
    require(backlog.length % BacklogFileLines == 0, s"${backlog.length} backlog lines")
    val tmp = Paths.get(dir.toString + ".tmp-" + ProcessHandle.current().pid())
    Files.createDirectories(tmp.resolve("backlog"))
    Files.createDirectories(tmp.resolve("live"))
    def write(p: Path, lines: Array[String]): Unit =
      Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    backlog.grouped(BacklogFileLines).zipWithIndex.foreach { case (ls, i) =>
      write(tmp.resolve(f"backlog/backlog-$i%05d.json"), ls)
    }
    live.grouped(LiveFileLines).zipWithIndex.foreach { case (ls, i) =>
      write(tmp.resolve(f"live/live-$i%05d.json"), ls)
    }
    Files.write(tmp.resolve("KEYS"), s"${users.getLong(0)} ${users.getLong(1)}\n".getBytes("UTF-8"))
    Files.createDirectories(dir.getParent)
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
  }

  private def readInputs(dir: Path): Inputs = {
    if (!Files.exists(dir)) throw new IllegalStateException(s"no inputs at $dir; run with --prepare first")
    def list(sub: String): Seq[Path] = {
      val s = Files.list(dir.resolve(sub))
      try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
    }
    val backlog = list("backlog")
    val live = list("live")
    val Array(lo, hi) = new String(Files.readAllBytes(dir.resolve("KEYS")), "UTF-8").trim.split(" ").map(_.toLong)
    Inputs(backlog, live, (backlog ++ live).map(Files.size).sum, (lo, hi))
  }

  /** Land a file by atomic rename; the file source skips dot-files. */
  private def land(src: Path, linesDir: Path): Unit = {
    val tmp = linesDir.resolve("." + src.getFileName.toString + ".tmp")
    Files.copy(src, tmp)
    Files.move(tmp, linesDir.resolve(src.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
  }

  private def endMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.getOrDefault("triggerExecution", 0L)

  /** file name -> batch id, from the file source's checkpoint log. */
  private def fileBatches(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources/0")
    val s = Files.list(dir)
    val logs = try s.iterator().asScala.toSeq.filter(_.getFileName.toString.matches("""\d+(\.compact)?"""))
      finally s.close()
    val entry = """"path":"([^"]*)".*"batchId":(\d+)""".r
    logs.flatMap(p => Files.readAllLines(p).asScala).flatMap { l =>
      entry.findFirstMatchIn(l).map(m => Paths.get(m.group(1)).getFileName.toString -> m.group(2).toLong)
    }.toMap
  }

  def run(a: Args): (Result, SparkSession) = {
    val result = new Result
    val layers = new Layers
    val spans = new Spans
    val inputs = readInputs(Paths.get(a.inputs))
    val (keyLo, keyHi) = inputs.keys

    val runStart = System.currentTimeMillis()
    // The warm-up drains two backlog files through a scratch stream into a
    // scratch store and reads it back, so the first timed batches do not
    // pay for JIT compilation of the stream and merge paths.
    val spark = Setup.session(a, result, layers, s => {
      val dir = Paths.get(a.run, "warmup")
      val lines = dir.resolve("lines")
      Files.createDirectories(lines)
      inputs.backlog.take(2).foreach(f => Files.copy(f, lines.resolve(f.getFileName.toString)))
      val storeDir = dir.resolve("store").toString
      CdcStream.start(s, lines.toString, storeDir, dir.resolve("ckpt").toString, 1, Trigger.AvailableNow())
        .awaitTermination()
      new SnapshotStore(s, storeDir, "user_id").readRange(keyLo, keyLo + LookupWidth - 1).collect()
    })
    spans.add(-1, "session.setup", runStart, System.currentTimeMillis())
    val sc = spark.sparkContext

    val linesDir = Paths.get(a.run, "lines")
    val storeDir = Paths.get(a.run, "store", "cdc").toString
    val ckpt = Paths.get(a.run, "ckpt", "cdc")
    Files.createDirectories(linesDir)

    val trace = if (a.trace) Some(new EngineTrace(spark)) else None
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val progressListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized(progress += e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    trace.foreach { t => t.attach(); spark.streams.addListener(progressListener) }

    // Traced runs decode through a span: parse, persist and count, so
    // parse time separates from the store merge that follows.
    val parseSpans = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    // What each merge wrote: version v's data files that version v-1 did
    // not have. The store keeps only its last two versions, so version v
    // is diffed when the next batch starts, while both are there. That
    // bookkeeping is timed and taken out of store.merge_s and trace.work_s.
    val rewrites = mutable.ArrayBuffer.empty[(Int, Long)]
    var diffed = -1L
    var bookkeepingNs = 0L
    def recordVersion(): Unit = {
      val t0 = System.nanoTime()
      val store = new SnapshotStore(spark, storeDir, "user_id")
      store.currentVersion.filter(_ > diffed).foreach { v =>
        val before = if (v == 0) Set.empty[String] else store.manifest(v - 1).map(_.path).toSet
        val added = store.manifest(v).filterNot(f => before.contains(f.path))
        rewrites += ((added.size, added.map(f => Files.size(Paths.get(f.path))).sum))
        diffed = v
      }
      bookkeepingNs += System.nanoTime() - t0
    }
    val tracedDecode: DataFrame => DataFrame = batch => {
      recordVersion()
      val t0 = System.currentTimeMillis()
      val parsed = CdcOps.parse(batch.select("line")).persist()
      val n = parsed.count()
      parseSpans.synchronized(parseSpans += ((t0, System.currentTimeMillis(), n)))
      parsed
    }
    def startStream(maxFiles: Int, trigger: Trigger): StreamingQuery =
      if (trace.isEmpty) CdcStream.start(spark, linesDir.toString, storeDir, ckpt.toString, maxFiles, trigger)
      else {
        val reader = spark.readStream
        if (maxFiles > 0) reader.option("maxFilesPerTrigger", maxFiles.toLong)
        val lines = reader.text(linesDir.toString).withColumnRenamed("value", "line")
        CdcStream.startFromLines(lines, storeDir, ckpt.toString, trigger = trigger, decode = tracedDecode)
      }
    def batchesOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
    def checkStream(q: StreamingQuery, phase: String): Unit =
      q.exception.foreach(e => result.fail(s"$phase stream: ${e.getMessage}"))

    // (a) catch-up
    inputs.backlog.foreach(land(_, linesDir))
    val catchStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val catchUp = startStream(CatchUpFilesPerTrigger, Trigger.AvailableNow())
    try catchUp.awaitTermination() catch { case _: Throwable => () }
    val drainS = (System.nanoTime() - t0) / 1e9
    val catchUpBookkeepingS = bookkeepingNs / 1e9
    spans.add(-1, "stream.catchup", catchStart, System.currentTimeMillis())
    checkStream(catchUp, "catch-up")
    Log.phase("catch-up done")
    val catchBatches = batchesOf(catchUp)
    result.attempted += catchBatches.size
    val backlogRows = inputs.backlog.size.toLong * BacklogFileLines
    if (catchBatches.map(_.numInputRows).sum != backlogRows)
      result.fail(s"catch-up committed ${catchBatches.map(_.numInputRows).sum} of $backlogRows rows")

    // (b) live, open loop
    val cfg = graft.GraftConfig()
    val live = startStream(cfg.maxFilesPerTrigger, cfg.trigger)
    val readyBy = System.currentTimeMillis() + 30000
    while (live.isActive && (live.status.isTriggerActive || !live.status.message.startsWith("Waiting")) &&
      System.currentTimeMillis() < readyBy) Thread.sleep(10)
    val liveStart = System.currentTimeMillis()
    val due = inputs.live.indices.map(i => liveStart + i * 1000L / LiveFilesPerSecond)
    val landedAt = inputs.live.indices.map { i =>
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      land(inputs.live(i), linesDir)
      System.currentTimeMillis()
    }
    val liveRows = inputs.live.size.toLong * LiveFileLines
    // Drained when every live file is in a micro-batch that has finished.
    def drained: Boolean = {
      val finished = batchesOf(live).map(_.batchId).toSet
      val batchOf = fileBatches(ckpt)
      inputs.live.forall(f => batchOf.get(f.getFileName.toString).exists(finished.contains))
    }
    val drainBy = System.currentTimeMillis() + 60000
    while (live.isActive && !drained && System.currentTimeMillis() < drainBy) Thread.sleep(20)
    live.stop()
    val liveEnd = System.currentTimeMillis()
    spans.add(-1, "stream.live", liveStart, liveEnd)
    checkStream(live, "live")
    Log.phase("live done")
    val liveBatches = batchesOf(live)
    result.attempted += liveBatches.size
    val batchOf = fileBatches(ckpt)
    val endOf = liveBatches.map(p => p.batchId -> endMs(p)).toMap
    val startOf = liveBatches.map(p => p.batchId -> Instant.parse(p.timestamp).toEpochMilli).toMap
    val lags = inputs.live.indices.flatMap { i =>
      batchOf.get(inputs.live(i).getFileName.toString).flatMap(endOf.get).map(e => (e - due(i)) / 1e3)
    }
    if (lags.size != inputs.live.size)
      result.fail(s"live: ${inputs.live.size - lags.size} of ${inputs.live.size} files not committed")
    val inBatchBookkeepingS = bookkeepingNs / 1e9
    if (trace.isDefined) recordVersion()

    // (c) reads, closed loop
    val store = new SnapshotStore(spark, storeDir, "user_id")
    val rng = new java.util.SplittableRandom(a.seed * 31 + 7)
    val lookups = mutable.ArrayBuffer.empty[Double]
    val sampled = mutable.ArrayBuffer.empty[(Long, Long, Array[Row])]
    def nextLo(): Long = keyLo + rng.nextInt((keyHi - keyLo + 1).toInt)
    (1 to WarmupLookups).foreach { _ =>
      val lo = nextLo()
      store.readRange(lo, lo + LookupWidth - 1).collect()
    }
    val readStart = System.nanoTime()
    val readStartMs = System.currentTimeMillis()
    val readSpan = spans.add(-1, "store.reads", readStartMs, readStartMs)
    while ((System.nanoTime() - readStart) / 1e9 < ReadShare * a.seconds) {
      val lo = nextLo()
      val hi = lo + LookupWidth - 1
      val i = lookups.size
      result.attempted += 1
      trace.foreach { t =>
        sc.setJobGroup(s"lookup#$i", "lookup", interruptOnCancel = false)
        t.planGroup = s"lookup#$i"
        layers.add("store.files_per_lookup", store.plannedFiles(lo, hi).size, "count")
      }
      val l0 = System.currentTimeMillis()
      val t1 = System.nanoTime()
      try {
        val rows = store.readRange(lo, hi).collect()
        lookups += (System.nanoTime() - t1) / 1e9
        if (i % 4 == 0) sampled += ((lo, hi, rows))
      } catch {
        case e: Throwable => result.fail(s"lookup [$lo, $hi]: ${e.getMessage}")
      } finally sc.clearJobGroup()
      spans.add(readSpan, "store.lookup", l0, System.currentTimeMillis())
    }
    spans.close(readSpan, System.currentTimeMillis())
    val readWindow = (readStartMs, System.currentTimeMillis())
    trace.foreach { t => t.detach(); spark.streams.removeListener(progressListener) }
    val heapMb = Setup.heapRetainedMb()
    Log.phase("reads done")

    // Checks, outside every timer.
    val allLines = spark.read.text((inputs.backlog ++ inputs.live).map(_.toString): _*)
      .withColumnRenamed("value", "line")
    val expected = CdcOps.softDeleteSnapshot(CdcOps.parse(allLines), col("user_id")).cache()
    result.attempted += 1
    val actual = store.read().getOrElse(spark.emptyDataFrame)
    val cols = expected.columns.sorted.toSeq
    if (actual.columns.sorted.toSeq != cols)
      result.fail(s"store columns ${actual.columns.sorted.mkString(",")} != ${cols.mkString(",")}")
    else {
      val e = expected.select(cols.map(col): _*)
      val s = actual.select(cols.map(col): _*)
      val missing = e.exceptAll(s).count()
      val extra = s.exceptAll(e).count()
      if (missing + extra > 0) result.fail(s"store differs from the fold: $missing missing, $extra extra rows")
    }
    def canon(rows: Seq[Row]): Seq[String] =
      rows.map(r => cols.map(c => String.valueOf(r.get(r.fieldIndex(c)))).mkString("|")).sorted
    sampled.foreach { case (lo, hi, rows) =>
      val want = expected.filter(col("user_id").between(lo, hi)).collect().toSeq
      if (canon(rows.toSeq) != canon(want)) result.fail(s"lookup [$lo, $hi] differs from the fold")
    }
    val liveKeys = store.read().map(_.filter(col("delete_state") === "0").count()).getOrElse(0L)
    val storeBytes = Files2.sizeOf(Paths.get(storeDir))
    Log.phase("checks done")

    if (lookups.isEmpty || lags.isEmpty) throw new IllegalStateException("no lookup or no live file completed")
    result.info("backlog_rows") = backlogRows.toString
    result.info("live_rows") = liveRows.toString
    result.info("lookups") = lookups.size.toString
    result.info("ingest_rows_per_s") = f"${backlogRows / drainS}%.1f"
    result.info("catchup_batch_ms") = catchBatches.map(_.durationMs.get("triggerExecution")).mkString(" ")
    result.info("live_batch_ms") = liveBatches.map(_.durationMs.get("triggerExecution")).mkString(" ")
    if (!a.trace) {
      result.metrics("work_s") = (drainS, "s")
      result.metrics("op_p50_s") = (Stats.median(lookups.toSeq), "s")
      result.metrics("op_p90_s") = (Stats.quantile(lookups.toSeq, 0.9), "s")
      result.metrics("lag_p50_s") = (Stats.median(lags), "s")
      result.metrics("lag_p90_s") = (Stats.quantile(lags, 0.9), "s")
      result.metrics("heap_retained_mb") = (heapMb, "MB")
      result.metrics("bytes_per_row") = (storeBytes.toDouble / math.max(1L, liveKeys), "B")
    } else {
      val t = trace.get
      val reads = new GroupStats
      (0 until lookups.size).foreach(i => reads ++= t.take(s"lookup#$i"))
      layers.add("store.lookup_jobs", reads.jobs, "count")
      layers.addEngine(reads, readWindow._1, readWindow._2)
      layers.set("store.files_per_lookup", layers.get("store.files_per_lookup") / lookups.size, "count")
      layers.set("store.lookup_jobs", layers.get("store.lookup_jobs") / lookups.size, "count")
      val prog = progress.synchronized(progress.toSeq).filter(_.numInputRows > 0)
      def dur(k: String): Double = prog.map(_.durationMs.getOrDefault(k, 0L).toLong).sum / 1e3
      val parseS = parseSpans.map(s => s._2 - s._1).sum / 1e3
      layers.set("cdc.parse_s", parseS, "s")
      layers.set("cdc.parse_rows", parseSpans.map(_._3).sum.toDouble, "count")
      parseSpans.foreach(s => spans.add(-1, "cdc.parse", s._1, s._2))
      layers.set("store.merge_s", dur("addBatch") - parseS - inBatchBookkeepingS, "s")
      layers.set("store.files_rewritten", rewrites.map(_._1).sum.toDouble / math.max(1, rewrites.size), "count")
      layers.set("store.write_amp", rewrites.map(_._2).sum.toDouble / inputs.lineBytes, "ratio")
      layers.set("store.versions", store.currentVersion.map(_ + 1.0).getOrElse(0.0), "count")
      layers.set("store.files", store.currentVersion.map(v => store.manifest(v).size.toDouble).getOrElse(0.0), "count")
      layers.set("stream.batches", prog.size, "count")
      layers.set("stream.rows_per_batch", prog.map(_.numInputRows).sum.toDouble / math.max(1, prog.size), "count")
      layers.set("stream.latest_offset_s", dur("latestOffset"), "s")
      layers.set("stream.get_batch_s", dur("getBatch"), "s")
      layers.set("stream.query_planning_s", dur("queryPlanning"), "s")
      layers.set("stream.add_batch_s", dur("addBatch"), "s")
      layers.set("stream.wal_commit_s", dur("walCommit"), "s")
      layers.set("stream.commit_offsets_s", dur("commitOffsets"), "s")
      val waits = inputs.live.indices.flatMap { i =>
        batchOf.get(inputs.live(i).getFileName.toString).flatMap(startOf.get)
          .map(s => math.max(0L, s - landedAt(i)) / 1e3)
      }
      layers.set("stream.trigger_wait_s", if (waits.isEmpty) 0.0 else waits.sum / waits.size, "s")
      val perBatch = inputs.live.flatMap(f => batchOf.get(f.getFileName.toString)).groupBy(identity)
      layers.set("stream.backlog_files_max", if (perBatch.isEmpty) 0.0 else perBatch.values.map(_.size).max, "count")
      // Engine work of the stream batches carries Spark's own job groups.
      layers.addEngine(t.takeAll(), catchStart, liveEnd)
      layers.set("exec.core_util",
        layers.get("exec.task_s") / ((liveEnd - catchStart + readWindow._2 - readWindow._1) / 1e3 * a.cores), "ratio")
      layers.set("trace.work_s", drainS - catchUpBookkeepingS, "s")
      layers.set("gen.late_max_s", inputs.live.indices.map(i => (landedAt(i) - due(i)) / 1e3).max, "s")
      result.metrics ++= Layers.complete(layers)
    }
    if (a.spansOut.nonEmpty) Files.write(Paths.get(a.spansOut), spans.toJson.getBytes("UTF-8"))
    (result, spark)
  }
}

package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The batch workload, `catalog`.
  *
  * It runs a fixed list of `SparkEntry.queries` entries under the cold
  * discipline of graft.Bench: before each query the SQL cache, persisted
  * RDDs and landed derived tables are dropped, outside the timer; the
  * timer covers the builder call plus a `noop`-sink write of the frame.
  * Every output is checked against the committed reference, in every
  * pass. The run makes a fixed number of passes, whatever the run's
  * seconds, so a faster build is not scored on more samples.
  */
object Batch {
  /** The pair-generating queries among catalog's, by the layer whose
    * kernel makes their pairs. */
  val PairQueries: Seq[(String, String)] =
    Seq("dedup" -> "q_dedup_edit", "dedup" -> "q_mm_phash", "ann" -> "q_ann_lsh")

  /** catalog's queries cost little next to the JIT work of a cold JVM:
    * the first pass takes about twice the wall of the next ones. So the
    * first pass is the run's warm-up and counts in `setup_s`; the figures
    * are medians over the `Passes - 1` warm passes that follow, which
    * keeps short slow spells of a shared host out of them. */
  val Passes = 5

  /** Reference outputs: query -> (row count, checksum). A checksum of
    * None marks an output that is not bitwise deterministic; its row
    * count is still checked. */
  final case class Ref(rows: Option[Long], checksum: Option[String])

  def readReference(path: String): Seq[(String, Ref)] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l =>
        val Array(q, rows, sum) = l.split("\t")
        q -> Ref(if (rows == "-") None else Some(rows.toLong), if (sum == "-") None else Some(sum))
      }

  private def writeReference(path: String, header: String, rows: Seq[(String, Ref)]): Unit = {
    val body = rows.map { case (q, r) =>
      s"$q\t${r.rows.map(_.toString).getOrElse("-")}\t${r.checksum.getOrElse("-")}"
    }
    Files.write(Paths.get(path), (header +: body).mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** A 64-bit hash of a row's JSON form. Summed over the output it is an
    * order-independent content checksum. */
  private val rowHash = xxhash64(to_json(struct(col("*")))).cast("decimal(38,0)")

  /** The module of graft.operators that defines a query. */
  private lazy val moduleOf: Map[String, String] = {
    import graft.operators._
    val mods = Seq(
      "cdc" -> CdcQueries.queries, "pipeline" -> PipelineQueries.queries,
      "extended" -> Extended.queries, "curation" -> CurationQueries.queries,
      "corpus" -> CorpusQueries.queries,
      "analytics" -> AnalyticsQueries.queries, "timeseries" -> TimeSeriesQueries.queries,
      "diagnostics" -> DiagnosticsQueries.queries, "interchange" -> InterchangeQueries.queries)
    graft.SparkEntry.queries.keys.map { q =>
      q -> mods.find(_._2.contains(q)).map(_._1).getOrElse("relational")
    }.toMap
  }

  /** The operator modules catalog draws from: every module of
    * SparkEntry.queries but StreamQueries, whose q_stream_* entries are
    * excluded as in graft.Bench. */
  val Modules: Seq[String] = Seq("relational", "cdc", "pipeline", "extended", "curation",
    "corpus", "analytics", "timeseries", "diagnostics", "interchange")

  def catalog(a: Args): (Result, SparkSession) =
    runQueries(a, s"${a.data}/sf0.01", Passes)

  private def runQueries(a: Args, dir: String, passes: Int): (Result, SparkSession) = {
    val result = new Result
    val layers = new Layers
    val spans = new Spans
    val reference = readReference(a.reference)
    val names = reference.map(_._1)
    val all = graft.SparkEntry.queries
    names.filterNot(all.contains).foreach(q => result.fail(s"$q: no such query"))
    val run = names.filter(all.contains)

    val runStart = System.currentTimeMillis()
    val spark = Setup.session(a, result, layers, { s =>
      val t = graft.sources.Tables(s, dir)
      Seq(t.customer, t.documents, t.embeddings).foreach(_.agg(count(lit(1))).collect())
    })
    spans.add(-1, "session.setup", runStart, System.currentTimeMillis())
    val sc = spark.sparkContext

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      graft.sources.DerivedTable.purgeLanded(spark)
    }

    // Passes of cold queries. Every output is checked against the reference: an
    // Observation on the measured write counts and hashes the rows as
    // they reach the sink.
    val trace = if (a.trace) Some(new EngineTrace(spark)) else None
    trace.foreach(_.attach())
    val wall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    // Per query, over the warm passes: when its result was complete,
    // counted from the start of the pass, clean-ups included.
    val done = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var landed = 0L
    var outRows = 0L
    (0 until passes).foreach { pass =>
      val passT0 = System.nanoTime()
      val passStart = System.currentTimeMillis()
      val passSpan = spans.add(-1, "pass", passStart, passStart)
      val fresh = mutable.ArrayBuffer.empty[(String, Ref)]
      run.foreach { q =>
        cleanup()
        result.attempted += 1
        val tag = s"$q#$pass"
        val obs = Observation(s"check-$pass")
        val lo = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var t1 = t0
        val ok = try {
          sc.setJobGroup(s"$tag/build", q, interruptOnCancel = false)
          trace.foreach(_.planGroup = s"$tag/build")
          val df = all(q)(spark, dir)
          t1 = System.nanoTime()
          sc.setJobGroup(s"$tag/exec", q, interruptOnCancel = false)
          trace.foreach(_.planGroup = s"$tag/exec")
          df.observe(obs, count(lit(1)).as("rows"), sum(rowHash).as("sum"))
            .write.format("noop").mode("overwrite").save()
          true
        } catch {
          case e: Throwable => result.fail(s"$q: ${e.getClass.getName}: ${e.getMessage}"); false
        } finally sc.clearJobGroup()
        val t2 = System.nanoTime()
        val hi = System.currentTimeMillis()
        if (pass > 0) done.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (t2 - passT0) / 1e9
        if (ok) {
          val w = (t2 - t0) / 1e9
          if (pass > 0) wall.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += w
          val got = obs.get
          val rows = got("rows").asInstanceOf[Long]
          val sum = Option(got("sum")).map(_.asInstanceOf[java.math.BigDecimal].toPlainString).getOrElse("0")
          val ref = reference.find(_._1 == q).get._2
          if (a.writeReference) fresh += q -> Ref(Some(rows), Some(sum))
          else if (!ref.rows.forall(_ == rows) || !ref.checksum.forall(_ == sum))
            result.fail(s"$q: output rows=$rows checksum=$sum, reference ${ref.rows} ${ref.checksum}")
          if (pass == 0) {
            landed += Files2.landedBytes()
            outRows += rows
          }
        }
        trace.foreach { tr =>
          tr.drain()
          val build = tr.take(s"$tag/build")
          val exec = tr.take(s"$tag/exec")
          val qs = spans.add(passSpan, s"query:$q", lo, hi)
          spans.add(qs, "operators.build", lo, lo + (t1 - t0) / 1000000)
          spans.add(qs, "operators.exec", lo + (t1 - t0) / 1000000, hi)
          // The layers, like the end-to-end figures, cover the warm passes.
          if (pass > 0) {
            layers.add("operators.build_s", (t1 - t0) / 1e9, "s")
            layers.add("operators.exec_s", (t2 - t1) / 1e9, "s")
            layers.add("operators.eager_jobs", build.jobs, "count")
            layers.add("operators.jobs", build.jobs + exec.jobs, "count")
            layers.add("exec.wall_s", (t2 - t0) / 1e9, "s")
            layers.addEngine(build, lo, hi)
            layers.addEngine(exec, lo, hi)
            layers.add("sources.landed_bytes", Files2.landedBytes().toDouble, "B")
          }
        }
      }
      spans.close(passSpan, System.currentTimeMillis())
      if (a.writeReference) mergeReference(a.reference, readReference(a.reference), fresh.toSeq)
      // The warm-up pass belongs to the set-up: it ends where timing starts.
      if (pass == 0) {
        val w = (System.nanoTime() - passT0) / 1e9
        layers.add("session.warmup_s", w, "s")
        result.metrics.get("setup_s").foreach { case (v, u) => result.metrics("setup_s") = (v + w, u) }
      }
      Log.phase(s"pass ${pass + 1} done")
    }
    trace.foreach(_.detach())
    result.info("passes") = passes.toString
    result.info("queries") = run.size.toString

    val heapMb = Setup.heapRetainedMb()
    // A query's figure is its median over the warm passes.
    val perQuery = run.filter(wall.contains).map(q => q -> Stats.median(wall(q).toSeq))
    if (perQuery.isEmpty) throw new IllegalStateException("no query completed")
    val walls = perQuery.map(_._2)
    // Every query of a pass is due when the pass starts; a query's lag
    // is the time until its result is complete, its median over the warm
    // passes.
    val lags = run.filter(done.contains).map(q => Stats.median(done(q).toSeq))
    if (!a.trace) {
      result.metrics("work_s") = (walls.sum, "s")
      result.metrics("op_p50_s") = (Stats.median(walls), "s")
      result.metrics("op_p90_s") = (Stats.quantile(walls, 0.9), "s")
      result.metrics("lag_p50_s") = (Stats.median(lags), "s")
      result.metrics("lag_p90_s") = (Stats.quantile(lags, 0.9), "s")
      result.metrics("heap_retained_mb") = (heapMb, "MB")
      result.metrics("bytes_per_row") = (landed.toDouble / math.max(1L, outRows), "B")
    } else {
      val warm = passes - 1
      def perPass(name: String): Unit =
        layers.toMap.get(name).foreach { case (v, u) => layers.set(name, v / warm, u) }
      Seq("operators.build_s", "operators.exec_s", "operators.eager_jobs", "operators.jobs",
        "plan.analysis_s", "plan.optimization_s", "plan.planning_s", "sched.stages",
        "sched.tasks", "sched.gap_s", "sched.serial_stage_s", "exec.task_s", "exec.cpu_s",
        "exec.gc_s", "shuffle.write_bytes", "shuffle.records_written", "shuffle.fetch_wait_s",
        "spill.bytes", "sources.input_bytes").foreach(perPass)
      val wallS = layers.get("exec.wall_s") / warm
      layers.set("exec.core_util", layers.get("exec.task_s") / math.max(1e-9, wallS * a.cores), "ratio")
      layers.set("sources.landed_bytes", layers.get("sources.landed_bytes") / warm / run.size, "B")
      Modules.foreach { m =>
        layers.set(s"operators.$m.wall_s",
          perQuery.filter(p => moduleOf(p._1) == m).map(_._2).sum, "s")
      }
      PairQueries.foreach { case (layer, q) =>
        layers.set(s"$layer.$q.wall_s", perQuery.find(_._1 == q).map(_._2).getOrElse(0.0), "s")
      }
      // The traced run's own work_s; against the untraced runs' work_s
      // it gives the tracing overhead.
      layers.set("trace.work_s", walls.sum, "s")
      result.metrics ++= Layers.complete(layers)
    }
    if (a.spansOut.nonEmpty) Files.write(Paths.get(a.spansOut), spans.toJson.getBytes("UTF-8"))
    Log.phase("metrics done")
    (result, spark)
  }

  /** Fold a fresh reference pass into the file: a row count or checksum
    * that differs from an earlier pass is marked unchecked ("-"). */
  private def mergeReference(path: String, old: Seq[(String, Ref)], fresh: Seq[(String, Ref)]): Unit = {
    val merged = old.map { case (q, o) =>
      fresh.find(_._1 == q) match {
        case None => q -> o
        case Some((_, n)) if o.rows.contains(-1L) => q -> n
        case Some((_, n)) => q -> Ref(
          if (o.rows == n.rows) o.rows else None,
          if (o.checksum == n.checksum) o.checksum else None)
      }
    }
    val header = Files.readAllLines(Paths.get(path)).asScala.takeWhile(_.startsWith("#")).mkString("\n")
    writeReference(path, header, merged)
  }
}

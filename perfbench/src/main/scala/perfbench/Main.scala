package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM. `run.py` fills in every path; the
  * JVM reads and writes nothing outside them.
  */
final case class Args(
    workload: String = "",
    seed: Long = 1L,
    seconds: Int = 24,
    trace: Boolean = false,
    cores: Int = 4,
    data: String = "",
    inputs: String = "",
    run: String = "",
    out: String = "",
    spansOut: String = "",
    reference: String = "",
    writeReference: Boolean = false,
    prepare: Boolean = false)

/** What one run measured. `metrics` holds the end-to-end metrics of an
  * untraced run, or the per-layer metrics of a traced one. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]

  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED $what")
  }

  def toJson: String = {
    def num(x: Double) = if (x.isNaN || x.isInfinite) "null" else x.toString
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    val is = info.map { case (k, v) => s""""$k":"${v.replace("\\", "\\\\").replace("\"", "\\\"")}"""" }
    s"""{"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}},"info":{${is.mkString(",")}}}"""
  }
}

object Log {
  private val t0 = System.nanoTime()
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $what")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Files2 {
  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Bytes under this JVM's tmpdir, where graft lands derived tables. */
  def landedBytes(): Long = sizeOf(Paths.get(sys.props("java.io.tmpdir")))
}

/** Session set-up: start, extension registration and a warm-up, up to
  * the first timed operation. The run's JVM is fresh (inputs are made by
  * a JVM of their own), so this is the cold cost the program pays once.
  */
object Setup {
  def session(a: Args, result: Result, layers: Layers, warm: SparkSession => Unit): SparkSession = {
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(a.cores, "perfbench")
    graft.functions.registerAll(spark)
    val t1 = System.nanoTime()
    warm(spark)
    val t2 = System.nanoTime()
    if (!a.trace) result.metrics("setup_s") = ((t2 - t0) / 1e9, "s")
    layers.set("session.start_s", (t1 - t0) / 1e9, "s")
    layers.set("session.warmup_s", (t2 - t1) / 1e9, "s")
    Log.phase(f"setup done in ${(t2 - t0) / 1e9}%.2fs")
    // Same log hygiene as graft.Bench: these two loggers emit hundreds of
    // benign warnings per pass.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Heap in use after a full collection, in MB. Spark's ContextCleaner
    * frees broadcast and shuffle state only once a collection has found
    * it unreachable, so collect until that has settled. */
  def heapRetainedMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }
}

object Main {
  private def parse(argv: Array[String]): Args = {
    @annotation.tailrec
    def go(rest: List[String], a: Args): Args = rest match {
      case Nil => a
      case "--workload" :: v :: t => go(t, a.copy(workload = v))
      case "--seed" :: v :: t => go(t, a.copy(seed = v.toLong))
      case "--seconds" :: v :: t => go(t, a.copy(seconds = v.toInt))
      case "--trace" :: v :: t => go(t, a.copy(trace = v == "1"))
      case "--cores" :: v :: t => go(t, a.copy(cores = v.toInt))
      case "--data" :: v :: t => go(t, a.copy(data = v))
      case "--inputs" :: v :: t => go(t, a.copy(inputs = v))
      case "--run" :: v :: t => go(t, a.copy(run = v))
      case "--out" :: v :: t => go(t, a.copy(out = v))
      case "--spans-out" :: v :: t => go(t, a.copy(spansOut = v))
      case "--reference" :: v :: t => go(t, a.copy(reference = v))
      case "--write-reference" :: t => go(t, a.copy(writeReference = true))
      case "--prepare" :: t => go(t, a.copy(prepare = true))
      case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
    }
    go(argv.toList, Args())
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.prepare) {
      Log.phase(s"generating ${a.workload} inputs for seed ${a.seed}")
      a.workload match {
        case "cdc_ingest" => Ingest.generate(a)
        case w => throw new IllegalArgumentException(s"$w has no generated inputs")
      }
      Log.phase("inputs done")
      return
    }
    Log.phase(s"start ${a.workload} seed=${a.seed}")
    val (result, spark) = a.workload match {
      case "catalog" => Batch.catalog(a)
      case "cdc_ingest" => Ingest.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    result.info("spark_version") = spark.version
    result.info("master") = spark.sparkContext.master
    result.info("xmx_mb") = (Runtime.getRuntime.maxMemory >> 20).toString
    spark.stop()
    Log.phase("stopped")
    Files.write(Paths.get(a.out), result.toJson.getBytes("UTF-8"))
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one JVM, one closed-loop client, `local[nproc]`.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <artifact>
  *
  * Prints one JSON line last: end-to-end metrics untraced, per-layer
  * metrics traced. The run's details (samples, spans, load, failures)
  * go to the artifact file.
  */
object Main {

  /** What a workload hands back: counted operations and named values. */
  final class Outcome {
    var attempted = 0L
    var failed = 0L
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = mutable.LinkedHashMap.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[String]

    /** Runs one counted operation; a throw is a failure, not an abort. */
    def attempt[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Exception =>
          fail(what, e.toString)
          None
      }
    }
    def check(what: String, ok: Boolean, detail: => String): Unit = {
      attempted += 1
      if (!ok) fail(what, detail)
    }
    def fail(what: String, detail: String): Unit = {
      failed += 1
      failures += s"$what: $detail"
      System.err.println(s"[perfbench] FAILED $what: $detail")
    }
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  }

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private val t0 = System.nanoTime()

  /** Progress on standard error: phase and seconds since start. */
  def progress(what: String): Unit =
    System.err.println(f"[perfbench] $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.size).toInt - 1).min(s.size - 1))
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Storage-pool bytes held by cached and checkpointed blocks, in MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  private def loadAverage(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, artifact) = args
    val seed = seedS.toLong
    val window = secondsS.toDouble
    val nproc = sys.env.getOrElse("SPARK_GRAFT_CPUS", "1").toInt
    val load0 = loadAverage()
    val spark = graft.GraftSession.builder(s"local[$nproc]")
      .config("spark.sql.warehouse.dir", Paths.get(workDir, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traceS == "1") Tracer.on(spark.sparkContext) else Tracer.off
    val out = new Outcome
    val work = Paths.get(workDir)
    workload match {
      case "elt_daily" => new EltDaily(spark, work, seed, window, tracer, out).run()
      case "curation_session" => new Curation(spark, work, seed, window, tracer, out).run()
      case other => sys.error(s"unknown workload $other")
    }
    val parallelism = spark.sparkContext.defaultParallelism
    spark.stop()

    val metrics = out.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> window, "trace" -> (traceS == "1"),
      "nproc" -> nproc, "default_parallelism" -> parallelism,
      "load_average_start" -> load0, "load_average_end" -> loadAverage(),
      "attempted" -> out.attempted, "failed" -> out.failed, "failures" -> out.failures,
      "notes" -> out.notes, "metrics" -> metrics,
      "spans" -> tracer.spans.map(s => mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent.map(_.id).getOrElse(-1),
        "wall_s" -> s.wallS, "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
        "run_time_ms" -> s.runTimeMs, "shuffle_bytes" -> s.shuffleBytes,
        "bytes_written" -> s.bytesWritten, "gc_ms" -> s.gcMs)))
    Files.createDirectories(Paths.get(artifact).toAbsolutePath.getParent)
    Files.write(Paths.get(artifact), json(record).getBytes("UTF-8"))
    println(json(mutable.LinkedHashMap[String, Any](
      "correct" -> (out.failed == 0), "attempted" -> math.max(out.attempted, 1L),
      "failed" -> out.failed, "metrics" -> metrics)))
  }
}

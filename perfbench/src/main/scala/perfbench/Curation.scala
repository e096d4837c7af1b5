package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** curation_session: set-up generates the fixture tables and runs
  * untimed passes: the first also builds every persisted fixture (indexes,
  * dedup state) under the run's own state directories, the others let JIT
  * and code generation settle. The timed part is a closed loop of passes
  * over the query list in the same session.
  *
  * Each query's result is consumed in full by hashing its rows, in place
  * of the noop sink, so the pass-to-pass equality check needs no second
  * execution. Floating-point cells are hashed at 9 significant digits.
  */
final class Curation(spark: SparkSession, work: Path, seed: Long, window: Double,
    tracer: Tracer, out: Main.Outcome) {
  import Curation._

  private val sf = work.resolve("sf").toString
  private val registry = graft.SparkEntry.queries

  private val wall = mutable.Map.empty[String, Vector[Double]]
  private val gc = mutable.Map.empty[String, Vector[Double]]
  private val stages = mutable.Map.empty[String, Vector[Double]]
  private val reference = mutable.Map.empty[String, (Long, Long)]
  private val setupQueryS = mutable.LinkedHashMap.empty[String, String]

  /** One pass; returns its wall time. The first set-up pass records
    * reference hashes, later passes compare against them. Only passes with
    * p > 0 are timed samples.
    */
  private def pass(p: Int): Double = {
    val (_, s) = Main.seconds(tracer.span("pass") {
      Queries.foreach { q =>
        val gc0 = Tracer.gcMs()
        val t0 = System.nanoTime()
        val h = out.attempt(s"pass $p $q")(tracer.span(q)(resultHash(registry(q)(spark, sf))))
        val qs = (System.nanoTime() - t0) / 1e9
        h.foreach { hash =>
          reference.get(q) match {
            case None => reference(q) = hash
            case Some(ref) => out.check(s"pass $p $q result", hash == ref,
              s"hash/rows $hash differ from the first pass's $ref")
          }
          if (p <= 0) setupQueryS(q) = setupQueryS.get(q).fold(f"$qs%.2f")(t => f"$t/$qs%.2f")
          if (p > 0) {
            wall(q) = wall.getOrElse(q, Vector.empty) :+ qs
            gc(q) = gc.getOrElse(q, Vector.empty) :+ (Tracer.gcMs() - gc0) / 1e3
            tracer.spans.reverseIterator.find(_.name == q).foreach(sp =>
              stages(q) = stages.getOrElse(q, Vector.empty) :+ sp.stages.toDouble)
          }
        }
      }
    })
    s
  }

  def run(): Unit = {
    val (rows, setupS) = Main.seconds {
      val r = out.attempt("setup: fixture tables")(CorpusGen.write(spark, sf, seed, Docs))
      (0 until SetupPasses).foreach(w => pass(-w))
      r
    }
    if (!tracer.enabled) out.put("setup_s", setupS, "s")
    val inputRows = rows.map(_.values.sum).getOrElse(0L)

    val gc0 = Tracer.gcMs()
    val storage0 = Main.storageMb(spark)
    val passS = mutable.ArrayBuffer.empty[Double]
    Main.progress("set-up done")
    // at least MinPasses: a pass count that changes with the machine's
    // speed would change what the median is taken over
    while (passS.sum < window || passS.size < MinPasses) {
      passS += pass(passS.size + 1)
      Main.progress(s"pass ${passS.size} done")
    }
    val gcS = (Tracer.gcMs() - gc0) / 1e3
    val storageGrowth = Main.storageMb(spark) - storage0

    val samples = Queries.flatMap(q => wall.getOrElse(q, Vector.empty))
    out.notes("setup_pass_seconds") = setupQueryS.map { case (q, t) => s"$q=$t" }.mkString(",")
    out.notes("passes") = passS.size.toString
    out.notes("pass_seconds") = passS.mkString(",")
    out.notes("tail") = s"op_tail_s is the nearest-rank p90 of ${samples.size} query times"
    Queries.foreach(q => out.notes(s"$q.seconds") = wall.getOrElse(q, Vector.empty).mkString(","))
    if (!tracer.enabled) {
      out.put("op_p50_s", Main.median(samples), "s")
      out.put("op_tail_s", Main.percentile(samples, 0.9), "s")
      out.put("pass_s", Main.median(passS.toSeq), "s")
      out.put("rows_per_s", inputRows * passS.size / passS.sum, "1/s")
      // what the session keeps on disk per input byte: the tables and the
      // persisted fixture state. Storage-pool blocks are left out: whether
      // a collection has released them by the end of a run varies.
      val input = Main.dirBytes(Paths.get(sf))
      val state = Seq("SPARK_GRAFT_DEDUP_STATE_DIR", "SPARK_GRAFT_INDEX_DIR")
        .flatMap(sys.env.get).distinct.map(d => Main.dirBytes(Paths.get(d))).sum
      out.put("stored_bytes_per_input_byte", (input + state).toDouble / input, "ratio")
      out.put("ok_ratio", (out.attempted - out.failed).toDouble / out.attempted, "ratio")
    } else {
      Queries.foreach { q =>
        val key = s"q.${q.takeWhile(_ != '_')}"
        out.put(s"$key.wall_s", Main.median(wall.getOrElse(q, Vector.empty)), "s")
        out.put(s"$key.stages", Main.median(stages.getOrElse(q, Vector.empty)), "count")
        out.put(s"$key.gc_s", Main.median(gc.getOrElse(q, Vector.empty)), "s")
      }
      out.put("session.gc_s", gcS, "s")
      out.put("session.storage_growth_mb", storageGrowth, "MB")
      out.put("trace.op_p50_s", Main.median(samples), "s")
      val timed = tracer.spans.filter(_.name == "pass").drop(SetupPasses)
      EltDaily.spanStats(out, timed, Seq("pass"), timed.size,
        spark.sparkContext.defaultParallelism)
    }
  }
}

object Curation {
  val Docs = 500
  /** Untimed passes in set-up: the fixture-building pass, then two
    * warm-up passes (the first passes after the cold one run 20-40% slower).
    */
  val SetupPasses = 3
  val MinPasses = 3

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => f"$d%.9g"
    case f: Float => f"${f.toDouble}%.9g"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-independent content hash of a result, computed in its own job. */
  def resultHash(df: DataFrame): (Long, Long) = {
    val hashes = df.rdd.mapPartitions { rows =>
      var h = 0L
      var n = 0L
      rows.foreach { r =>
        h += scala.util.hashing.MurmurHash3.stringHash(render(r)).toLong * 0x9E3779B97F4A7C15L
        n += 1
      }
      Iterator((h, n))
    }.collect()
    (hashes.map(_._1).sum, hashes.map(_._2).sum)
  }

  /** ROADMAP targets that fit a run's time budget: pinned state (d11,
    * d17, d20), the per-stage floor of iterative plans (g1, cl1) and a
    * carried item (a23).
    */
  val Queries: Seq[String] = Seq("d11_prefix_pairs", "d17_containment_pairs",
    "d20_containment_keep", "g1_pagerank", "cl1_kmeans_clusters", "a23_kmv_distinct")
}

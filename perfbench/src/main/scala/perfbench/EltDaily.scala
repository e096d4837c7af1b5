package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.app.{Main => App}
import graft.etl.{ChangeScan, Normalize, ParquetTableStore, RawLoader, StagingMerge}
import graft.marts.{IncrementalDims, IncrementalMart, Views}

/** elt_daily: set-up backfills a fresh store with one sheet per dialect
  * and re-sends the last one; the timed part is a closed loop of daily batches, each `Main.load`
  * then `Main.runElt`. Every second batch re-sends the previous export
  * unchanged, so it changes nothing; the others are fresh exports (new
  * rows, re-sent rows, edited id-less rows, rows in older months).
  *
  * Traced, each daily batch is first replayed layer by layer against the
  * store's current state, forcing every layer's output, and then run for
  * real under outer `load`/`run` spans.
  */
final class EltDaily(spark: SparkSession, work: Path, seed: Long, window: Double,
    tracer: Tracer, out: Main.Outcome) {
  import EltDaily._

  private val nproc = spark.sparkContext.defaultParallelism
  private val root = work.resolve("store")
  private val store = new ParquetTableStore(spark, root.toString)
  private val start = LocalDate.of(2024, 1, 1)
  private val gen = new SheetGen(seed, start)
  private var inputBytes = 0L
  private var files = 0

  private def writeSheet(s: SheetGen.Sheet): (String, Int, Long) = {
    files += 1
    val p = work.resolve("input").resolve(f"$files%03d-${s.dialect.name}.csv")
    val bytes = s.write(p)
    (p.toString, s.rows.size, bytes)
  }

  private def loadAndRun(csvs: Seq[String]): Unit = {
    tracer.span("load")(csvs.foreach(App.load(spark, root.toString, _, Source)))
    tracer.span("run")(App.runElt(spark, root.toString, None, test = false))
  }

  def run(): Unit = {
    // set-up: generate the backfill and load it into the empty store
    val (backfillOk, setupS) = Main.seconds {
      val sheets = gen.backfill(BackfillRows, months = 24).map(writeSheet)
      inputBytes += sheets.map(_._3).sum
      // then the last sheet again, unchanged: the first incremental run
      // compiles its plans here rather than in the timed part
      out.attempt("setup: backfill")(loadAndRun(sheets.map(_._1))).isDefined &&
        out.attempt("setup: re-send")(loadAndRun(Seq(sheets.last._1))).isDefined
    }
    if (!tracer.enabled) out.put("setup_s", setupS, "s")
    Main.progress("set-up done")
    if (!backfillOk) return

    // timed: closed loop of daily batches for the window (at least two);
    // even batches are fresh exports, odd ones re-send the previous export
    val gc0 = Tracer.gcMs()
    val storage0 = Main.storageMb(spark)
    val batchS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var last: (String, Int, Long) = null
    var elapsed = 0.0
    var k = 0
    while (elapsed < window || k < 2) {
      if (k % 2 == 0)
        last = writeSheet(gen.daily(SheetGen.dialects((k / 2) % 4), start.plusDays(k / 2L + 1),
          freshRows = DailyRows, resent = DailyRows / 10, edited = DailyRows / 20))
      val (csv, n, bytes) = last
      if (tracer.enabled) replay(csv)
      val files0 = if (tracer.enabled) listFiles(root) else Set.empty[String]
      val (ok, s) = Main.seconds(out.attempt(s"batch $k")(loadAndRun(Seq(csv))).isDefined)
      if (tracer.enabled) filesWritten += (listFiles(root) -- files0).size.toDouble
      if (ok) { batchS += s; rows += n }
      inputBytes += bytes
      elapsed += s
      k += 1
      Main.progress(s"batch $k done")
    }
    val gcS = (Tracer.gcMs() - gc0) / 1e3
    val storageGrowth = Main.storageMb(spark) - storage0

    checks()
    out.notes("batches") = batchS.size.toString
    out.notes("batch_seconds") = batchS.mkString(",")
    out.notes("tail") = s"op_tail_s is the nearest-rank p90 of ${batchS.size} batch times"
    if (!tracer.enabled) {
      out.put("op_p50_s", Main.median(batchS.toSeq), "s")
      out.put("op_tail_s", Main.percentile(batchS.toSeq, 0.9), "s")
      out.put("pass_s", Main.median(batchS.grouped(2).filter(_.size == 2).map(_.sum).toSeq), "s")
      out.put("rows_per_s", rows / batchS.sum, "1/s")
      out.put("stored_bytes_per_input_byte", Main.dirBytes(root).toDouble / inputBytes, "ratio")
      out.put("ok_ratio", (out.attempted - out.failed).toDouble / out.attempted, "ratio")
    } else layerMetrics(batchS.toSeq, gcS, storageGrowth)
  }

  // ───── correctness: incremental marts equal a full recompute ─────

  /** Equal as multisets, ignoring the refresh stamp: no row's count
    * differs between the two sides.
    */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def side(d: DataFrame, sign: Int) = {
      val cols = d.drop("last_updated").columns.sorted
      d.select(cols.map(c => col(c).cast("string").as(c)).toSeq :+ lit(sign).as("__side"): _*)
    }
    val both = side(a, 1).unionByName(side(b, -1))
    both.groupBy(both.columns.filter(_ != "__side").map(col).toSeq: _*)
      .agg(sum(col("__side")).as("__diff")).filter(col("__diff") =!= 0).isEmpty
  }

  private def checks(): Unit = {
    val staging = store.read("staging")
    val nStaging = staging.count()
    out.check("staging rows", nStaging == gen.expectedStagingRows,
      s"$nStaging rows, generator expects ${gen.expectedStagingRows}")
    val nRaw = store.read("raw").count()
    out.check("raw rows", nRaw == gen.expectedRawRows,
      s"$nRaw rows, generator expects ${gen.expectedRawRows}")
    Seq(
      "mart_financials" -> Views.financialsV(staging),
      "mart_expenses_by_category" -> Views.expensesByCategoryV(staging),
      "mart_dim_clients" -> Views.dimClientsV(staging),
      "mart_dim_categories" -> Views.dimCategoriesV(staging),
      "mart_dim_vendors" -> Views.dimVendorsV(staging)).foreach { case (t, full) =>
      out.check(s"$t equals a full Views recompute", sameRows(store.read(t), full),
        "incremental mart differs from the recompute over final staging")
    }
  }

  // ───── traced: layer-by-layer replay ─────

  /** Layer counts of each replayed daily batch, summed. */
  private val counts = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val filesWritten = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Replays one daily `load`+`run` against the store's current state
    * without changing it: each layer's public function is called as
    * `Main` calls it on a store that already holds every layer, and its
    * output is forced into memory before the next layer reads it. Writes
    * go to a scratch store.
    */
  private def replay(csv: String): Unit = {
    val scratchDir = work.resolve("replay")
    val scratch = new ParquetTableStore(spark, scratchDir.toString)
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def force(df: DataFrame): DataFrame = {
      val c = df.persist(StorageLevel.MEMORY_AND_DISK)
      c.count()
      cached += c
      c
    }
    def span[A](name: String)(body: => A): A = tracer.span(name)(body)
    try {
      val incoming = span("rawloader")(force(RawLoader.fromPayloads(sheetRows(csv), Source)))
      val appended = span("rawloader")(force(RawLoader.insertIfAbsent(store.read("raw"), incoming)))
      span("tablestore.load") {
        scratch.append("raw", appended)
        RawLoader.archiveCsv(incoming, s"$scratchDir/archive", LocalDate.now().toString)
      }
      val raw = store.read("raw").unionByName(appended)
      val staging0 = store.read("staging")
      val changes = span("changescan")(force(ChangeScan(raw, staging0, None)))
      val normalized = span("normalize")(force(Normalize(changes.select(
        col("id").as("raw_id"), col("sheet_row_number"),
        col("extracted_at").as("received_at"), lit("live").as("source_type"),
        col("payload")))))
      val updates = span("stagingmerge")(force(StagingMerge.dedupeBatch(Normalize.toStaging(normalized))))
      val audit = span("stagingmerge")(force(StagingMerge.auditDiff(staging0, updates)))
      val merged = span("stagingmerge")(force(StagingMerge.merge(staging0, updates)))
      val oldRows = staging0.join(updates.select(col("raw_id")), Seq("raw_id"), "left_semi")
      val martState = span("marts")(force(
        IncrementalMart.applyDelta(store.read("mart_financials_state"), oldRows, updates)))
      val dims = span("marts")(Seq(
        "dim_clients_state" -> force(IncrementalDims.applyClientsDelta(
          store.read("dim_clients_state"), oldRows, updates)),
        "dim_categories_state" -> force(IncrementalDims.applyNamesDelta(
          store.read("dim_categories_state"), oldRows, updates, "category")),
        "dim_vendors_state" -> force(IncrementalDims.applyNamesDelta(
          store.read("dim_vendors_state"), oldRows, updates, "vendor"))))
      val months = span("marts")(updates.select(Views.webMonth(col("date")).as("month"))
        .unionByName(oldRows.select(Views.webMonth(col("date")).as("month")))
        .distinct().collect().map(_.getString(0)).toSeq)
      val marts = span("marts")(Seq(
        "mart_financials" -> force(IncrementalMart.present(martState)
          .withColumn("last_updated", current_timestamp())),
        "mart_expenses_by_category" -> force(Views.expensesByCategoryV(merged)),
        "mart_dim_clients" -> force(IncrementalDims.presentClients(dims(0)._2)),
        "mart_dim_categories" -> force(IncrementalDims.presentNames(dims(1)._2)),
        "mart_dim_vendors" -> force(IncrementalDims.presentNames(dims(2)._2))))
      val web = span("marts")(force(Views.webTransactionsP(merged).where(col("month").isin(months: _*))))
      span("tablestore") {
        (Seq("audit" -> store.read("audit").unionByName(audit), "mart_financials_state" -> martState) ++
          dims ++ Seq("staging" -> merged) ++ marts).foreach { case (t, df) => scratch.overwrite(t, df) }
        scratch.upsertPartitionsClustered("mart_web_transactions", web, "month",
          datediff(col("date"), lit("1970-01-01").cast("date")),
          pmod(xxhash64(col("client")), lit(1L << 20)))
      }
      Seq(
        "rawloader.rows_in" -> incoming.count(),
        "rawloader.rows_appended" -> appended.count(),
        "changescan.rows_scanned" -> raw.count(),
        "changescan.rows_out" -> changes.count(),
        "normalize.rows" -> normalized.count(),
        "normalize.rows_warned" -> normalized.filter(size(col("validation_warnings")) > 0).count(),
        "stagingmerge.rows_inserted" -> (merged.count() - staging0.count()),
        "stagingmerge.audit_rows" -> audit.count(),
        "marts.web_partitions_rewritten" -> months.size.toLong,
        "marts.web_partitions_total" -> merged.select(Views.webMonth(col("date"))).distinct().count(),
        "input_bytes" -> Files.size(java.nio.file.Paths.get(csv))
      ).foreach { case (k, v) => counts(k) += v.toDouble }
    } finally {
      cached.foreach(_.unpersist(blocking = true))
      ParquetTableStore.deleteStoreDir(scratchDir.toString)
    }
  }

  /** `Main.load`'s CSV → (sheet_row_number, payload) step, verbatim. */
  private def sheetRows(csvPath: String): DataFrame = {
    val csv = spark.read.option("header", "true").csv(csvPath).na.fill("")
    val headers = RawLoader.fixHeaders(csv.columns.toSeq)
    val kept = csv.columns.toSeq.take(RawLoader.SheetWidth)
    val payload = map_from_arrays(typedLit(headers),
      array(kept.map(c => col(s"`$c`")) ++ Seq.fill(headers.length - kept.length)(lit("")): _*))
    val numbered = spark.createDataFrame(
      csv.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 2L).toInt)
      },
      csv.schema.add("sheet_row_number", org.apache.spark.sql.types.IntegerType))
    numbered.select(col("sheet_row_number"), payload.as("payload"))
  }

  private def listFiles(p: Path): Set[String] =
    if (!Files.exists(p)) Set.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet

  /** Per-layer metrics, each a mean per daily batch. The spans are in
    * order: every batch's replay spans, then its real `load` and `run`.
    */
  private def layerMetrics(batchS: Seq[Double], gcS: Double, storageGrowth: Double): Unit = {
    val batches = perBatch(tracer.spans)
    val n = math.max(batches.size, 1).toDouble
    def busy(name: String): Double = batches.flatten.filter(_.name == name).map(_.wallS).sum / n
    def count(name: String): Double = counts(name) / n
    for (layer <- Seq("rawloader", "normalize", "changescan", "stagingmerge", "marts", "tablestore"))
      out.put(s"$layer.busy_s", busy(layer), "s")
    Seq("rawloader.rows_in", "rawloader.rows_appended", "normalize.rows", "normalize.rows_warned",
      "changescan.rows_scanned", "changescan.rows_out", "stagingmerge.rows_inserted",
      "stagingmerge.audit_rows", "marts.web_partitions_rewritten", "marts.web_partitions_total")
      .foreach(c => out.put(c, count(c), "count"))
    out.put("changescan.yield", counts("changescan.rows_out") / counts("changescan.rows_scanned"), "ratio")
    // runElt against the same layers called one by one with forced outputs
    val layersBusy = Seq("changescan", "normalize", "stagingmerge", "marts", "tablestore").map(busy).sum
    out.put("run.busy_s", busy("run"), "s")
    out.put("run.layers_busy_s", layersBusy, "s")
    out.put("run.recompute_ratio", busy("run") / layersBusy, "ratio")
    val written = batches.flatten.filter(s => s.name == "load" || s.name == "run").map(_.bytesWritten).sum.toDouble
    out.put("tablestore.bytes_written_per_changed_row",
      written / math.max(counts("changescan.rows_out"), 1.0), "bytes/row")
    out.put("tablestore.files_written", filesWritten.sum / n, "count")
    out.put("run.input_bytes_per_store_byte", counts("input_bytes") / math.max(written, 1.0), "ratio")
    out.put("trace.op_p50_s", Main.median(batchS), "s")
    out.put("session.gc_s", gcS, "s")
    out.put("session.storage_growth_mb", storageGrowth, "MB")
    spanStats(out, batches.flatten, Seq("load", "run", "rawloader", "changescan", "normalize",
      "stagingmerge", "marts", "tablestore"), batches.size, nproc)
  }
}

object EltDaily {
  val Source = "google_sheets"
  val BackfillRows = 2000
  val DailyRows = 2000
  /** `load`/`run` pairs in set-up: the backfill and its re-send. */
  val SetupBatches = 2

  /** A traced run's daily batches: the top-level spans up to and
    * including each real `run`, after the set-up's pairs.
    */
  def perBatch(spans: Seq[Span]): Seq[Seq[Span]] = {
    val batches = scala.collection.mutable.ArrayBuffer(Vector.empty[Span])
    spans.filter(_.parent.isEmpty).foreach { s =>
      batches(batches.size - 1) :+= s
      if (s.name == "run") batches += Vector.empty
    }
    batches.filter(_.exists(_.name == "run")).drop(SetupBatches).toSeq
  }

  def spanStats(out: Main.Outcome, spans: Seq[Span], names: Seq[String], batches: Int, cores: Int): Unit =
    names.foreach { n =>
      val ss = spans.filter(_.name == n)
      val per = math.max(batches, 1).toDouble
      out.put(s"span.$n.jobs", ss.map(_.jobs).sum / per, "count")
      out.put(s"span.$n.stages", ss.map(_.stages).sum / per, "count")
      out.put(s"span.$n.tasks", ss.map(_.tasks).sum / per, "count")
      out.put(s"span.$n.shuffle_mb", ss.map(_.shuffleBytes).sum / per / 1e6, "MB")
      val wall = ss.map(_.wallS).sum
      out.put(s"span.$n.cpu_util", if (wall > 0) ss.map(_.runTimeMs).sum / 1e3 / (wall * cores) else 0.0, "ratio")
    }
}

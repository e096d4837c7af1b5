package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.{SplittableRandom, UUID}

import scala.collection.mutable

/** Seeded generator of sheet-shaped CSV exports, in the four payload
  * dialects of FIXTURES.md §1:
  *
  *  - P1 English headers, dotted dates, plain decimals, ISO payment dates;
  *  - P2 Russian headers, comma decimals;
  *  - P3 lowercase headers, ISO dates, thousands separators and currency
  *    symbols, parenthesised negatives;
  *  - P4 a UUID `PK` column with `created_at`/`updated_at` stamps.
  *
  * Every generated content is unique (its description carries a serial),
  * so the expected layer row counts follow from bookkeeping alone: raw
  * keeps one row per distinct id, staging one row per distinct content.
  * About 1% of fresh rows are malformed (unparseable total or date) so
  * that Normalize's `validation_warnings` fires.
  */
object SheetGen {

  sealed abstract class Dialect(val name: String, val header: Seq[String], val hasPk: Boolean)
  case object En extends Dialect("en", Seq("Date", "Client", "Type", "Category", "Vendor",
    "Total RUB", "Currency", "Payment date", "Hours", "Description"), hasPk = false)
  case object Ru extends Dialect("ru", Seq("Дата", "Клиент", "Тип", "Категория", "Поставщик",
    "РУБ Сумма", "Валюта", "Дата платежа", "Описание"), hasPk = false)
  case object Lower extends Dialect("lower", Seq("date", "client", "type", "category",
    "vendor", "total_rub", "currency", "hours", "description"), hasPk = false)
  case object Cdc extends Dialect("cdc", Seq("PK", "Date", "Client", "Type", "Category",
    "Vendor", "Total RUB", "created_at", "updated_at", "updated_by", "Description"),
    hasPk = true)
  val dialects: Seq[Dialect] = Seq(En, Ru, Lower, Cdc)

  /** One generated row; `content` identifies its payload, `idKey` the id
    * the loader derives from it (the PK, or content + record index).
    */
  final case class Row(content: Long, idKey: String, cells: Seq[String])

  final case class Sheet(dialect: Dialect, rows: IndexedSeq[Row]) {
    def write(path: Path): Long = {
      val sb = new java.lang.StringBuilder
      sb.append(dialect.header.map(csvCell).mkString(",")).append('\n')
      rows.foreach(r => sb.append(r.cells.map(csvCell).mkString(",")).append('\n'))
      val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
      Files.createDirectories(path.getParent)
      Files.write(path, bytes)
      bytes.length.toLong
    }
  }

  // Spark's CSV reader escapes with a backslash, not RFC 4180's doubled
  // quote, so cells never carry a double quote; quoting is only needed
  // for the separators money and names contain.
  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '\n')) "\"" + s + "\"" else s

  private val clients = Seq("АО «Первая компания»", "ИП Иванов", "ООО «Ромашка»",
    "Test Client LLC", "Acme Corp", "ООО «Вектор»", "Globex", "ИП Петрова",
    "Northwind", "ЗАО «Север»", "Initech", "ООО «Лето»") ++
    (1 to 48).map(i => s"Client $i")
  private val categories = Seq("Сопровождение", "Продажи", "Marketing", "Аренда", "Payroll",
    "Налоги", "Travel", "Software", "Консалтинг", "Logistics", "Связь", "Office")
  private val vendors = Seq("ООО «Поставщик»", "Vendor Inc", "Яндекс", "AWS", "Google",
    "ООО «Склад»", "Ozon", "Delta Supplies") ++ (1 to 32).map(i => s"Vendor $i")
  private val types = Seq("Расход", "Доход", "Income", "Expense", "Расход", "Expense",
    "Transfer")
  private val currencies = Seq("RUB", "rub", "USD", "EUR")
  private val dotted = DateTimeFormatter.ofPattern("dd.MM.yyyy")
  private val stamp = DateTimeFormatter.ofPattern("dd.MM.yyyy HH:mm:ss")

  /** Amount rendered in one of the money dialects the dialect uses. */
  private def money(r: SplittableRandom, d: Dialect, cents: Long): String = {
    val units = cents / 100
    val frac = f"${cents % 100}%02d"
    val grouped = units.toString.reverse.grouped(3).mkString(" ").reverse
    d match {
      case Ru => if (r.nextInt(2) == 0) s"$units,$frac" else s"$grouped,$frac"
      case Lower =>
        val us = units.toString.reverse.grouped(3).mkString(",").reverse + "." + frac
        r.nextInt(4) match {
          case 0 => "$" + us
          case 1 => s"₽ $grouped,$frac"
          case 2 => s"($$$us)"
          case _ => us
        }
      case _ => if (r.nextInt(8) == 0) s"($units.$frac)" else s"$units.$frac"
    }
  }

  /** Sheet-specific rendering of one logical record. */
  private def cells(r: SplittableRandom, d: Dialect, serial: Long, day: LocalDate,
      malformed: Boolean, pk: String): Seq[String] = {
    val client = clients(r.nextInt(clients.size))
    val tpe = types(r.nextInt(types.size))
    val category = categories(r.nextInt(categories.size))
    val vendor = vendors(r.nextInt(vendors.size))
    val cents = 100L + r.nextLong(50000000L)
    // malformed rows alternate between the two warnings Normalize raises
    val badTotal = malformed && serial % 2 == 0
    val badDate = malformed && !badTotal
    val total = if (badTotal) "n/a" else money(r, d, cents)
    val date = if (badDate) "31.13.2023" else d match {
      case Lower => day.toString
      case _ => day.format(dotted)
    }
    val paid = day.plusDays(r.nextInt(10).toLong)
    val desc = s"op $serial ${category.toLowerCase} ${r.nextInt(1000)}"
    val hours = if (r.nextInt(3) == 0) s"${r.nextInt(12)}.5" else ""
    val currency = currencies(r.nextInt(currencies.size))
    d match {
      case En => Seq(date, client, tpe, category, vendor, total, currency,
        if (badDate) "" else s"${paid}T00:00:00Z", hours, desc)
      case Ru => Seq(date, client, tpe, category, vendor, total, currency,
        if (badDate) "" else paid.format(dotted), desc)
      case Lower => Seq(date, client, tpe.toLowerCase, category, vendor, total, currency,
        hours, desc)
      case Cdc =>
        val created = day.atTime(9 + r.nextInt(8), r.nextInt(60), r.nextInt(60))
        Seq(pk, date, client, tpe, category, vendor, total, created.format(stamp),
          created.plusHours(1L + r.nextInt(96)).format(stamp),
          s"user${r.nextInt(20)}@example.com", desc)
    }
  }
}

/** Stateful generator for one store's history: hands out fresh, edited
  * and re-sent rows and keeps the expected raw and staging row counts.
  */
final class SheetGen(seed: Long, startDay: LocalDate) {
  import SheetGen._

  private val rnd = new SplittableRandom(seed)
  private var serial = 0L
  private val contents = mutable.HashSet.empty[Long]
  private val ids = mutable.HashSet.empty[String]
  // earlier rows per dialect: re-sends and edits only make sense within
  // the same header dialect (another header set is another payload)
  private val history = mutable.Map.empty[Dialect, mutable.ArrayBuffer[Row]]

  def expectedRawRows: Long = ids.size.toLong
  def expectedStagingRows: Long = contents.size.toLong

  private def pkOf(r: SplittableRandom): String =
    new UUID((r.nextLong() & ~0xf000L) | 0x4000L,
      (r.nextLong() & 0x3fffffffffffffffL) | 0x8000000000000000L).toString

  private def fresh(d: Dialect, day: LocalDate, index: Int): Row = {
    serial += 1
    val malformed = rnd.nextInt(100) == 0
    val pk = if (d.hasPk) pkOf(rnd) else ""
    val c = cells(rnd, d, serial, day, malformed, pk)
    Row(serial, if (d.hasPk) pk else s"$serial#$index", c)
  }

  /** An earlier row with its total changed: new content, so a new
    * synthetic id, while the original row stays in the layers.
    */
  private def edit(src: Row, d: Dialect, index: Int): Row = {
    serial += 1
    val totalAt = d.header.indexWhere(h => h == "Total RUB" || h == "РУБ Сумма" || h == "total_rub")
    val descAt = d.header.size - 1
    val c = src.cells.updated(totalAt, money(rnd, d, 100L + rnd.nextLong(50000000L)))
      .updated(descAt, s"${src.cells(descAt)} edit $serial")
    Row(serial, s"$serial#$index", c)
  }

  private def resend(src: Row, d: Dialect, index: Int): Row =
    src.copy(idKey = if (d.hasPk) src.idKey else s"${src.content}#$index")

  /** A cold backfill: `rows` fresh rows over `months` months before the
    * start day, one sheet per dialect.
    */
  def backfill(rows: Int, months: Int): Seq[Sheet] =
    dialects.zipWithIndex.map { case (d, k) =>
      val n = rows / dialects.size + (if (k < rows % dialects.size) 1 else 0)
      sheet(d, (0 until n).map { i =>
        fresh(d, startDay.minusDays(rnd.nextInt(months * 30).toLong + 1), i)
      })
    }

  /** One daily export: `fresh` new rows dated around `day`, a tenth of
    * them in older months, plus re-sent unchanged rows and (id-less
    * dialects) edited earlier rows, which get new synthetic ids.
    */
  def daily(d: Dialect, day: LocalDate, freshRows: Int, resent: Int, edited: Int): Sheet = {
    val past = history.getOrElse(d, mutable.ArrayBuffer.empty[Row])
    val out = mutable.ArrayBuffer.empty[Row]
    def pick(): Row = past(rnd.nextInt(past.size))
    (0 until resent).foreach(_ => if (past.nonEmpty) out += resend(pick(), d, out.size))
    if (!d.hasPk)
      (0 until edited).foreach(_ => if (past.nonEmpty) out += edit(pick(), d, out.size))
    (0 until freshRows).foreach { _ =>
      val older = rnd.nextInt(10) == 0
      val when = if (older) day.minusDays(30L + rnd.nextInt(365)) else day.minusDays(rnd.nextInt(3).toLong)
      out += fresh(d, when, out.size)
    }
    sheet(d, out.toIndexedSeq)
  }

  private def sheet(d: Dialect, rows: IndexedSeq[Row]): Sheet = {
    rows.foreach { r => contents += r.content; ids += r.idKey }
    history.getOrElseUpdate(d, mutable.ArrayBuffer.empty[Row]) ++= rows
    Sheet(d, rows)
  }
}

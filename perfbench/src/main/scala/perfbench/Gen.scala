package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import graft.pipeline.TradeInSchema

/** Seeded trade-in batch generator: raw API records as JSON lines, one
  * object per line, the shape `JsonLinesSource` reads.
  *
  * Every calendar day owns a fixed set of invoices, drawn from a random
  * stream seeded by (seed, day), so the same invoice comes out the same in
  * every batch that delivers it. The batch for day D is the delivery window
  * of the 06:00 run on D+1: all of D's invoices plus D+1's invoices dated
  * before 06:00, which the next batch delivers again with a new status.
  *
  * Per-row rates, identical in every workload:
  *  - timestamps in the 5 accepted shapes, fraction shapes with 1 to 9
  *    digits;
  *  - each timestamp and amount field is empty, missing or garbage with
  *    probability `faultRate` each;
  *  - intra-batch duplicates of a `SaleInvoiceID`: `dupRate` with a later
  *    `TradeInDate`, `tieRate` with an equal one and another payload;
  *  - `correctionRate` re-deliveries of an invoice from the previous 7
  *    days, moved to day D;
  *  - `dstRate` late invoices at instants on the America/New_York DST
  *    edges. */
final class Gen(seed: Long, rowsPerDay: Int, historyRowsPerDay: Int) {
  require(Seq(rowsPerDay, historyRowsPerDay).forall(n => n > 0 && n < 80000),
    "rows per day must be in (0, 80000)")

  val faultRate = 0.002
  val dupRate = 0.08
  val tieRate = 0.01
  val correctionRate = 0.002
  val dstRate = 0.001

  /** Day 0 is the first batch day; history days are negative. */
  val day0: LocalDate = LocalDate.of(2024, 3, 12)
  def date(d: Int): LocalDate = day0.plusDays(d.toLong)
  /** The run that loads batch `d`: 06:00 on the next day, as the
    * `0 0 6 * * *` schedule fires it. */
  def runAt(d: Int): String = s"${date(d + 1)} 06:00:00"

  private val epoch0 = day0.atStartOfDay().toEpochSecond(ZoneOffset.UTC)
  private val DstEdges: Array[Long] = Array(
    "2024-03-10T06:59:59", "2024-03-10T07:00:00", "2024-03-10T07:30:00",
    "2023-11-05T05:59:59", "2023-11-05T06:00:00", "2023-11-05T06:30:00")
    .map(s => LocalDateTime.parse(s).toEpochSecond(ZoneOffset.UTC))
  private val Statuses = Array("Pending", "Received", "Inspected", "Completed", "Cancelled")
  private val Garbage = Array("N/A", "not a date", "31/02/2024 25:61", "??", "null-ish")
  private val Makes = Array("Apple", "Samsung", "Google", "Motorola", "OnePlus")
  private val Regions = Array("North", "South", "East", "West", "Central")

  /** One invoice as first sold: key, instant (epoch nanos) and payload seed. */
  final case class Invoice(key: Int, nanos: Long, payload: Long)

  private def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) => (h ^ p) * 0x100000001B3L))

  /** Invoices of calendar day `d`, in key order. Keys are unique across
    * days. History days (`d < 0`) hold `historyRowsPerDay` invoices. */
  def invoices(d: Int): IndexedSeq[Invoice] = {
    val r = rng(1L, d.toLong)
    val base = 10000000 + (d + 1000) * 100000
    val start = (epoch0 + d.toLong * 86400L) * 1000000000L
    (0 until (if (d < 0) historyRowsPerDay else rowsPerDay)).map(i =>
      Invoice(base + i, start + r.nextLong(86400L * 1000000000L), r.nextLong()))
  }

  /** Raw records of batch `d` (the window ending at [[runAt]]`(d)`). With
    * `loadable = true`, rows whose `TradeInDate` is empty or missing are
    * left out; history built in set-up uses it (see [[history]]). */
  def batch(d: Int, loadable: Boolean = false): Vector[String] = {
    val r = rng(2L, d.toLong)
    val cutoff = (epoch0 + (d + 1).toLong * 86400L + 6 * 3600L) * 1000000000L
    val window = invoices(d) ++ invoices(d + 1).filter(_.nanos < cutoff)
    val out = Vector.newBuilder[String]
    def emit(inv: Invoice, nanos: Long, delivery: Long,
        tradeInDate: Option[String]): Unit =
      if (!(loadable && tradeInDate.forall(_.isEmpty)))
        out += record(inv, nanos, delivery, tradeInDate, r)
    def emitNew(inv: Invoice, nanos: Long, delivery: Long): Option[String] = {
      val tradeInDate = faulty(ts(nanos, r), r)
      emit(inv, nanos, delivery, tradeInDate)
      tradeInDate
    }
    window.foreach { inv =>
      val first = emitNew(inv, inv.nanos, d.toLong)
      val u = r.nextDouble()
      if (u < dupRate)
        emitNew(inv, inv.nanos + (1L + r.nextLong(3600L)) * 1000000000L, d + 100000L)
      else if (u < dupRate + tieRate)
        emit(inv, inv.nanos, d + 200000L, first)
      if (r.nextDouble() < correctionRate) {
        val from = invoices(d - 1 - r.nextInt(7))
        val moved = from(r.nextInt(from.size))
        val dayStart = (epoch0 + d.toLong * 86400L) * 1000000000L
        emitNew(moved, dayStart + r.nextLong(86400L * 1000000000L), d + 300000L)
      }
      if (r.nextDouble() < dstRate) {
        val key = 10000000 + (d + 1000) * 100000 + 90000 + r.nextInt(9999)
        val nanos = DstEdges(r.nextInt(DstEdges.length)) * 1000000000L + r.nextLong(1000000000L)
        emitNew(Invoice(key, nanos, r.nextLong()), nanos, d.toLong)
      }
    }
    out.result()
  }

  /** Batch `d` of the history (`d < 0`) that set-up loads. The
    * partition-scoped target cannot load a row without a parseable day,
    * so history keeps only rows it can load; the daily batches keep every
    * shape. */
  def history(d: Int): Iterator[String] = batch(d, loadable = true).iterator

  private def ts(nanos: Long, r: SplittableRandom): String = {
    val secs = Math.floorDiv(nanos, 1000000000L)
    val frac = Math.floorMod(nanos, 1000000000L)
    val t = LocalDateTime.ofEpochSecond(secs, 0, ZoneOffset.UTC)
    val d = t.toLocalDate.toString
    val hms = f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    def fraction = { val digits = 1 + r.nextInt(9); "." + f"$frac%09d".take(digits) }
    r.nextInt(5) match {
      case 0 => s"${d}T$hms${fraction}Z"
      case 1 => s"${d}T${hms}Z"
      case 2 => s"${d}T$hms"
      case 3 => s"$d $hms"
      case _ => s"$d $hms$fraction"
    }
  }

  /** A field value after fault injection: None drops the key. */
  private def faulty(value: => String, r: SplittableRandom): Option[String] = {
    val u = r.nextDouble()
    if (u < faultRate) Some("")
    else if (u < 2 * faultRate) None
    else if (u < 3 * faultRate) Some(Garbage(r.nextInt(Garbage.length)))
    else Some(value)
  }

  private def pick(r: SplittableRandom, xs: String*): String = xs(r.nextInt(xs.size))

  private def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  /** One raw record; `delivery` varies the fields that change between
    * deliveries of an invoice (status, amounts, post times). */
  private def record(inv: Invoice, nanos: Long, delivery: Long,
      tradeInDate: Option[String], r: SplittableRandom): String = {
    val p = new SplittableRandom(inv.payload)
    val v = new SplittableRandom(inv.payload ^ (delivery * 0x5DEECE66DL))
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]
    val k = inv.key
    fields("SaleInvoiceID") = Some(k.toString)
    fields("TradeInTransactionID") = Some((k * 7L % 2000000000L).toString)
    fields("InvoiceIDByStore") = Some(s"S${p.nextInt(900)}-$k")
    fields("InvoiceID") = Some(s"INV$k")
    fields("TradeInStatus") = Some(Statuses(v.nextInt(Statuses.length)))
    fields("ItemID") = Some(p.nextInt(100000).toString)
    fields("ManufacturerModel") = Some(s"${Makes(p.nextInt(Makes.length))} M${p.nextInt(40)}")
    fields("SerialNumber") = Some(f"SN${p.nextLong(1L << 40)}%012x")
    fields("StoreName") = Some(s"Store ${p.nextInt(900)}")
    fields("RegionName") = Some(Regions(p.nextInt(Regions.length)))
    fields("TradeInDate") = tradeInDate
    fields("PhoneRebateAmount") = faulty(money(v.nextLong(50000L)), r)
    fields("PromotionValue") = Some(money(p.nextLong(20000L)))
    fields("PreDeviceValueAmount") = Some(money(p.nextLong(90000L)))
    fields("PrePromotionValueAmount") = Some(money(p.nextLong(90000L)))
    fields("TrackingNumber") = Some(f"1Z${p.nextLong(1L << 48)}%014X")
    fields("OriginalTradeInvoiceID") = Some(s"INV${k - 1}")
    fields("OrderNumber") = Some(s"ORD${p.nextInt(10000000)}")
    fields("CreditApplicationNum") = Some(s"CA${p.nextInt(1000000)}")
    fields("LocationCode") = Some(s"L${p.nextInt(900)}")
    fields("MasterOrderNumber") = Some(s"MO${p.nextInt(10000000)}")
    fields("SequenceNumber") = Some((delivery % 100000).toString)
    fields("PromoValue") = Some(money(p.nextLong(20000L)))
    fields("OrganicPrice") = Some(money(p.nextLong(150000L)))
    fields("ComputedPrice") = Some(money(p.nextLong(150000L)))
    fields("TradeInMobileNumber") = Some(f"555${p.nextInt(10000000)}%07d")
    fields("SubmissionId") = Some(s"SUB-$k-${delivery % 1000}")
    fields("TradeInEquipMake") = Some(Makes(p.nextInt(Makes.length)))
    fields("TradeInEquipCarrier") = Some(pick(p, "A", "B", "C"))
    fields("DeviceSku") = Some(s"SKU${p.nextInt(5000)}")
    fields("TradeInDeviceId") = Some(s"DEV${p.nextLong(1L << 32)}")
    fields("LobType") = Some(pick(p, "Postpaid", "Prepaid"))
    fields("OrderType") = Some(pick(p, "New", "Upgrade", "Port"))
    fields("PurchaseDeviceId") = Some(s"PD${p.nextLong(1L << 32)}")
    fields("TradeInAmount") = faulty(money(v.nextLong(100000L)), r)
    fields("AmountUsed") = faulty(money(v.nextLong(50000L)), r)
    fields("AmountPending") = Some(money(v.nextLong(50000L)))
    fields("PromoCompletion") = Some(pick(v, "Y", "N"))
    fields("PostTime") = faulty(ts(nanos + v.nextLong(600L) * 1000000000L, r), r)
    fields("ResponseTime") = faulty(ts(nanos + 600L * 1000000000L + v.nextLong(600L) * 1000000000L, r), r)
    fields("MobileNumber") = Some(f"555${v.nextInt(10000000)}%07d")
    assert(fields.size == TradeInSchema.rawColumns.size)
    fields.collect { case (name, Some(value)) => s"\"$name\":\"$value\"" }
      .mkString("{", ",", "}")
  }

  /** Writes `lines` to `file`, one per line; returns the bytes written. */
  def write(file: File, lines: Iterator[String]): Long = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(file), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    file.length()
  }
}

package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

/** Seeded generator of the benchmark's inputs: a TPC-H-shaped sf0.1
  * snapshot (20k parts, 150k orders, ~600k line items) mapped onto the
  * reference pipeline's three CSV inputs by the FIXTURES.md §B roles:
  *
  *  - `part`     → `products`, `category` = the first syllable of
  *    `p_type` (6 values, close to the reference's 7);
  *  - `orders`   → `orders`;
  *  - `lineitem` → `order_items`, price = `l_extendedprice`, returned
  *    ⇔ `l_returnflag = 'R'` (an order is returned when any of its items
  *    is).
  *
  * Everything derives from the seed alone, so the same seed gives the
  * same bytes on any host. Null sentinels are `Long.MinValue`. */
object Inputs {
  val Null: Long = Long.MinValue

  val Categories: Array[String] =
    Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Departments: Array[String] =
    Array("Fashion", "Home", "Kids", "Media", "Outdoors", "Personal Care", "Tech")
  val Statuses: Array[String] = Array("F", "O", "P")
  val Priorities: Array[String] =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private val StartDay = LocalDate.of(1992, 1, 1).toEpochDay
  private val DateSpan = 2406 // 1992-01-01 .. 1998-08-02, as TPC-H
  private val CurrentDay = LocalDate.of(1995, 6, 17).toEpochDay
  /** Calendar months wholly inside the order-date span (1992-01..1998-07). */
  val FullMonths: Int = 79

  final class Snapshot(
      val nParts: Int,
      val partCategory: Array[Int],
      val partRetailCents: Array[Long],
      // orders, indexed 0 until nOrders; order key = index + 1
      val oCust: Array[Long],
      val oCreatedSec: Array[Long],
      val oStatus: Array[Int],
      val oPriority: Array[Int],
      val oTotalCents: Array[Long],
      val oItemFrom: Array[Int], // items of order i: oItemFrom(i) until oItemFrom(i + 1)
      // line items
      val iPart: Array[Long],
      val iPriceCents: Array[Long],
      val iShipSec: Array[Long],
      val iReceiptSec: Array[Long],
      val iReturned: Array[Boolean]) {
    def nOrders: Int = oCust.length
    def orderDay(i: Int): Long = Math.floorDiv(oCreatedSec(i), 86400L)
    def orderMonth(i: Int): Int = {
      val d = LocalDate.ofEpochDay(orderDay(i))
      (d.getYear - 1992) * 12 + d.getMonthValue - 1
    }
  }

  /** The TPC-H-shaped snapshot at sf0.1. */
  def snapshot(seed: Long): Snapshot = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val nParts = 20000
    val nOrders = 150000
    val nCust = 15000
    val partCategory = Array.fill(nParts)(rnd.nextInt(Categories.length))
    // TPC-H's p_retailprice formula, in cents
    val partRetail = Array.tabulate(nParts) { i =>
      val pk = i + 1L
      90000L + (pk / 10) % 20001 + 100L * (pk % 1000)
    }
    val oCust = new Array[Long](nOrders)
    val oCreated = new Array[Long](nOrders)
    val oStatus = new Array[Int](nOrders)
    val oPriority = new Array[Int](nOrders)
    val oTotal = new Array[Long](nOrders)
    val oFrom = new Array[Int](nOrders + 1)
    val counts = Array.fill(nOrders)(1 + rnd.nextInt(7))
    var acc = 0
    var i = 0
    while (i < nOrders) { oFrom(i) = acc; acc += counts(i); i += 1 }
    oFrom(nOrders) = acc
    val iPart = new Array[Long](acc)
    val iPrice = new Array[Long](acc)
    val iShip = new Array[Long](acc)
    val iReceipt = new Array[Long](acc)
    val iRet = new Array[Boolean](acc)
    i = 0
    while (i < nOrders) {
      oCust(i) = 1 + rnd.nextInt(nCust)
      val day = StartDay + rnd.nextInt(DateSpan)
      oCreated(i) = day * 86400L + rnd.nextInt(86400)
      oPriority(i) = rnd.nextInt(Priorities.length)
      var nF = 0; var total = 0L
      var j = oFrom(i)
      while (j < oFrom(i + 1)) {
        val pk = 1 + rnd.nextInt(nParts)
        iPart(j) = pk
        iPrice(j) = (1 + rnd.nextInt(50)) * partRetail(pk - 1)
        val shipDay = day + 1 + rnd.nextInt(121)
        val receiptDay = shipDay + 1 + rnd.nextInt(30)
        iShip(j) = shipDay * 86400L + rnd.nextInt(86400)
        iReceipt(j) = receiptDay * 86400L + rnd.nextInt(86400)
        iRet(j) = receiptDay <= CurrentDay && rnd.nextBoolean()
        if (shipDay <= CurrentDay) nF += 1
        total += iPrice(j)
        j += 1
      }
      val n = oFrom(i + 1) - oFrom(i)
      oStatus(i) = if (nF == n) 0 else if (nF == 0) 1 else 2
      oTotal(i) = total
      i += 1
    }
    new Snapshot(nParts, partCategory, partRetail, oCust, oCreated, oStatus,
      oPriority, oTotal, oFrom, iPart, iPrice, iShip, iReceipt, iRet)
  }

  // ---------------------------------------------------------------- drops

  /** One drop's rows exactly as written to CSV (poisoned rows included),
    * so the KPI model and the files cannot disagree. */
  final class Drop(val tag: String, val nParts: Int, val partCategory: Array[Int],
                   val partRetailCents: Array[Long], val orders: Array[OrderRow],
                   val items: Array[ItemRow]) {
    def rows: Long = nParts.toLong + orders.length + items.length
  }
  final case class OrderRow(orderId: Long, userId: Long, createdSec: Long,
                            returnedSec: Long, shippedSec: Long,
                            deliveredSec: Long, numItems: Int)
  final case class ItemRow(id: Long, orderId: Long, userId: Long, productId: Long,
                           createdSec: Long, shippedSec: Long, deliveredSec: Long,
                           returnedSec: Long, priceCents: Long)

  /** The drop holding orders `sel` of the snapshot. About 0.2% of rows
    * per poison kind are corrupted, FIXTURES.md §A.4: null order
    * keys/user/created_at, null item id/product/price, price
    * 0 or -1.5, items whose order is absent, and items whose product is
    * absent (null category: kept in order KPIs, dropped from category
    * KPIs). */
  def drop(s: Snapshot, sel: Array[Int], tag: String, seed: Long): Drop = {
    val rnd = new SplittableRandom(seed ^ tag.hashCode.toLong * 0x2545F4914F6CDD1DL)
    val p = 0.002
    val orders = new Array[OrderRow](sel.length)
    val items = Array.newBuilder[ItemRow]
    var k = 0
    while (k < sel.length) {
      val i = sel(k)
      val key = i + 1L
      var returnedSec = Null; var shipped = Long.MaxValue; var delivered = 0L
      var j = s.oItemFrom(i)
      while (j < s.oItemFrom(i + 1)) {
        if (s.iReturned(j)) returnedSec = math.max(returnedSec, s.iReceiptSec(j) + 3600)
        shipped = math.min(shipped, s.iShipSec(j))
        delivered = math.max(delivered, s.iReceiptSec(j))
        j += 1
      }
      val r = rnd.nextDouble()
      orders(k) = OrderRow(
        orderId = if (r < p) Null else key,
        userId = if (r >= p && r < 2 * p) Null else s.oCust(i),
        createdSec = if (r >= 2 * p && r < 3 * p) Null else s.oCreatedSec(i),
        returnedSec = returnedSec, shippedSec = shipped,
        deliveredSec = if (rnd.nextInt(100) == 0) Null else delivered,
        numItems = s.oItemFrom(i + 1) - s.oItemFrom(i))
      j = s.oItemFrom(i)
      while (j < s.oItemFrom(i + 1)) {
        val q = rnd.nextDouble()
        val poison = if (q < 7 * p) (q / p).toInt else -1
        items += ItemRow(
          id = if (poison == 0) Null else j + 1L,
          orderId = if (poison == 5) key + 100000000L else key,
          userId = s.oCust(i),
          productId =
            if (poison == 1) Null
            else if (poison == 6) s.nParts + 1L + rnd.nextInt(1000)
            else s.iPart(j),
          createdSec = s.oCreatedSec(i), shippedSec = s.iShipSec(j),
          deliveredSec = s.iReceiptSec(j),
          returnedSec = if (s.iReturned(j)) s.iReceiptSec(j) + 3600 else Null,
          priceCents = poison match {
            case 2 => Null
            case 3 => 0L
            case 4 => -150L
            case _ => s.iPriceCents(j)
          })
        j += 1
      }
      k += 1
    }
    new Drop(tag, s.nParts, s.partCategory, s.partRetailCents, orders, items.result())
  }

  // ---------------------------------------------------------------- files

  private val OrderParts = 6
  private val ItemParts = 19

  private def ts(sec: Long): String =
    if (sec == Null) ""
    else java.time.LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC).toString match {
      case t if t.length == 16 => t + ":00" // LocalDateTime drops ":00" seconds
      case t => t
    }
  private def num(v: Long): String = if (v == Null) "" else v.toString
  private def money(cents: Long): String =
    if (cents == Null) "" else java.math.BigDecimal.valueOf(cents, 2).toPlainString

  private def writer(f: File): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f),
      StandardCharsets.UTF_8), 1 << 16)

  /** Writes the drop's files under `staging` with names unique to the
    * drop (the file source's log dedups by path) and returns their paths
    * relative to the raw dir, in landing order: products, items, orders. */
  def writeStaged(d: Drop, staging: File): Seq[String] = {
    val rels = Seq.newBuilder[String]
    new File(staging, "orders").mkdirs()
    new File(staging, "order_items").mkdirs()
    val pw = writer(new File(staging, "products.csv"))
    try {
      pw.write("id,sku,cost,category,name,brand,retail_price,department\n")
      var i = 0
      while (i < d.nParts) {
        val pk = i + 1
        val retail = d.partRetailCents(i)
        pw.write(s"$pk,SKU-${"%08d".format(pk)},${money(retail * 6 / 10)}," +
          s"${Categories(d.partCategory(i))},part $pk," +
          (if (pk % 97 == 0) "" else s"Brand#${pk % 5 + 1}${pk % 7 + 1}") +
          s",${money(retail)},${Departments(pk % Departments.length)}\n")
        i += 1
      }
    } finally pw.close()
    rels += "products.csv"
    val itemFiles = (1 to ItemParts).map(k => s"order_items/${d.tag}_order_items_part$k.csv")
    val iws = itemFiles.map(f => writer(new File(staging, f)))
    try {
      iws.foreach(_.write("id,order_id,user_id,product_id,status,created_at," +
        "shipped_at,delivered_at,returned_at,sale_price\n"))
      val per = (d.items.length + ItemParts - 1) / ItemParts
      var j = 0
      while (j < d.items.length) {
        val r = d.items(j)
        iws(j / per).write(s"${num(r.id)},${num(r.orderId)},${num(r.userId)}," +
          s"${num(r.productId)},${if (r.returnedSec == Null) "delivered" else "returned"}," +
          s"${ts(r.createdSec)},${ts(r.shippedSec)},${ts(r.deliveredSec)}," +
          s"${ts(r.returnedSec)},${money(r.priceCents)}\n")
        j += 1
      }
    } finally iws.foreach(_.close())
    rels ++= itemFiles
    val orderFiles = (1 to OrderParts).map(k => s"orders/${d.tag}_orders_part$k.csv")
    val ows = orderFiles.map(f => writer(new File(staging, f)))
    try {
      ows.foreach(_.write("order_id,user_id,status,created_at,returned_at," +
        "shipped_at,delivered_at,num_of_item\n"))
      val per = (d.orders.length + OrderParts - 1) / OrderParts
      var j = 0
      while (j < d.orders.length) {
        val r = d.orders(j)
        ows(j / per).write(s"${num(r.orderId)},${num(r.userId)}," +
          s"${if (r.returnedSec == Null) "delivered" else "returned"}," +
          s"${ts(r.createdSec)},${ts(r.returnedSec)},${ts(r.shippedSec)}," +
          s"${ts(r.deliveredSec)},${r.numItems}\n")
        j += 1
      }
    } finally ows.foreach(_.close())
    rels ++= orderFiles
    rels.result()
  }

  /** Lands staged files in the raw dir by atomic rename, in order. */
  def land(staging: File, raw: File, rels: Seq[String]): Unit =
    rels.foreach { rel =>
      val dst = new File(raw, rel)
      dst.getParentFile.mkdirs()
      Files.move(new File(staging, rel).toPath, dst.toPath,
        StandardCopyOption.ATOMIC_MOVE)
    }
}

package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import Inputs.{Drop, Null}

/** Plain-Scala model of one drop's KPIs, written from the reference's
  * rules (Task 1 validation, Task 2 aggregation) and not from the engine:
  *
  *  - orders need order_id, user_id and created_at; items need id,
  *    product_id, a positive sale_price and a valid order;
  *  - `is_returned` is the ORDER's returned_at, item-grain weighted;
  *  - money sums are exact here (cents), then HALF_EVEN to 2dp; rates are
  *    HALF_EVEN to 4dp, then ×100, then HALF_EVEN to 2dp; the KV sink
  *    renders every double as DECIMAL(12,2) (HALF_UP).
  *
  * A money quotient that lands exactly on a half cent may legitimately
  * round either way in the engine (its sum is a double whose last bit
  * depends on summation order), so such ties accept both neighbours. */
object KpiModel {

  /** Expected value of one KV attribute; `alt` is the other rounding of
    * an exact half-cent tie. */
  final case class Want(value: String, alt: Option[String] = None) {
    def accepts(v: String): Boolean = v == value || alt.contains(v)
  }

  /** table → key → attribute → expected value. */
  type Expected = Map[String, Map[String, Map[String, Want]]]

  private def day(sec: Long): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(sec, 86400L)).toString

  private def cents(c: Long): String = JBigDecimal.valueOf(c, 2).toPlainString

  /** Spark's `bround(double, s)`: decimal rendering of the double, then
    * HALF_EVEN. */
  private def bround(d: Double, s: Int): Double =
    BigDecimal(d).setScale(s, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  private def sinkDecimal(d: Double): String =
    BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString

  /** bround(bround(num / den, 4) * 100, 2) as the sink renders it. */
  private def pct(num: Long, den: Long): Want =
    Want(sinkDecimal(bround(bround(num.toDouble / den.toDouble, 4) * 100, 2)))

  /** round(totalCents / n / 100, 2) HALF_EVEN, ties accepting both ways. */
  private def avgMoney(totalCents: Long, n: Long): Want = {
    val q = JBigDecimal.valueOf(totalCents).divide(JBigDecimal.valueOf(n), 0,
      RoundingMode.HALF_EVEN)
    val rem = JBigDecimal.valueOf(totalCents).remainder(JBigDecimal.valueOf(n)).abs
    val tie = rem.multiply(JBigDecimal.valueOf(2)).compareTo(JBigDecimal.valueOf(n)) == 0
    if (!tie) Want(cents(q.longValue))
    else {
      val down = Math.floorDiv(totalCents, n)
      val other = if (q.longValue == down) down + 1 else down
      Want(cents(q.longValue), Some(cents(other)))
    }
  }

  private final class OrderAgg {
    val orders = new java.util.HashSet[Long]()
    val users = new java.util.HashSet[Long]()
    var cents = 0L; var items = 0L; var returned = 0L
  }

  def expected(d: Drop): Expected = {
    final case class ValidOrder(day: String, returned: Boolean)
    val valid = new java.util.HashMap[Long, ValidOrder]()
    d.orders.foreach { o =>
      if (o.orderId != Null && o.userId != Null && o.createdSec != Null)
        valid.put(o.orderId, ValidOrder(day(o.createdSec), o.returnedSec != Null))
    }
    val byDay = scala.collection.mutable.Map[String, OrderAgg]()
    val byCat = scala.collection.mutable.Map[(String, String), OrderAgg]()
    d.items.foreach { it =>
      val o = valid.get(it.orderId)
      if (it.id != Null && it.productId != Null && it.priceCents != Null &&
          it.priceCents > 0 && o != null) {
        val aggs = Seq(byDay.getOrElseUpdate(o.day, new OrderAgg)) ++ {
          if (it.productId >= 1 && it.productId <= d.nParts) {
            val cat = Inputs.Categories(d.partCategory((it.productId - 1).toInt))
            Seq(byCat.getOrElseUpdate((cat, o.day), new OrderAgg))
          } else Nil // unknown product: null category, order KPIs only
        }
        aggs.foreach { a =>
          a.orders.add(it.orderId); a.users.add(it.userId)
          a.cents += it.priceCents; a.items += 1
          if (o.returned) a.returned += 1
        }
      }
    }
    val orderKpi = byDay.map { case (dt, a) =>
      dt -> Map(
        "order_date" -> Want(dt),
        "total_orders" -> Want(a.orders.size.toString),
        "total_revenue" -> Want(cents(a.cents)),
        "total_items_sold" -> Want(a.items.toString),
        "return_rate" -> pct(a.returned, a.items),
        "unique_customers" -> Want(a.users.size.toString))
    }.toMap
    val catKpi = byCat.map { case ((cat, dt), a) =>
      s"$cat|$dt" -> Map(
        "category" -> Want(cat),
        "order_date" -> Want(dt),
        "daily_revenue" -> Want(cents(a.cents)),
        "avg_order_value" -> avgMoney(a.cents, a.orders.size),
        "avg_return_rate" -> pct(a.returned, a.orders.size))
    }.toMap
    Map("order_kpi" -> orderKpi, "category_kpi" -> catKpi)
  }

  /** Compares the KV store's rows for the expected keys; returns one line
    * per mismatch (empty = pass). `read(table, key)` returns the stored
    * item or None. */
  def check(want: Expected,
            read: (String, String) => Option[Map[String, String]]): Seq[String] =
    want.toSeq.flatMap { case (table, rows) =>
      rows.toSeq.flatMap { case (key, attrs) =>
        read(table, key) match {
          case None => Seq(s"$table: key $key missing")
          case Some(got) =>
            val extra = got.keySet -- attrs.keySet
            attrs.toSeq.collect {
              case (a, w) if !got.get(a).exists(v => v != null && w.accepts(v)) =>
                s"$table[$key].$a = ${got.getOrElse(a, "<absent>")}, want ${w.value}"
            } ++ extra.toSeq.map(a => s"$table[$key] has unexpected attribute $a")
        }
      }
    }
}

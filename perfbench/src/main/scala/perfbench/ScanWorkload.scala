package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File

/** `scan`: pushdown reads on a static lineitem-like table, written once
  * (the build) with hundreds of fragments clustered on the key. A seeded mix of key
  * point lookups, key-range filter + group-by, projection + limit,
  * stats-answered COUNT/MIN/MAX and full-table filtered aggregates.
  * Read-only: no writes, index work or text work in the loop. */
final class ScanWorkload(spark: SparkSession, seed: Long, dir: File)
    extends Workload(spark, seed, dir) {
  import ScanWorkload._
  import Gen.LineItem

  private var items: Array[LineItem] = _
  private var pool: Array[Op] = _
  private var byMode: Map[String, ShipDayIndex] = _
  private val staged = new File(stage, "lineitem.csv")

  def setup(): Unit = {
    items = Gen.lineItems(seed, Rows)
    Gen.writeLines(staged.toPath, items.iterator.map(Gen.lineItemCsv))
    byMode = items.groupBy(_.shipMode).map { case (m, ls) => m -> ShipDayIndex(ls) }
    val r = Gen.rng(seed, 10)
    // a fixed interleaving of the five kinds; keys, ranges and thresholds are seeded
    pool = Array.tabulate(Pool) { i =>
      Mix(i % Mix.length) match {
        case "point" => point(i, items(r.nextInt(Rows)).orderKey + (if (r.nextInt(10) == 0) 1 else 0))
        case "range_agg" => rangeAgg(i, r.nextInt(Rows - RangeRows))
        case "limit" => limitOp(i, 50 + r.nextInt(151))
        case "stats_agg" => statsAgg(i, StatCols(r.nextInt(StatCols.length)))
        case _ => fullAgg(i, Gen.MinShipDay + r.nextInt(Gen.ShipDays))
      }
    }
  }

  def build(): Op = Op("build", "build.table", Rows, () => {
    csv(Gen.LineItemSchema, staged).createOrReplaceTempView("staged_lineitem")
    sql("CREATE NAMESPACE IF NOT EXISTS graft_lance.bench")
    // a global sort on the key, cut into fragments of FragmentRows rows
    sql("CREATE TABLE graft_lance.bench.lineitem " +
      s"TBLPROPERTIES ('write.max-rows-per-file' = '$FragmentRows') " +
      "AS SELECT * FROM staged_lineitem ORDER BY l_orderkey, l_linenumber")
    Outcome(0, expectCount("lineitem rows", lance("lineitem").count(), Rows))
  })

  /** The pool repeats once exhausted: the table never changes. */
  def ops(): Iterator[Op] = Iterator.continually(pool.iterator).flatten
  def cycle: Int = Mix.length

  def tables: Seq[File] = Seq(new File(tablePath("lineitem")))
  def liveRows: Long = Rows

  // ---- operations ---------------------------------------------------------

  private def table = lance("lineitem")

  /** Index range [from, until) of the rows with key in [lo, hi]. */
  private def keyRange(lo: Long, hi: Long): (Int, Int) = {
    def lowerBound(k: Long): Int = {
      var a = 0; var b = items.length
      while (a < b) { val m = (a + b) >>> 1; if (items(m).orderKey < k) a = m + 1 else b = m }
      a
    }
    (lowerBound(lo), lowerBound(hi + 1))
  }

  private def point(i: Int, key: Long): Op = {
    val (a, b) = keyRange(key, key)
    val want = (a until b).map { j =>
      val l = items(j); s"${l.lineNumber}|${l.quantity}|${l.priceCents}|${l.shipMode}"
    }.sorted
    Op(s"scan-$i", "point", Rows, () => {
      val got = render(table.filter(col("l_orderkey") === key)
        .select("l_linenumber", "l_quantity", "l_price_cents", "l_shipmode").collect().toSeq)
      Outcome(got.size, expectSame(s"point lookup l_orderkey=$key", got, want))
    })
  }

  private def rangeAgg(i: Int, from: Int): Op = {
    val lo = items(from).orderKey
    val hi = items(from + RangeRows).orderKey
    val (a, b) = keyRange(lo, hi)
    val want = (a until b).map(items).groupBy(l => (l.returnFlag, l.lineStatus)).toSeq.map {
      case ((f, s), ls) => s"$f|$s|${ls.size}|${ls.map(_.quantity).sum}|${ls.map(_.priceCents).sum}"
    }.sorted
    Op(s"scan-$i", "range_agg", Rows, () => {
      val got = render(table.filter(col("l_orderkey").between(lo, hi))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)), sum("l_quantity"), sum("l_price_cents")).collect().toSeq)
      Outcome(got.size, expectSame(s"range group-by l_orderkey in [$lo, $hi]", got, want))
    })
  }

  /** Any `n` rows are a right answer; each must be a real row. */
  private def limitOp(i: Int, n: Int): Op =
    Op(s"scan-$i", "limit", Rows, () => {
      val rows = table.select("l_orderkey", "l_linenumber", "l_suppkey").limit(n).collect()
      val bad = rows.find { r =>
        val (a, b) = keyRange(r.getLong(0), r.getLong(0))
        !(a until b).exists(j => items(j).lineNumber == r.getInt(1) && items(j).suppKey == r.getLong(2))
      }
      val dup = rows.map(r => (r.getLong(0), r.getInt(1))).distinct.length != rows.length
      Outcome(rows.length,
        if (rows.length != n) Some(s"limit $n returned ${rows.length} rows")
        else if (dup) Some(s"limit $n returned duplicate rows")
        else bad.map(r => s"limit $n returned a row not in the table: $r"))
    })

  private def statsAgg(i: Int, c: String): Op = {
    val vals: Array[Long] = c match {
      case "l_partkey" => items.map(_.partKey)
      case "l_suppkey" => items.map(_.suppKey)
      case "l_quantity" => items.map(_.quantity)
      case "l_shipday" => items.map(_.shipDay.toLong)
    }
    val want = Seq(s"$Rows|${items.head.orderKey}|${items.last.orderKey}|${vals.min}|${vals.max}")
    Op(s"scan-$i", "stats_agg", Rows, () => {
      val got = render(table.agg(count("*"), min("l_orderkey"), max("l_orderkey"), min(c), max(c))
        .collect().toSeq)
      Outcome(got.size, expectSame(s"count/min/max over $c", got, want))
    })
  }

  private def fullAgg(i: Int, day: Int): Op = {
    val want = byMode.toSeq.flatMap { case (m, ix) =>
      val (n, qty) = ix.from(day)
      if (n == 0) None else Some(s"$m|$n|$qty")
    }.sorted
    Op(s"scan-$i", "full_agg", Rows, () => {
      val got = render(table.filter(col("l_shipday") >= day).groupBy("l_shipmode")
        .agg(count(lit(1)), sum("l_quantity")).collect().toSeq)
      Outcome(got.size, expectSame(s"full aggregate l_shipday >= $day", got, want))
    })
  }
}

object ScanWorkload {
  val Rows = 120000
  val FragmentRows = 1000
  /** A key range spans about 2% of the table. */
  val RangeRows = 2400
  val Pool = 400
  val Mix: Array[String] = Array("point", "range_agg", "point", "stats_agg", "point",
    "limit", "point", "full_agg", "point", "range_agg")
  val StatCols: Array[String] = Array("l_partkey", "l_suppkey", "l_quantity", "l_shipday")

  /** Rows of one ship mode by ship day, with suffix counts and quantity
    * sums: the expected answer of `l_shipday >= d` in O(log n). */
  final case class ShipDayIndex(days: Array[Int], count: Array[Long], qty: Array[Long]) {
    def from(day: Int): (Long, Long) = {
      var a = 0; var b = days.length
      while (a < b) { val m = (a + b) >>> 1; if (days(m) < day) a = m + 1 else b = m }
      (count(a), qty(a))
    }
  }
  object ShipDayIndex {
    def apply(ls: Array[Gen.LineItem]): ShipDayIndex = {
      val sorted = ls.sortBy(_.shipDay)
      val n = sorted.length
      val count = Array.tabulate(n + 1)(j => (n - j).toLong)
      val qty = new Array[Long](n + 1)
      for (j <- n - 1 to 0 by -1) qty(j) = qty(j + 1) + sorted(j).quantity
      ShipDayIndex(sorted.map(_.shipDay), count, qty)
    }
  }
}

package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generator. Every input of every workload comes from one
  * `--seed`: each input kind draws from its own stream (seed + a fixed
  * salt), rows are plain Scala values, and the staged files are written
  * with a fixed text format, so the same seed gives byte-identical files.
  * Expected answers are computed from these in-memory rows, never through
  * the lance path under test.
  */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Write `lines` to `file` with `\n` endings (UTF-8, no header). */
  def writeLines(file: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(file.getParent)
    val w: BufferedWriter = Files.newBufferedWriter(file, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  // ---- lineitem-like table (scan) -----------------------------------------

  final case class LineItem(orderKey: Long, partKey: Long, suppKey: Long,
                            lineNumber: Int, quantity: Long, priceCents: Long,
                            discount: Int, tax: Int, returnFlag: String,
                            lineStatus: String, shipDay: Int, shipMode: String,
                            comment: String)

  val ShipModes: Array[String] = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val LineItemSchema: String =
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity BIGINT, l_price_cents BIGINT, l_discount INT, l_tax INT, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipday INT, l_shipmode STRING, " +
      "l_comment STRING"
  val MinShipDay = 8036 // 1992-01-02
  val ShipDays = 2526

  private val CommentWords = Array("carefully", "final", "deposits", "quickly",
    "ironic", "packages", "regular", "accounts", "furiously", "pending",
    "requests", "slyly", "express", "blithely", "bold", "theodolites")

  /** Orders in ascending key order (keys spaced like TPC-H's sparse
    * orderkeys), 1-7 lines each, until `rows` lines exist. */
  def lineItems(seed: Long, rows: Int): Array[LineItem] = {
    val r = rng(seed, 1)
    val out = new Array[LineItem](rows)
    var i = 0
    var order = 0L
    while (i < rows) {
      order += 1
      val key = order * 4 - r.nextInt(4)
      val lines = 1 + r.nextInt(7)
      var ln = 1
      while (ln <= lines && i < rows) {
        val qty = 1L + r.nextInt(50)
        val day = MinShipDay + r.nextInt(ShipDays)
        val comment = Array.fill(2 + r.nextInt(4))(CommentWords(r.nextInt(CommentWords.length))).mkString(" ")
        out(i) = LineItem(key, 1L + r.nextInt(20000), 1L + r.nextInt(1000), ln,
          qty, qty * (90000L + r.nextInt(10000000)) / 100, r.nextInt(11), r.nextInt(9),
          if (day < MinShipDay + 1200) (if (r.nextBoolean()) "R" else "A") else "N",
          if (day < MinShipDay + 1300) "F" else "O", day,
          ShipModes(r.nextInt(ShipModes.length)), comment)
        i += 1; ln += 1
      }
    }
    out
  }

  def lineItemCsv(l: LineItem): String =
    s"${l.orderKey},${l.partKey},${l.suppKey},${l.lineNumber},${l.quantity}," +
      s"${l.priceCents},${l.discount},${l.tax},${l.returnFlag},${l.lineStatus}," +
      s"${l.shipDay},${l.shipMode},${l.comment}"

  // ---- clustered vectors (vector) -----------------------------------------

  final case class Vec(id: Long, label: Int, v: Array[Double])

  val VecSchema: String = "vec_id BIGINT, label INT, embedding ARRAY<DOUBLE>"
  val Labels = 8

  /** Values on a 1/1024 grid, so the decimal text parses back exactly. */
  private def grid(x: Double): Double = math.rint(x * 1024) / 1024

  final case class VectorSet(corpus: Array[Vec], queries: Array[Vec], appends: Array[Array[Vec]])

  /** `n` corpus vectors around `clusters` centres, plus held-out queries and
    * append batches drawn from the same mixture (ids continue the corpus). */
  def vectors(seed: Long, n: Int, dim: Int, clusters: Int, queries: Int,
              appendBatches: Int, appendSize: Int): VectorSet = {
    val rc = rng(seed, 2)
    val centres = Array.fill(clusters, dim)(rc.nextDouble() * 2 - 1)
    def draw(r: SplittableRandom, id: Long): Vec = {
      val c = centres(r.nextInt(clusters))
      Vec(id, r.nextInt(Labels), Array.tabulate(dim)(d => grid(c(d) + 0.25 * r.nextGaussian())))
    }
    val r1 = rng(seed, 3)
    val corpus = Array.tabulate(n)(i => draw(r1, i + 1L))
    val r2 = rng(seed, 4)
    val qs = Array.tabulate(queries)(i => draw(r2, -(i + 1L)))
    val r3 = rng(seed, 5)
    val apps = Array.tabulate(appendBatches, appendSize)((b, j) => draw(r3, n + 1L + b * appendSize + j))
    VectorSet(corpus, qs, apps)
  }

  def vecJson(v: Vec): String =
    s"""{"vec_id":${v.id},"label":${v.label},"embedding":[${v.v.mkString(",")}]}"""

  // ---- planted-duplicate corpus (curate) ----------------------------------

  final case class Doc(id: Long, source: String, text: String)
  final case class Corpus(docs: Array[Doc], exactPairs: Seq[(Long, Long)], nearPairs: Seq[(Long, Long)])

  val DocSchema: String = "doc_id BIGINT, source STRING, text STRING"
  val Sources: Array[String] = Array("src0", "src1", "src2", "src3", "src4")

  /** `n` base documents of 50-110 words over a skewed synthetic
    * vocabulary, then `planted` exact copies and `planted` near copies
    * (one word replaced) of distinct base documents. */
  def corpus(seed: Long, n: Int, planted: Int): Corpus = {
    val r = rng(seed, 6)
    val vocab = Array.fill(4000) {
      new String(Array.fill(2 + r.nextInt(7))(('a' + r.nextInt(26)).toChar))
    }
    def word(): String = vocab((vocab.length * math.pow(r.nextDouble(), 2)).toInt)
    val base = Array.tabulate(n) { i =>
      Doc(i + 1L, Sources(r.nextInt(Sources.length)), Array.fill(50 + r.nextInt(61))(word()).mkString(" "))
    }
    // distinct originals for the two planted families
    val picks = r.ints(0, n).distinct().limit(2L * planted).toArray
    val exact = (0 until planted).map { j =>
      val o = base(picks(j)); Doc(n + 1L + j, o.source, o.text)
    }
    val near = (0 until planted).map { j =>
      val o = base(picks(planted + j))
      val ws = o.text.split(' ')
      val pos = 3 + r.nextInt(ws.length - 3)
      var w = word()
      while (w == ws(pos)) w = word()
      ws(pos) = w
      Doc(n + 1L + planted + j, o.source, ws.mkString(" "))
    }
    Corpus(base ++ exact ++ near,
      exact.indices.map(j => (base(picks(j)).id, exact(j).id)),
      near.indices.map(j => (base(picks(planted + j)).id, near(j).id)))
  }

  def docCsv(d: Doc): String = s"${d.id},${d.source},${d.text}"

  // ---- event batches (ingest) ---------------------------------------------

  final case class Event(id: Long, user: Long, kind: String, ts: Long, value: Long)

  val EventSchema: String = "event_id BIGINT, user_id BIGINT, event_type STRING, ts BIGINT, value BIGINT"
  val EventKinds: Array[String] = Array("view", "click", "cart", "buy", "share")

  /** One batch per entry of `sizes`; event ids ascend from 1 across batches. */
  def events(seed: Long, sizes: Seq[Int]): Seq[Array[Event]] = {
    val r = rng(seed, 7)
    var next = 1L
    sizes.map { size =>
      Array.fill(size) {
        val e = Event(next, 1L + r.nextInt(5000), EventKinds(r.nextInt(EventKinds.length)),
          1700000000000L + next * 37 + r.nextInt(1000), r.nextInt(100000).toLong)
        next += 1
        e
      }
    }
  }

  def eventCsv(e: Event): String = s"${e.id},${e.user},${e.kind},${e.ts},${e.value}"

  /** Sorted relative paths of every regular file under `dir`. */
  def filesUnder(dir: File): Seq[String] = {
    val base = dir.toPath
    val s = Files.walk(base)
    try {
      val it = s.iterator()
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p)) b += base.relativize(p).toString
      }
      b.result().sorted
    } finally s.close()
  }

  /** SHA-256 over every file's relative path and bytes, in path order. */
  def treeHash(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    filesUnder(dir).foreach { rel =>
      md.update(rel.getBytes(StandardCharsets.UTF_8))
      md.update(Files.readAllBytes(dir.toPath.resolve(rel)))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

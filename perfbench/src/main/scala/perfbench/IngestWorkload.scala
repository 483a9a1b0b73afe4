package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** `ingest`: the write side of the storage layer. A
  * `writeStream.format("lance")` sink (AvailableNow, one staged file per
  * trigger) appends seeded event batches; between them the loop runs
  * catalog `INSERT INTO` appends and, every fifth commit, a row-level
  * `DELETE`. A stats-answered count after each commit checks that it is
  * visible. The build is the base table's CTAS; the run closes with
  * `CALL compact`. */
final class IngestWorkload(spark: SparkSession, seed: Long, dir: File)
    extends Workload(spark, seed, dir) {
  import IngestWorkload._

  private var batches: Seq[Array[Gen.Event]] = _
  private var pool: Array[Op] = _
  private val pending = new File(stage, "pending")
  private val inbox = new File(stage, "stream")
  private val inserts = new File(stage, "inserts")
  private val checkpoint = new File(dir, "checkpoint")
  private val path = tablePath("events")
  /** Live rows committed so far, per the model. */
  private var live = 0L

  private def file(kindDir: File, b: Int) = new File(kindDir, f"batch-$b%04d.csv")

  def setup(): Unit = {
    val kinds = Array.tabulate(PoolOps)(i => Pattern(i % Pattern.length))
    // batch 0 seeds the table; op i (stream or insert) commits batch i + 1
    batches = Gen.events(seed, InitialRows +: kinds.toSeq.map {
      case "stream" => StreamRows
      case "insert" => InsertRows
      case _ => 0
    })
    batches.zipWithIndex.foreach { case (b, i) =>
      val target = if (i == 0) inserts else if (kinds(i - 1) == "stream") pending else inserts
      if (b.nonEmpty) Gen.writeLines(file(target, i).toPath, b.iterator.map(Gen.eventCsv))
    }
    inbox.mkdirs()
    var rows = InitialRows.toLong
    val r = Gen.rng(seed, 30)
    pool = Array.tabulate(PoolOps) { i =>
      val op = kinds(i) match {
        case "stream" => streamOp(i, rows + StreamRows)
        case "insert" => insertOp(i, rows + InsertRows)
        case _ =>
          // delete a seeded id range inside the previous (never deleted) batch
          val prev = batches(i)
          val from = r.nextInt(prev.length - DeleteRows)
          deleteOp(i, prev(from).id, prev(from + DeleteRows - 1).id, rows - DeleteRows)
      }
      rows += (kinds(i) match {
        case "stream" => StreamRows
        case "insert" => InsertRows
        case _ => -DeleteRows
      })
      op
    }
  }

  private def countIs(want: Long): Option[String] = {
    live = want
    expectCount("visible rows after commit", lance("events").count(), want)
  }

  /** The base table every commit of the loop appends to. */
  def build(): Op = Op("build", "build.table", InitialRows, () => {
    csv(Gen.EventSchema, file(inserts, 0)).createOrReplaceTempView("events_initial")
    sql("CREATE NAMESPACE IF NOT EXISTS graft_lance.bench")
    sql("CREATE TABLE graft_lance.bench.events AS SELECT * FROM events_initial")
    Outcome(0, countIs(InitialRows))
  })

  def ops(): Iterator[Op] = pool.iterator
  def cycle: Int = Pattern.length

  /** Compaction folds the loop's small fragments (and deletes) away. */
  override def closing(): Option[Op] = Some(Op("compact", "compact", live, () => {
    val before = live
    val r = sql("CALL graft_lance.system.compact(table => 'bench.events', " +
      "smaller_than_rows => 100000, target_rows => 1000000)").collect().head
    Outcome(1, expectCount("rows after compaction", lance("events").count(), before)
      .orElse(if (r.getInt(2) >= r.getInt(1)) Some(s"compaction left ${r.getInt(2)} of ${r.getInt(1)} fragments")
              else None))
  }))

  def tables: Seq[File] = Seq(new File(path))
  def liveRows: Long = live

  // ---- operations ---------------------------------------------------------

  private def streamOp(i: Int, rowsAfter: Long): Op = Op(s"ingest-$i", "stream_append", StreamRows, () => {
    Files.move(file(pending, i + 1).toPath, file(inbox, i + 1).toPath, StandardCopyOption.ATOMIC_MOVE)
    val q = spark.readStream.schema(Gen.EventSchema).option("maxFilesPerTrigger", "1")
      .csv(inbox.getPath)
      .writeStream.format("lance")
      .option("checkpointLocation", checkpoint.getPath)
      .trigger(Trigger.AvailableNow())
      .start(path)
    q.awaitTermination()
    Outcome(0, q.exception.map(e => s"stream batch ${i + 1}: ${e.getMessage}").orElse(countIs(rowsAfter)))
  })

  private def insertOp(i: Int, rowsAfter: Long): Op = Op(s"ingest-$i", "insert", InsertRows, () => {
    csv(Gen.EventSchema, file(inserts, i + 1)).createOrReplaceTempView("events_batch")
    sql("INSERT INTO graft_lance.bench.events SELECT * FROM events_batch")
    Outcome(0, countIs(rowsAfter))
  })

  private def deleteOp(i: Int, lo: Long, hi: Long, rowsAfter: Long): Op =
    Op(s"ingest-$i", "delete", DeleteRows, () => {
      sql(s"DELETE FROM graft_lance.bench.events WHERE event_id BETWEEN $lo AND $hi")
      Outcome(0, countIs(rowsAfter))
    })
}

object IngestWorkload {
  val InitialRows = 20000
  val StreamRows = 2000
  val InsertRows = 1000
  val DeleteRows = 200
  val Pattern: Array[String] = Array("stream", "insert", "stream", "insert", "delete")
  val PoolOps = 200
}

package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.File

/** One benchmark workload over one set-up directory.
  *
  * Life cycle: [[setup]] generates every input from the seed, stages it as
  * files and computes the expected answers (no graft code runs here);
  * [[build]] writes the one-off lance structure the workload serves from
  * (a table or a vector index); [[ops]] is the closed loop's operation
  * stream, each operation checking its own answer.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val dir: File) {
  def setup(): Unit
  def build(): Op
  def ops(): Iterator[Op]
  /** Maintenance run once after the loop (checked, untimed). */
  def closing(): Option[Op] = None
  /** Length of the repeating operation mix; the loop measures whole cycles. */
  def cycle: Int
  /** How many leading operations of [[ops]] run untimed, to warm the JVM
    * up on every operation kind (checked and counted like the rest): the
    * first cycle unless the workload puts a shorter warm-up in front. */
  def warmup: Int = cycle
  /** Fewest whole cycles the loop measures, however slow the host. */
  def minCycles: Int = Loop.MinCycles

  /** Lance tables the workload writes (traced for write bytes/files). */
  def tables: Seq[File]
  /** Tables whose on-disk bytes count toward `bytes_per_row`. */
  def sizedTables: Seq[File] = tables
  /** Live rows in [[sizedTables]] after the run, from the workload's own model. */
  def liveRows: Long
  /** Answer quality of the run (1.0 for workloads with exact answers). */
  def recall: Double = 1.0
  /** Workload-specific per-layer figures. */
  def layerExtras: Map[String, Double] = Map.empty

  val warehouse: File = new File(dir, "warehouse")
  val stage: File = new File(dir, "stage")
  def tablePath(name: String): String = new File(warehouse, s"bench/$name").getPath

  protected def sql(q: String): DataFrame = spark.sql(q)

  protected def csv(schema: String, path: File): DataFrame =
    spark.read.schema(schema).csv(path.getPath)

  protected def lance(name: String): DataFrame = spark.read.format("lance").load(tablePath(name))

  /** Row rendering used to compare results with expected answers. */
  protected def render(rows: Seq[Row]): Seq[String] = rows.map(_.mkString("|")).sorted

  protected def expectSame(what: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else Some(s"$what: got ${got.take(3).mkString("[", "; ", "]")} (${got.size} rows), " +
      s"want ${want.take(3).mkString("[", "; ", "]")} (${want.size} rows)")

  protected def expectCount(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}

object Workload {
  val Names: Seq[String] = Seq("scan", "ingest", "vector", "curate")

  def apply(name: String, spark: SparkSession, seed: Long, dir: File): Workload = name match {
    case "scan" => new ScanWorkload(spark, seed, dir)
    case "ingest" => new IngestWorkload(spark, seed, dir)
    case "vector" => new VectorWorkload(spark, seed, dir)
    case "curate" => new CurateWorkload(spark, seed, dir)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected ${Names.mkString(", ")})")
  }
}

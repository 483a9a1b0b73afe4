package perfbench

import graft.operators.IndexBuild
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import java.io.File
import scala.collection.mutable

/** `vector`: one IVF_PQ build (default quantizer settings, 64 cells) over
  * a seeded clustered 64-dim corpus with a label column, then top-10
  * queries with held-out query vectors — partial probes, refine_factor
  * re-ranking and a label filter — with a small index append every
  * tenth operation. Expected answers are the exact top-10 by brute
  * force in the harness over the corpus plus every batch appended before
  * the query. */
final class VectorWorkload(spark: SparkSession, seed: Long, dir: File)
    extends Workload(spark, seed, dir) {
  import VectorWorkload._
  import Gen.Vec

  private var set: Gen.VectorSet = _
  private var pool: Array[Op] = _
  private var index: IndexBuild.BuiltIndex = _
  private val staged = new File(stage, "corpus.jsonl")
  private val path = tablePath("vectors")
  private var appended = 0
  private val recalls = mutable.ArrayBuffer[Double]()

  private lazy val schema = StructType.fromDDL(Gen.VecSchema)
  private lazy val byId: Map[Long, Vec] =
    (set.corpus.iterator ++ set.appends.iterator.flatten).map(v => v.id -> v).toMap

  def setup(): Unit = {
    set = Gen.vectors(seed, Corpus, Dim, Clusters, Queries, AppendBatches, AppendSize)
    Gen.writeLines(staged.toPath, set.corpus.iterator.map(Gen.vecJson))
    // op i follows Mix; query vectors are taken in order
    var live = set.corpus.toVector
    var q = 0
    var b = 0
    val ops = Array.newBuilder[Op]
    for (i <- 0 until PoolOps) Mix(i % Mix.length) match {
      case "append" =>
        ops += append(i, b, live.size + AppendSize)
        live = live ++ set.appends(b)
        b += 1
      case kind =>
        ops += query(i, set.queries(q % Queries), QueryKinds(kind), live)
        q += 1
    }
    pool = ops.result()
  }

  def build(): Op = Op("build", "index.build", Corpus, () => {
    val corpus = spark.read.schema(schema).json(staged.getPath)
    index = IndexBuild.build(spark, corpus, path, Map(
      "index.type" -> "IVF_PQ", "index.column" -> "embedding",
      "index.num-partitions" -> Cells.toString))
    Outcome(0, expectCount("indexed rows", spark.read.format("lance").load(path).count(), Corpus))
  })

  def ops(): Iterator[Op] = pool.iterator
  def cycle: Int = Mix.length
  /** Three cycles give 30 samples, so `op_tail_ms` is never the median. */
  override def minCycles: Int = 3

  def tables: Seq[File] = Seq(new File(path))
  def liveRows: Long = Corpus + appended.toLong * AppendSize
  override def recall: Double = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size

  // ---- operations ---------------------------------------------------------

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var d = 0
    while (d < a.length) { val x = a(d) - b(d); s += x * x; d += 1 }
    math.sqrt(s)
  }

  private def query(i: Int, q: Vec, kind: QueryKind, live: Vector[Vec]): Op = {
    val eligible = if (kind.filtered) live.filter(_.label == q.label) else live
    val exact = eligible.map(v => (l2(v.v, q.v), v.id)).sortBy(identity).take(K)
    val exactIds = exact.map(_._2).toSet
    val maxId = live.size.toLong // ids are 1..live.size
    val opts = Map("vector.k" -> K.toString, "vector.nprobes" -> kind.nprobes.toString) ++
      kind.refine.map(r => "vector.refine-factor" -> r.toString)
    Op(s"vector-$i", kind.name, live.size, () => {
      val pred = if (kind.filtered) Some(col("label") === q.label) else None
      val rows = IndexBuild.search(spark, index, q.v, opts, pred = pred).collect()
      val ids = rows.map(_.getLong(0))
      val dists = rows.map(r => r.getDouble(1))
      recalls += ids.count(exactIds).toDouble / exact.size
      val unknown = ids.find(id => id < 1 || id > maxId)
      val error =
        if (rows.length != math.min(K, eligible.size)) Some(s"got ${rows.length} rows, want ${math.min(K, eligible.size)}")
        else if (ids.distinct.length != ids.length) Some("duplicate ids")
        else if (unknown.isDefined) Some(s"unknown id ${unknown.get}")
        else if (kind.filtered && ids.exists(id => byId(id).label != q.label))
          Some(s"label filter ${q.label} not respected")
        else if (dists.toSeq != dists.toSeq.sorted) Some("distances not ascending")
        else if (kind.refine.isDefined && rows.exists(r =>
          math.abs(r.getDouble(1) - l2(byId(r.getLong(0)).v, q.v)) > 1e-5))
          Some("re-ranked distance differs from exact L2")
        else None
      Outcome(rows.length, error.map(e => s"query ${-q.id} (${kind.name}): $e"))
    })
  }

  private def append(i: Int, b: Int, rowsAfter: Long): Op = {
    val batch = set.appends(b)
    Op(s"vector-$i", "append", AppendSize, () => {
      val df: DataFrame = spark.createDataFrame(
        java.util.Arrays.asList(batch.map(v => Row(v.id, v.label, v.v.toSeq)): _*), schema)
      IndexBuild.append(spark, df, index)
      appended += 1
      Outcome(0, expectCount(s"rows after append batch $b",
        spark.read.format("lance").load(path).count(), rowsAfter))
    })
  }
}

object VectorWorkload {
  val Corpus = 1000
  val Dim = 64
  val Clusters = 16
  val Cells = 64
  val K = 10
  val Queries = 200
  val AppendSize = 20
  val PoolOps = 400
  /** One append per ten operations. Six of the ten are `nprobes` 8
    * queries, ranked between the one cheaper kind (`nprobes` 4) and the
    * three dearer ones (refine, label filter, append), so the median
    * latency falls well inside that one group rather than on the edge
    * between two kinds. */
  val Mix: Array[String] = Array("search_probe8", "search_probe4", "search_probe8",
    "search_refine", "search_probe8", "search_probe8", "search_label", "search_probe8",
    "search_probe8", "append")
  val AppendBatches: Int = PoolOps / Mix.length

  final case class QueryKind(name: String, nprobes: Int, refine: Option[Int], filtered: Boolean)
  val QueryKinds: Map[String, QueryKind] = Seq(
    QueryKind("search_probe8", 8, None, filtered = false),
    QueryKind("search_probe4", 4, None, filtered = false),
    QueryKind("search_refine", 16, Some(4), filtered = false),
    QueryKind("search_label", 16, Some(2), filtered = true)).map(k => k.name -> k).toMap
}

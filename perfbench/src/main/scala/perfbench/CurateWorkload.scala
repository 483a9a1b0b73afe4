package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable

/** `curate`: the LLM-data pipeline through the catalog's stored
  * procedures — `CALL score` (quality, langid), `CALL dedup` (exact and
  * pairs) and `CALL sample` (temperature) — over a seeded corpus with
  * planted exact and near duplicates. Few, long, shuffle-heavy jobs with
  * per-row hashing and tokenizer kernels. */
final class CurateWorkload(spark: SparkSession, seed: Long, dir: File)
    extends Workload(spark, seed, dir) {
  import CurateWorkload._

  private var corpus: Gen.Corpus = _
  private var pool: Array[Op] = _
  private var warm: Array[Op] = _
  private val staged = new File(stage, "docs.csv")
  private val recalls = mutable.ArrayBuffer[Double]()
  private var pairsFound = 0L

  private def nDocs: Long = corpus.docs.length.toLong

  def setup(): Unit = {
    corpus = Gen.corpus(seed, BaseDocs, Planted)
    Gen.writeLines(staged.toPath, corpus.docs.iterator.map(Gen.docCsv))
    val tokens = corpus.docs.map(d => d.id -> d.text.split(' ').length.toLong).toMap
    val sourceTotals = corpus.docs.groupBy(_.source).map { case (s, ds) => s -> ds.map(d => tokens(d.id)).sum }
    val r = Gen.rng(seed, 20)
    def op(i: Int, kind: String): Op = kind match {
      case "score" => score(i)
      case "dedup_exact" => dedupExact(i)
      case "dedup_pairs" => dedupPairs(i)
      case _ => sample(i, 20000L + r.nextInt(40000), tokens, sourceTotals)
    }
    pool = Array.tabulate(Pool)(i => op(i, Mix(i % Mix.length)))
    warm = Mix.distinct.zipWithIndex.map { case (kind, k) => op(Pool + k, kind) }
  }

  def build(): Op = Op("build", "build.table", BaseDocs + 2L * Planted, () => {
    csv(Gen.DocSchema, staged).createOrReplaceTempView("staged_docs")
    sql("CREATE NAMESPACE IF NOT EXISTS graft_lance.bench")
    sql("CREATE TABLE graft_lance.bench.docs AS SELECT * FROM staged_docs")
    Outcome(0, expectCount("corpus rows", lance("docs").count(), nDocs))
  })

  /** One call of each kind, then the pool, which repeats once exhausted:
    * every call reads the same corpus. */
  def ops(): Iterator[Op] = warm.iterator ++ Iterator.continually(pool.iterator).flatten
  def cycle: Int = Mix.length
  /** One call of each kind warms every path up; a whole cycle would add
    * eight more short calls, about 3 s, to every run. */
  override def warmup: Int = warm.length

  def tables: Seq[File] = Seq("docs", "docs_scored", "docs_exact").map(t => new File(tablePath(t)))
  /** Bytes per row of the corpus table only (outputs are rewritten per call). */
  override def sizedTables: Seq[File] = Seq(new File(tablePath("docs")))
  def liveRows: Long = nDocs
  override def recall: Double = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
  override def layerExtras: Map[String, Double] = Map("curate.pairs_found" -> pairsFound.toDouble)

  // ---- operations ---------------------------------------------------------

  private def score(i: Int): Op = Op(s"curate-$i", "score", nDocs, () => {
    val r = sql("CALL graft_lance.system.score(table => 'bench.docs', " +
      "metrics => 'quality,langid', output_table => 'bench.docs_scored')").collect()
    Outcome(r.length, expectCount("scored rows", r.head.getLong(1), nDocs))
  })

  private def dedupExact(i: Int): Op = Op(s"curate-$i", "dedup_exact", nDocs, () => {
    val r = sql("CALL graft_lance.system.dedup(table => 'bench.docs', method => 'exact', " +
      "output_table => 'bench.docs_exact')").collect().head
    Outcome(1, expectCount("documents in", r.getLong(1), nDocs)
      .orElse(expectCount("exact duplicates dropped", r.getLong(2), Planted)))
  })

  private def dedupPairs(i: Int): Op = Op(s"curate-$i", "dedup_pairs", nDocs, () => {
    val rows = sql("CALL graft_lance.system.dedup(table => 'bench.docs', method => 'pairs')").collect()
    val found = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = corpus.nearPairs.toSet
    val allowed = planted ++ corpus.exactPairs
    val stray = found.find(p => !allowed(p))
    recalls += (found & planted).size.toDouble / planted.size
    pairsFound += found.size
    Outcome(rows.length, stray.map(p => s"pair $p is not a planted duplicate")
      .orElse(if (rows.exists(_.getDouble(2) < 0.8)) Some("pair below the 0.8 Jaccard threshold") else None))
  })

  /** Temperature sampling: per-source budgets are round(sqrt(tokens))
    * shares of `budget`; each source's selection is a running-sum prefix
    * of its documents that stays within its budget and fills it to within
    * one document. */
  private def sample(i: Int, budget: Long, tokens: Map[Long, Long],
                     sourceTotals: Map[String, Long]): Op = {
    val roots = sourceTotals.map { case (s, t) => s -> math.round(math.sqrt(t.toDouble)) }
    val rSum = roots.values.sum
    val budgets = roots.map { case (s, r) => s -> r * budget / rSum }
    val maxDoc = tokens.values.max
    Op(s"curate-$i", "sample", nDocs, () => {
      val rows = sql("CALL graft_lance.system.sample(table => 'bench.docs', " +
        s"method => 'temperature', budget => $budget)").collect()
      val bySource = rows.groupBy(_.getString(0))
      val error = Gen.Sources.iterator.flatMap { s =>
        val sel = bySource.getOrElse(s, Array.empty).sortBy(_.getLong(3))
        val picked = sel.map(r => tokens.getOrElse(r.getLong(1), -1L))
        val cum = picked.scanLeft(0L)(_ + _).tail
        val want = budgets.getOrElse(s, 0L)
        if (sel.exists(_.getLong(4) != want)) Some(s"$s budget differs from $want")
        else if (!sel.map(_.getLong(2)).sameElements(picked)) Some(s"$s token counts differ")
        else if (!sel.map(_.getLong(3)).sameElements(cum)) Some(s"$s running sums differ")
        else if (cum.lastOption.exists(_ > want)) Some(s"$s exceeds its budget $want")
        else if (cum.lastOption.getOrElse(0L) < math.min(want, sourceTotals(s)) - maxDoc)
          Some(s"$s selection stops short of its budget $want")
        else None
      }.nextOption()
      Outcome(rows.length, error.map(e => s"temperature sample budget $budget: $e"))
    })
  }
}

object CurateWorkload {
  val BaseDocs = 1500
  val Planted = 30
  /** The short calls (score, exact dedup) make ten of the twelve, so the
    * median and the tail both fall inside that group, and two cycles give
    * the tail 24 samples. The long calls (sample about 1 s, pairs about
    * 3.5 s) run once a cycle. */
  val Mix: Array[String] = Array("score", "dedup_exact", "score", "dedup_exact", "sample",
    "score", "dedup_exact", "score", "dedup_exact", "dedup_pairs", "score", "dedup_exact")
  val Pool: Int = 32 * Mix.length
}

package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM:
  *
  * {{{
  *   perfbench.Main --workload scan --seed 1 --seconds 10 --trace 0 \
  *     --work <run dir> --out <trace dir>
  * }}}
  *
  * Sets up [[Setups]] times (each a fresh Spark session plus the
  * workload's inputs and expected answers; `setup_s` is their median),
  * warms the lance path up on a ten-row table, runs the one-off build and
  * the workload's untimed warm-up operations, then the closed loop for
  * `--seconds` (rounded up to whole cycles of the workload's operation
  * mix, and to at least its `minCycles`), then the workload's closing
  * maintenance, if any. Prints human-readable figures on stderr and, on
  * stdout, one line `PERFBENCH_RESULT {json}` with the end-to-end metrics
  * (`--trace 0`) or the per-layer metrics (`--trace 1`).
  */
object Main {
  val Setups = 5
  val ResultTag = "PERFBENCH_RESULT "

  /** (name, unit) of the end-to-end metrics, in report order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "build_s" -> "s", "ops_per_s" -> "op/s", "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms", "rows_per_s" -> "rows/s", "recall" -> "ratio",
    "bytes_per_row" -> "B/row")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, out: File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("out")))
  }

  def session(dir: File): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "spark-warehouse").getPath)
      .config("spark.sql.catalog.graft_lance", "graft.sources.lance.LanceCatalog")
      .config("spark.sql.catalog.graft_lance.warehouse", "file:" + new File(dir, "warehouse").getPath)
      .getOrCreate()
  }

  def dirBytes(roots: Seq[File]): Long = Tracer.fileSizes(roots).values.sum

  /** Write and read back a ten-row lance table, untimed, so the build
    * does not pay the lance path's class loading. */
  def warmLance(spark: SparkSession, dir: File): Unit = {
    spark.range(10).write.format("lance").save(dir.getPath)
    spark.read.format("lance").load(dir.getPath).collect()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val report = (msg: String) => System.err.println(s"$msg seed=${a.seed}")

    // ---- set-up, several times; the last one is kept -----------------------
    val setupS = Seq.newBuilder[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    for (k <- 1 to Setups) {
      if (spark != null) { spark.stop(); deleteTree(wl.dir) }
      val t0 = System.nanoTime()
      val dir = new File(a.work, s"setup-$k")
      spark = session(dir)
      spark.sparkContext.setLogLevel("WARN")
      wl = Workload(a.workload, spark, a.seed, dir)
      wl.setup()
      val s = (System.nanoTime() - t0) / 1e9
      setupS += s
      System.err.println(f"[perfbench] set-up $k: $s%.2f s")
    }

    // ---- build and closed loop ----------------------------------------------
    val tracer = if (a.trace) Some(new Tracer(spark, () => wl.tables)) else None
    val hooks: OpHooks = tracer.getOrElse(NoHooks)
    warmLance(spark, new File(wl.dir, "warm"))
    resetHeapPeaks()
    val build = Loop.once(wl.build(), hooks, report)
    System.err.println(f"[perfbench] build: ${build.ms / 1000}%.2f s")
    val ops = if (build.ok) wl.ops() else Iterator.empty[Op]
    val warm = (1 to wl.warmup).iterator.takeWhile(_ => ops.hasNext)
      .map(_ => Loop.once(ops.next(), NoHooks, report)).toList
    val t0 = System.nanoTime()
    val results = Loop.run(ops, a.seconds, hooks, report, wl.cycle, wl.minCycles)
    val loopS = (System.nanoTime() - t0) / 1e9
    val closing = if (build.ok) wl.closing().map(Loop.once(_, hooks, report)) else None
    val heapPeakMb = heapPeakBytes() / 1048576.0

    val checked = build +: (warm ++ results ++ closing)
    val attempted = checked.size
    val failed = checked.count(!_.ok)
    val ok = results.filter(_.ok)
    val lat = ok.map(_.ms)
    val tail = if (lat.isEmpty) Stats.Tail(0, 0, 0, 0) else Stats.tail(lat)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS.result()),
      "build_s" -> build.ms / 1000,
      "ops_per_s" -> ok.size / loopS,
      "op_p50_ms" -> (if (lat.isEmpty) 0.0 else Stats.median(lat)),
      "op_tail_ms" -> tail.value,
      "rows_per_s" -> ok.map(_.rows).sum / loopS,
      "recall" -> wl.recall,
      "bytes_per_row" -> dirBytes(wl.sizedTables).toDouble / math.max(1L, wl.liveRows))

    System.err.println(f"[perfbench] ${a.workload} seed=${a.seed}: ${results.size} ops in $loopS%.2f s, " +
      f"failed_frac=${failed.toDouble / attempted}%.4f ($failed of $attempted)")
    System.err.println(f"[perfbench] op_tail_ms is p${tail.pct}%s of ${tail.n} samples " +
      s"(${tail.beyond} beyond it)")
    results.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      System.err.println(f"[perfbench]   $k%-16s n=${rs.size}%4d p50=${Stats.median(rs.map(_.ms))}%9.2f ms")
    }

    spark.stop()
    val metrics: Seq[(String, String, Double)] = tracer match {
      case None => EndToEnd.map { case (n, u) => (n, u, e2e(n)) }
      case Some(t) =>
        t.write(new File(a.out, s"${a.workload}-seed${a.seed}.spans.jsonl"))
        val extras = wl.layerExtras ++ Map(
          "jvm.heap_peak_mb" -> heapPeakMb,
          "harness.tmp_left_mb" -> graftTmpBytes() / 1048576.0)
        val layer = Layers.metrics(t.spans.toSeq, t.untraced.toSeq, extras)
        Layers.Metrics.map { case (n, u) => (n, u, layer(n)) }
    }
    metrics.foreach { case (n, u, v) => System.err.println(f"[perfbench] $n%-34s $v%14.4f $u") }
    val body = metrics.map { case (n, u, v) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    println(ResultTag + s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":${body.mkString("{", ",", "}")}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  private def heapPeakBytes(): Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** Bytes left in `graft-*` staging directories under this JVM's temp
    * directory (private to the run, so every one was made by this run). */
  private def graftTmpBytes(): Long = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    dirBytes(Option(tmp.listFiles).toSeq.flatten.filter(f => f.isDirectory && f.getName.startsWith("graft-")))
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

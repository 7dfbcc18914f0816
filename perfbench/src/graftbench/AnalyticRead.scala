package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.AnnIndex
import graft.sources.TxLogTable

/** `analytic_read`: read-only queries with zero commits. Set-up loads the
  * star schema into transaction-log tables behind the SQL catalog —
  * lineitem range-clustered by `l_shipdate` into 8 files — and a seeded
  * clustered vector corpus with an IVF index. The loop
  * mixes selective lookups (point lookups on `l_orderkey`, one-week
  * `l_shipdate` ranges), full-scan star joins shaped like TPC-H q5/q10,
  * and batched ANN top-10 searches.
  *
  * The check re-runs every timed query over the raw parquet and compares
  * result digests; ANN recall is measured against an exact top-10.
  */
final class AnalyticRead(spark: SparkSession, rec: Recorder, seed: Long,
                         data: String, catalogDir: Path) extends Main.Workload {
  import AnalyticRead._

  private val rnd = new scala.util.Random(seed)
  private var dir: Path = _
  private var ns: String = _
  private var setups = 0
  private var orderKeys: Array[Long] = _
  private var shipLo: java.time.LocalDateTime = _
  private var shipDays = 0
  private var liFiles = 0
  private var indexRoot: String = _
  private var vectors: Array[Array[Float]] = _
  // every timed query's result digest, keyed by its text over the raw
  // parquet, re-checked there once per distinct text
  private val verify = mutable.LinkedHashMap.empty[String, mutable.Set[String]]
  private var recallHits = 0L
  private var recallTotal = 0L

  private val Tables = Seq("lineitem", "orders", "customer", "supplier",
    "nation", "region")

  def setup(d: Path): Unit = {
    setups += 1
    if (dir != null) {
      Main.deleteTree(dir)
      Main.deleteTree(catDir)
    }
    dir = d
    ns = s"tpch$setups"
    verify.clear(); recallHits = 0; recallTotal = 0
    Tables.foreach { t =>
      val df = spark.read.parquet(s"$data/$t.parquet")
      val table = TxLogTable(spark, catDir.resolve(t).toString)
      t match {
        case "lineitem" =>
          table.commit(df.repartitionByRange(8, col("l_shipdate"))
            .sortWithinPartitions("l_shipdate"), overwrite = true)
        case "orders" =>
          table.commit(df.repartitionByRange(4, col("o_orderkey")),
            overwrite = true)
        case _ => table.commit(df.coalesce(1), overwrite = true)
      }
      spark.read.parquet(s"$data/$t.parquet").createOrReplaceTempView(s"raw_$t")
    }
    liFiles = TxLogTable(spark, catDir.resolve("lineitem").toString).fileCount()
    if (orderKeys == null) {
      orderKeys = spark.table("raw_orders").select("o_orderkey").collect()
        .map(_.getLong(0))
      val r = spark.table("raw_lineitem")
        .agg(min("l_shipdate"), max("l_shipdate")).collect()(0)
      val lo = r.getAs[java.time.LocalDateTime](0)
      shipLo = lo.toLocalDate.atStartOfDay()
      shipDays = java.time.temporal.ChronoUnit.DAYS.between(lo,
        r.getAs[java.time.LocalDateTime](1)).toInt - 7
    }
    // the seeded corpus: clustered unit-ish vectors, so IVF routing that
    // probes 2 of 32 cells skips most of it and still finds the neighbours
    val vr = new scala.util.Random(seed * 31 + 7)
    val centers = Array.fill(Cells, Dim)(vr.nextGaussian().toFloat)
    vectors = Array.tabulate(CorpusRows) { i =>
      val c = centers(i % Cells)
      Array.tabulate(Dim)(j => c(j) + 0.35f * vr.nextGaussian().toFloat)
    }
    val corpusRoot = d.resolve("corpus").toString
    indexRoot = d.resolve("ivf").toString
    val rows = vectors.indices.map(i =>
      Row(i.toLong, vectors(i).toSeq, i % Cells))
    TxLogTable(spark, corpusRoot).commit(
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), CorpusSchema)
        .repartition(4), overwrite = true)
    AnnIndex.build(spark, corpusRoot, indexRoot, CorpusSchema, k = Cells,
      iterations = 2, pq = false)
  }

  // one whole untimed cycle: every query shape runs once before timing
  override def warmup(): Unit =
    Cycle.foreach(k => perform(k, traceThis = false, timed = false))

  // the `tx` catalog's warehouse: table `tx.<ns>.<t>` lives at catDir/<t>
  private def catDir: Path = catalogDir.resolve(ns)

  private def tbl(t: String) = s"tx.$ns.$t"

  def run(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var cycle = 0
    while (cycle < MinCycles || (System.nanoTime() - t0) / 1e9 < seconds) {
      Cycle.foreach(k => perform(k, traceThis = cycle % 2 == 1, timed = true))
      cycle += 1
    }
    rec.extra("recall_hits") = recallHits.toDouble
    rec.extra("recall_total") = recallTotal.toDouble
  }

  private def ts(t: java.time.LocalDateTime) =
    t.toString.replace('T', ' ') + (if (t.getSecond == 0) ":00" else "")

  /** Query text over `t(name)` table references, so the same query runs
    * over the catalog tables and over the raw parquet views. */
  private def query(kind: String): (String => String) => String = kind match {
    case "point" =>
      val k = orderKeys(rnd.nextInt(orderKeys.length))
      t => s"SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, " +
        s"l_shipdate FROM ${t("lineitem")} WHERE l_orderkey = $k"
    case "range" =>
      val lo = shipLo.plusDays(rnd.nextInt(shipDays).toLong)
      val hi = lo.plusDays(7)
      t => s"SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate " +
        s"FROM ${t("lineitem")} WHERE l_shipdate >= TIMESTAMP_NTZ '${ts(lo)}' " +
        s"AND l_shipdate < TIMESTAMP_NTZ '${ts(hi)}'"
    case "q5" =>
      val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(rnd.nextInt(5))
      val year = 1993 + rnd.nextInt(5)
      t => s"""SELECT n_name,
        |  sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS revenue
        |FROM ${t("customer")} JOIN ${t("orders")} ON c_custkey = o_custkey
        |JOIN ${t("lineitem")} ON l_orderkey = o_orderkey
        |JOIN ${t("supplier")} ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN ${t("nation")} ON s_nationkey = n_nationkey
        |JOIN ${t("region")} ON n_regionkey = r_regionkey
        |WHERE r_name = '$region' AND o_orderdate >= TIMESTAMP_NTZ '$year-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP_NTZ '${year + 1}-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin
    case "q10" =>
      val year = 1993 + rnd.nextInt(5)
      val month = 1 + 3 * rnd.nextInt(4)
      val from = f"$year-$month%02d-01 00:00:00"
      t => s"""SELECT c_custkey, c_name, n_name,
        |  sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS revenue
        |FROM ${t("customer")} JOIN ${t("orders")} ON c_custkey = o_custkey
        |JOIN ${t("lineitem")} ON l_orderkey = o_orderkey
        |JOIN ${t("nation")} ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP_NTZ '$from'
        |  AND o_orderdate < TIMESTAMP_NTZ '$from' + INTERVAL 3 MONTHS
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin
  }

  private def perform(kind: String, traceThis: Boolean, timed: Boolean): Unit =
    kind match {
      case "ann" =>
        val ids = Seq.fill(AnnBatch)(rnd.nextInt(CorpusRows).toLong).distinct
        val res = timedOp("ann", traceThis, timed)(
          rec.span[Array[Row]]("operators.ann_search")(
            AnnIndex.searchIvfBatch(spark, indexRoot, ids, topK = 10,
              nprobe = 2).select("q_id", "vec_id").collect()))
        res.foreach { rows =>
          val got = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
            q -> rs.map(_.getLong(1)).toSet }
          ids.foreach { q =>
            val exact = exactTop10(q.toInt)
            recallHits += (got.getOrElse(q, Set.empty[Long]) intersect exact).size
            recallTotal += exact.size
          }
        }
      case _ =>
        val sql = query(kind)
        val text = sql(tbl)
        val cls = if (kind == "point" || kind == "range") "lookup" else "scan_agg"
        val res = timedOp(cls, traceThis, timed) {
          val df = spark.sql(text)
          if (cls == "lookup")
            rec.span[Array[Row]]("sources.scan", rows => scanAttrs(df, rows.length))(
              df.collect())
          else df.collect()
        }
        if (timed)
          res.foreach(rows => verify.getOrElseUpdate(sql(t => s"raw_$t"),
            mutable.Set.empty[String]) += Main.digest(rows.toSeq))
    }

  private def timedOp[A](cls: String, traceThis: Boolean, timed: Boolean)(
      body: => A): Option[A] =
    if (timed) rec.op(cls, traceThis)(body) else Some(body)

  /** Scan-node metrics of an executed lookup plus its planning phases. */
  private def scanAttrs(df: DataFrame, rowsOut: Int): Map[String, Any] = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    val qe = df.queryExecution
    val ss = scans(qe.executedPlan)
    def metric(n: String) = ss.flatMap(_.metrics.get(n)).map(_.value).sum
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs).getOrElse(0L)
    Map("files_read" -> metric("numFiles"), "files_total" -> liFiles,
      "bytes_read" -> metric("filesSize"), "rows_read" -> metric("numOutputRows"),
      "rows_out" -> rowsOut, "analysis_ms" -> phase("analysis"),
      "optimize_ms" -> phase("optimization"), "physical_ms" -> phase("planning"))
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  private def exactTop10(q: Int): Set[Long] =
    vectors.indices.map(i => (cosine(vectors(q), vectors(i)), i))
      .sortBy { case (c, i) => (-c, i) }.take(10).map(_._2.toLong).toSet

  def check(): Unit = {
    verify.zipWithIndex.foreach { case ((text, seen), i) =>
      val want = Main.digest(spark.sql(text).collect().toSeq)
      rec.check(s"read.query.$i", seen == Set(want),
        s"result digests over the tables ${seen.mkString(",")}, over the " +
          s"raw parquet $want, for: $text")
    }
    val recall = if (recallTotal == 0) 0.0 else recallHits.toDouble / recallTotal
    rec.check("read.ann_recall", recall >= MinRecall,
      f"ANN recall@10 $recall%.4f below the floor $MinRecall")
  }

  override def finish(): Unit = if (dir != null) {
    Main.deleteTree(dir)
    Main.deleteTree(catDir)
  }
}

object AnalyticRead {
  /** One cycle of the closed loop: six lookups, two star aggregates, two
    * ANN batches. */
  val Cycle: Seq[String] = Seq("point", "range", "point", "q5", "ann",
    "range", "point", "range", "q10", "ann")
  /** Cycles every run makes, however slow the host. Each cycle runs
    * faster than the one before it as the JIT catches up, so the loop's
    * mean moves with the cycle count; a fixed floor keeps the count from
    * flipping with the host's speed. */
  val MinCycles = 3
  val CorpusRows = 12000
  val Dim = 32
  val Cells = 32
  val AnnBatch = 16
  val MinRecall = 0.9
  val CorpusSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))
}

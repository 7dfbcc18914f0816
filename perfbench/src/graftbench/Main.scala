package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark run: set up a workload several times (the set-up time is
  * a metric), run its closed loop — one client, each operation waits for
  * the previous one — for the given seconds, check the outputs outside the
  * timed region, and write the raw record for `perfbench/run.py`.
  *
  * {{{
  *   Main --workload W --seed N --seconds S --trace 0|1
  *        --data <tpch parquet dir> --tmp <scratch dir> --out <record.json>
  * }}}
  */
object Main {

  /** A workload: `setup` builds its state in a fresh directory (timed, and
    * repeated: set-up time is a metric), `warmup` runs once untimed before
    * the loop, `run` is the timed closed loop, `check` validates outputs. */
  trait Workload {
    def setup(dir: Path): Unit
    def warmup(): Unit = ()
    def run(seconds: Double): Unit
    def check(): Unit
    def finish(): Unit = ()
  }

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val data = opts("data")
    val tmp = Paths.get(opts("tmp"))
    val out = Paths.get(opts("out"))

    val t0 = System.nanoTime()
    val spark = session(tmp)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder(spark, traced)
    val w: Workload = workload match {
      case "etl_nightly" => new EtlNightly(spark, rec, seed)
      case "analytic_read" =>
        new AnalyticRead(spark, rec, seed, data, tmp.resolve("cat"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set up several times in fresh directories; the last one is measured
    val setupS = (1 to Setups).map { i =>
      val dir = tmp.resolve(s"setup$i")
      val s0 = System.nanoTime()
      w.setup(dir)
      (System.nanoTime() - s0) / 1e9
    }
    w.warmup()
    w.run(seconds)
    rec.extra("heap_retained_mb") = retainedHeapMb()
    w.check()
    w.finish()
    Files.write(out, rec.toJson(Map(
      "cores" -> spark.sparkContext.defaultParallelism,
      "session_s" -> sessionS, "setup_s" -> setupS)).getBytes(UTF_8))
    spark.stop()
  }

  def session(tmp: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("spark-wh").toString)
      .config("spark.sql.catalog.tx", "graft.sources.v2.TxLogCatalog")
      .config("spark.sql.catalog.tx.warehouse", tmp.resolve("cat").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Driver heap still reachable after a forced collection, in MiB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.delete(f))
      }

  /** Order-independent digest of a result: SHA-1 over its sorted rows. */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }
}

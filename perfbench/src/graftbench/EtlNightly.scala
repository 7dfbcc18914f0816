package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl._

/** `etl_nightly`: the reference job itself. A cold full load into an
  * empty warehouse (the set-up), then nightly reloads of seeded mutations
  * of the same dump (the loop), all through
  * `EtlPipeline.runFromSource(..., txLog = true)` fed by the benchmark's
  * [[ScheduleGen]]. A traced reload calls the same public phase functions
  * in `EtlPipeline.run`'s order, each inside a span.
  */
final class EtlNightly(spark: SparkSession, rec: Recorder, seed: Long)
    extends Main.Workload {

  private var wh: String = _
  private var dir: Path = _
  private var gen: ScheduleGen = _
  private var expected: ScheduleGen.Expected = _
  private var night = 0

  private def ts(n: Int) =
    new java.sql.Timestamp(java.sql.Timestamp.valueOf("2026-01-01 02:00:00")
      .getTime + n * 86400000L)

  /** Set-up is the warehouse bootstrap: generate the first dump and run
    * the cold full load into an empty warehouse. */
  def setup(d: Path): Unit = {
    if (dir != null) Main.deleteTree(dir)
    dir = d
    wh = d.resolve("wh").toString
    gen = new ScheduleGen(seed)
    night = 0
    val (src, exp) = gen.initial()
    val s0 = System.nanoTime()
    EtlPipeline.runFromSource(spark, src, wh, ts(0), txLog = true)
    rec.extra("etl_initial_s") = (System.nanoTime() - s0) / 1e9
    expected = exp
  }

  /** Reloads every run makes, however slow the host: the first one also
    * pays JIT warm-up of the reload paths, and its share of the mean must
    * not change with how many reloads fit the run. */
  val MinNights = 2

  def run(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinNights || (System.nanoTime() - t0) / 1e9 < seconds) {
      nightly(i)
      i += 1
    }
  }

  private def nightly(i: Int): Unit = {
    val (src, exp) = gen.nightly()
    night += 1
    val n = night
    rec.op("etl_run", traceThis = i % 2 == 1) {
      if (rec.isRecording) tracedRun(src, n)
      else EtlPipeline.runFromSource(spark, src, wh, ts(n), txLog = true)
    }
    expected = exp
  }

  /** `EtlPipeline.runFromSource` spelled out phase by phase (same inputs,
    * same order as `EtlPipeline.run`), one span per phase. */
  private def tracedRun(src: ApiSource, n: Int): Unit = {
    val ctx = EtlContext(spark, wh, ts(n), txLog = true)
    val in = rec.span[EtlPipeline.Inputs]("etl.fetch")(inputs(src))
    def phase(name: String)(f: => Unit): Unit = rec.span(name)(f)
    in.currentWeek.foreach(w => phase("etl.dim_sync.system_state")(
      DimSync.systemState(ctx, "current_week", lit(w))))
    in.faculties.foreach(df => phase("etl.dim_sync.faculties")(
      DimSync.faculties(ctx, df)))
    in.departments.foreach(df => phase("etl.dim_sync.departments")(
      DimSync.departments(ctx, df)))
    in.specialities.foreach(df => phase("etl.dim_sync.specialities")(
      DimSync.specialities(ctx, df)))
    in.studentGroups.foreach(df => phase("etl.dim_sync.student_groups")(
      DimSync.studentGroups(ctx, df)))
    in.employees.foreach(df => phase("etl.dim_sync.employees")(
      DimSync.employees(ctx, df)))
    in.auditories.foreach(df => phase("etl.dim_sync.auditories")(
      DimSync.auditories(ctx, df)))
    in.schedules.foreach(df => phase("etl.schedule_ingest")(
      ScheduleFlatten.ingest(ctx, df)))
    phase("etl.occupancy")(Occupancy.rebuild(ctx))
  }

  // the input construction of EtlPipeline.runFromSource, verbatim in effect
  private def inputs(source: ApiSource): EtlPipeline.Inputs = {
    import spark.implicits._
    def readArr(endpoint: String, schema: org.apache.spark.sql.types.StructType) =
      source.fetch(endpoint).map(payload =>
        spark.read.schema(schema).option("multiLine", "true")
          .json(Seq(payload).toDS()))
    def wholeVariant(endpoint: String): Option[DataFrame] =
      source.fetch(endpoint).map { payload =>
        Seq(payload).toDF("value")
          .select(try_parse_json(col("value")).as("doc"))
          .filter(col("doc").isNotNull)
          .select(explode(try_variant_get(col("doc"), "$",
            "array<variant>")).as("v"))
      }
    val schedules = wholeVariant("/schedule").map(df =>
      df.select(
        try_variant_get(col("v"), "$.entityName", "string").as("entity_name"),
        try_variant_get(col("v"), "$.entityType", "string").as("entity_type"),
        to_json(try_variant_get(col("v"), "$.data", "variant")).as("raw_json")))
    EtlPipeline.Inputs(
      currentWeek = source.fetch("/schedule/current-week").map(_.trim),
      faculties = readArr("/faculties", Schemas.faculty),
      departments = readArr("/departments", Schemas.department),
      specialities = readArr("/specialities", Schemas.speciality),
      studentGroups = readArr("/student-groups", Schemas.studentGroup),
      employees = wholeVariant("/employees/all"),
      auditories = readArr("/auditories", Schemas.auditory),
      schedules = schedules)
  }

  def check(): Unit = {
    val ctx = EtlContext(spark, wh, ts(night), txLog = true)
    val events = ctx.read("schedule_events", Schemas.scheduleEventsTable).count()
    rec.check("etl.events", events == expected.events,
      s"schedule_events rows $events, expected ${expected.events}")
    val open = ctx.read("student_groups", Schemas.studentGroupsTable)
      .filter(col("valid_to").isNull)
      .agg(count(lit(1)), countDistinct(col("id"))).collect()(0)
    rec.check("etl.open_groups",
      open.getLong(0) == expected.openGroups &&
        open.getLong(1) == expected.openGroups,
      s"open SCD2 rows ${open.getLong(0)} over ${open.getLong(1)} ids, " +
        s"expected one each for ${expected.openGroups} live ids")
    val occ = ctx.read("occupancy_index", Schemas.occupancyIndexTable)
      .agg(sum(col("n_events"))).collect()(0)
    val occN = if (occ.isNullAt(0)) 0L else occ.getLong(0)
    rec.check("etl.occupancy", occN == expected.occupancy,
      s"occupancy n_events total $occN, expected ${expected.occupancy}")
    val rejects = ctx.read("schedule_rejects", Schemas.scheduleRejectsTable).count()
    rec.check("etl.rejects", rejects == expected.rejects,
      s"quarantined entities $rejects, expected ${expected.rejects}")
  }

  override def finish(): Unit = if (dir != null) Main.deleteTree(dir)
}

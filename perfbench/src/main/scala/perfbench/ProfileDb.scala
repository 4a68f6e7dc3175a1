package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Tables, VersionedStore}
import graft.ops.Profiler

/** `profile_db`: the reference's program on a replicated database. One pass
  * (which starts with the profiler's materialization dropped):
  * SchemaInformation + profile
  * histogram; MERGE both into store meta-tables keyed as the reference
  * keys them; OPTIMIZE ZORDER both; summary and entropy served from the
  * materialization; refresh of one table (seed-chosen); read of the
  * previous profile version; vacuum. The meta-tables persist across
  * passes, so every pass after the first merges into existing tables. */
final class ProfileDb(ctx: Ctx) extends Workload {
  import ctx._

  def nominalPassS: Double = 7.0

  private val schemaT = "SchemaInformation"
  private val profileT = "profileData"
  private val schemaKeys = Seq("databaseName", "tableName", "columnName")
  private val profileKeys = schemaKeys :+ "value"
  private val root = s"$work/profile_store"
  private val store = new VersionedStore(root)
  private val watch = new StoreWatch(root, Seq(schemaT, profileT))
  // the refreshed table is drawn from the two of similar size, so the
  // seed does not change how much work a pass is
  private val refreshed = Seq("orders", "events")(new scala.util.Random(seed).nextInt(2))
  private var rowCounts = Map.empty[String, Long]
  private var sourceBytes = 0L
  private val figures = mutable.Map[Int, StoreFigures]()
  private val histSeconds = mutable.Map[Int, Double]()
  private val histRows = mutable.Map[Int, Long]()

  def setup(): Unit = {
    rowCounts = Tables.all.map(t => t.name -> Tables.load(spark, data, t.name).count()).toMap
    pass(-1)  // warm-up; creates the meta-tables
    // parquet bytes of what a pass submits to the store (both merge sources)
    val src = s"$work/profile_sources"
    Profiler.schemaInformation(spark, data).write.parquet(s"$src/schema")
    Profiler.profileHistogram(spark, data).write.parquet(s"$src/profile")
    sourceBytes = Util.dirBytes(new java.io.File(src))
  }

  private def commit(name: String)(body: => Unit): Unit = {
    rec.op(name, "commit")(body)
    watch.scan()
  }

  def pass(p: Int): Unit = {
    val (f0, b0) = (watch.filesAdded, watch.bytesAdded)
    var schema: DataFrame = null
    var hist: DataFrame = null
    val previous = store.currentVersion(profileT)
    rec.op("schema", "profile") {
      schema = rec.span("profiler.schema")(Profiler.schemaInformation(spark, data))
    }
    rec.op("histogram", "profile") {
      val t = System.nanoTime()
      rec.span("profiler.histogram") {
        hist = Profiler.profileHistogram(spark, data)
        histRows(p) = hist.count()
      }
      histSeconds(p) = (System.nanoTime() - t) / 1e9
    }
    commit("merge_schema")(rec.span("store.upsert")(store.upsert(spark, schemaT, schema, schemaKeys)))
    commit("merge_profile")(rec.span("store.upsert")(store.upsert(spark, profileT, hist, profileKeys)))
    commit("optimize_schema")(rec.span("store.optimize")(
      store.optimize(spark, schemaT, zorderBy = Seq("databaseName", "tableName"))))
    commit("optimize_profile")(rec.span("store.optimize")(
      store.optimize(spark, profileT, zorderBy = Seq("databaseName", "tableName", "columnName"))))
    rec.op("summary", "read")(rec.span("profiler.summary")(Profiler.profileSummary(spark, data).count()))
    rec.op("entropy", "read")(rec.span("profiler.entropy")(Profiler.profileEntropy(spark, data).count()))
    rec.op("refresh", "profile")(rec.span("profiler.refresh")(
      Profiler.refreshTable(spark, data, refreshed).count()))
    previous.foreach { v =>
      rec.op("previous_profile", "tt_read")(rec.span("store.read_version")(
        store.readVersion(spark, profileT, v).count()))
    }
    rec.op("vacuum", "maint")(rec.span("store.vacuum") {
      store.vacuumVersions(schemaT, 2)
      store.vacuumVersions(profileT, 2)
    })
    figures(p) = StoreFigures.of(watch, store, sourceBytes, f0, b0)
  }

  /** Σ num_records per column equals the table's row count, and the
    * meta-tables read back as the profile. */
  override def verify(p: Int): Unit = rec.op("verify", "check") {
    val hist = Profiler.profileHistogram(spark, data)
    val sums = hist.groupBy("tableName", "columnName")
      .agg(sum(col("num_records").cast("long")).as("n")).collect()
    rec.check(sums.nonEmpty, "empty profile")
    sums.foreach { r =>
      rec.check(r.getLong(2) == rowCounts(r.getString(0)),
        s"${r.getString(0)}.${r.getString(1)}: Σ num_records ${r.getLong(2)} != " +
          s"${rowCounts(r.getString(0))} rows")
    }
    val cols = Seq("databaseName", "tableName", "columnName", "dataType", "value",
      "num_records", "len").map(col)
    val meta = store.read(spark, profileT).select(cols: _*)
    val mine = hist.select(cols: _*)
    rec.check(meta.exceptAll(mine).isEmpty && mine.exceptAll(meta).isEmpty,
      "profileData meta-table differs from the profile")
    val nCols = Profiler.schemaInformation(spark, data).count()
    rec.check(store.read(spark, schemaT).count() == nCols,
      "SchemaInformation meta-table row count differs")
  }

  override def extra(passes: Seq[Int]): Map[String, Double] = {
    val rows = rowCounts.values.sum.toDouble
    StoreFigures.metrics(passes.map(figures)) ++ Map(
      "profile_rows_per_s" -> Util.median(passes.map(p => rows / histSeconds(p))),
      "profiler.hist_rows" -> Util.median(passes.map(p => histRows(p).toDouble)))
  }
}

package graft.perfbench

import graft.lake.{LakeTable, TableMeta}
import graft.pipelines.{DwdToDm, OdsToDwd, PipelineConfig}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `medallion`: the three-hop ODS → DWD → DM pipeline.
  *
  * Set-up builds ODS (MOR) from the generated lineitem rows, DWD (MOR,
  * synchronous inline compaction) through a first `OdsToDwd.iteration`,
  * and the DM (COW, one row per (p_brand, l_returnflag)) through the
  * `DwdToDm` init aggregate. Each timed step then runs, in order: an
  * upsert of an append-only batch of new keys into ODS, `OdsToDwd.iteration`
  * (incremental read, broadcast `part` join, MOR upsert), `DwdToDm.iteration`
  * (incremental aggregate, additive merge) and one DWD snapshot read.
  */
object Medallion {

  val Scale = 0.01 // ~60k lineitem rows
  val BatchOrders = 60 // new orders per step: ~240 rows, ~0.4 % of ODS
  /** DWD compacts inline after this many delta files. */
  val CompactEvery = 5
  val WarmSteps = 1
  val MaxSteps = 40
  val Bootstraps = 3

  private val key = Seq("l_orderkey", "l_linenumber")

  def run(r: Run, work: String): Result = {
    val spark = r.spark
    val nOrders = Gen.rows(Scale)("orders")
    val dimPath = s"$work/part.parquet"
    r.setup("generate") {
      Gen.tables(spark, r.seed, Scale)("part").coalesce(1)
        .write.parquet(dimPath)
    }
    // every step's input rows, generated once: orders past the bootstrap
    val (schema, batchRows) = r.setup("generate") {
      val df = Gen.lineitem(spark, r.seed, nOrders + (WarmSteps + MaxSteps) * BatchOrders,
        2000, 100).where(col("l_orderkey") >= nOrders)
      val rows = df.collect().groupBy(x => ((x.getLong(0) - nOrders) / BatchOrders).toInt)
      (df.schema, (0 until WarmSteps + MaxSteps).map(b => rows.getOrElse(b, Array.empty[Row]).toSeq))
    }
    val inputBytesPerRow = r.setup("generate") {
      val p = s"$work/input.parquet"
      spark.createDataFrame(batchRows.flatten.asJava, schema).coalesce(1).write.parquet(p)
      java.nio.file.Files.walk(java.nio.file.Paths.get(p))
        .filter(_.toString.endsWith(".parquet"))
        .mapToLong(java.nio.file.Files.size(_)).sum().toDouble / batchRows.map(_.size).sum
    }

    val source = s"$work/lineitem.parquet"
    r.setup("generate") {
      Gen.lineitem(spark, r.seed, nOrders, 2000, 100)
        .withColumn("l_version", lit(0L)).coalesce(1).write.parquet(source)
    }
    // the repeated part of set-up: bootstrap ODS from the source
    val ods = (0 until Bootstraps).map { i =>
      r.repeat("bootstrap") {
        val t = LakeTable.create(spark, s"$work/ods$i",
          TableMeta("ods", key, "l_version", tableType = "mor"))
        t.insert(spark.read.parquet(source))
        t
      }
    }.last
    val (dwd, dm, hopCfg, dmCfg) = r.setup("pipelines") {
      val dwd = LakeTable.create(spark, s"$work/dwd",
        TableMeta("dwd", key, "dwd_ts", tableType = "mor",
          inlineCompactMax = CompactEvery, asyncCompact = false))
      val hopCfg = PipelineConfig(tableName = "dwd", recordKeyFields = key,
        precombineField = "dwd_ts", tableType = "mor",
        sourceTablePath = ods.path, targetTablePath = dwd.path,
        dimTablePath = dimPath, joinLeftKey = "l_partkey",
        joinRightKey = "p_partkey", dimSelect = Seq("p_brand", "p_type"))
      OdsToDwd.iteration(spark, hopCfg, ods, dwd, "earliest")
      val dmCfg = PipelineConfig(tableName = "dm",
        recordKeyFields = Seq("p_brand", "l_returnflag"),
        precombineField = "dm_ts", tableType = "cow",
        sourceTablePath = dwd.path, targetTablePath = s"$work/dm",
        aggKeys = Seq("p_brand", "l_returnflag"), aggCol = "l_extendedprice",
        maxIterations = 0)
      DwdToDm.run(spark, dmCfg) // the init aggregate only
      (dwd, LakeTable.load(spark, dmCfg.tablePath), hopCfg, dmCfg)
    }
    var dwdBegin = OdsToDwd.resumeWatermark(dwd)
    var dmBegin = DwdToDm.resumeWatermark(dm).get

    val compactSteps = mutable.ArrayBuffer[Double]()
    var deltaMax = 0
    var compactions = 0
    val snapshotPlanMs = mutable.ArrayBuffer[Double]()
    def oneStep(b: Int, timed: Boolean): Unit = r.step(s"step$b") {
      val input = spark.createDataFrame(batchRows(b).asJava, schema)
        .withColumn("l_version", lit(b.toLong + 1))
      val histBefore = if (r.tracing) dwd.history().size else 0
      val ingest = r.call("lake", "lake.ods_upsert") { ods.upsert(input) }
      val hop1 = r.call("pipelines", "pipelines.ods2dwd") {
        dwdBegin = OdsToDwd.iteration(spark, hopCfg, ods, dwd, dwdBegin)
      }
      val hop2 = r.call("pipelines", "pipelines.dwd2dm") {
        dmBegin = DwdToDm.iteration(spark, dmCfg, dwd, dm, dmBegin)
      }
      val read = r.call("lake", "lake.dwd_snapshot") {
        val t0 = System.nanoTime()
        val df = dwd.snapshot()
        snapshotPlanMs += (System.nanoTime() - t0) / 1e6
        df.write.format("noop").mode("overwrite").save()
      }
      if (timed) {
        val parts = Seq(ingest, hop1, hop2)
        if (parts.forall(_.isDefined)) {
          val fresh = parts.flatten.map(_._1).sum
          r.sample("freshness_ms", fresh)
          r.count("rows_applied", batchRows(b).size)
          if (r.tracing) {
            val newOps = dwd.history().drop(histBefore).map(_.operation)
            if (newOps.contains("compact")) { compactions += 1; compactSteps += fresh }
            deltaMax = math.max(deltaMax, dwd.timeline.liveFiles().count(_.isDelta))
          }
        }
        ingest.foreach(c => r.sample("ods_ingest_ms", c._1))
        hop1.foreach(c => r.sample("ods2dwd_ms", c._1))
        hop2.foreach(c => r.sample("dwd2dm_ms", c._1))
        read.foreach(c => r.sample("read_ms", c._1))
      }
    }

    r.setup("warmup") { (0 until WarmSteps).foreach(b => oneStep(b, timed = false)) }
    if (r.failures.nonEmpty)
      throw new IllegalStateException(s"warm-up failed: ${r.failures.head}")
    val tables = Seq(ods, dwd, dm)
    val firstTimed = tables.map(_.history().size)
    val steps = r.loop(minSteps = 1, maxSteps = MaxSteps) { i =>
      oneStep(WarmSteps + i, timed = true)
    }

    // output checks, outside the timed phase
    val checks = mutable.ArrayBuffer[String]()
    val sumCol = s"${dmCfg.aggCol}_sum"
    def agg(df: org.apache.spark.sql.DataFrame): Map[(String, String), java.math.BigDecimal] =
      df.select("p_brand", "l_returnflag", sumCol).collect()
        .map(x => (x.getString(0), x.getString(1)) -> x.getDecimal(2)).toMap
    val direct = agg(DwdToDm.aggregate(dwd.snapshotUser(), dmCfg))
    val inDm = agg(dm.snapshotUser())
    if (direct != inDm)
      checks += s"DM differs from a direct aggregate of DWD: ${(direct.toSet diff inDm.toSet).take(3)} vs ${(inDm.toSet diff direct.toSet).take(3)}"
    val (nOds, nDwd) = (ods.snapshot().count(), dwd.snapshot().count())
    if (nOds != nDwd) checks += s"DWD has $nDwd rows, ODS $nOds"

    val timedCommits = tables.zip(firstTimed).flatMap { case (t, n) => t.history().drop(n) }
    val rowsApplied = r.counters.getOrElse("rows_applied", 0.0)
    val bytesAdded = timedCommits.map(_.bytesAdded).sum.toDouble
    val s = r.samples
    val e2e = Map("op_cpu_ms" -> Run.median(r.stepCpu.values.flatten))
    val layers = Map(
      "lake.files_rewritten_per_commit" ->
        timedCommits.map(_.filesRemoved).sum.toDouble / timedCommits.size,
      "lake.bytes_added_per_commit" -> bytesAdded / timedCommits.size,
      "lake.write_amp" -> bytesAdded / (rowsApplied * inputBytesPerRow),
      "lake.compactions" -> compactions.toDouble,
      "lake.compact_step_ms" -> (if (compactSteps.isEmpty) 0.0 else Run.median(compactSteps)),
      "lake.delta_files_max" -> deltaMax.toDouble,
      "lake.snapshot_plan_ms" -> Run.median(snapshotPlanMs),
      "lake.read_ms_p50" -> Run.median(s("read_ms")),
      "pipelines.freshness_ms_p50" -> Run.median(s("freshness_ms")),
      "lake.bootstrap_s" -> Run.median(r.repeatWall),
      "sources.scan_mb_per_read" -> {
        val (n, t) = r.spanTotals("lake.dwd_snapshot")
        t.getOrElse("input_b", 0.0) / (1 << 20) / n
      },
      "pipelines.hop_jobs" -> {
        val hops = Seq("pipelines.ods2dwd", "pipelines.dwd2dm").map(r.spanTotals)
        hops.map(_._2.getOrElse("jobs", 0.0)).sum / steps
      },
      "pipelines.ods_ingest_ms_p50" -> Run.median(s("ods_ingest_ms")),
      "pipelines.ods_ingest_ms_p90" -> Run.pct(s("ods_ingest_ms"), 90),
      "pipelines.ods2dwd_ms_p50" -> Run.median(s("ods2dwd_ms")),
      "pipelines.ods2dwd_ms_p90" -> Run.pct(s("ods2dwd_ms"), 90),
      "pipelines.dwd2dm_ms_p50" -> Run.median(s("dwd2dm_ms")),
      "pipelines.dwd2dm_ms_p90" -> Run.pct(s("dwd2dm_ms"), 90))
    Result(e2e, layers, steps, checks.toSeq,
      detail = Map(
        "rows_per_s" -> rowsApplied / r.wallS,
        "op_ms_geomean" -> Run.geomean(s("freshness_ms")),
        "ops_per_s" -> steps / r.wallS,
        "write_amp" -> bytesAdded / (rowsApplied * inputBytesPerRow),
        "freshness_ms" -> s("freshness_ms").toSeq,
        "read_ms" -> s("read_ms").toSeq,
        "history" -> tables.zip(firstTimed).flatMap { case (t, n) =>
          t.history().drop(n).map(c => Map("table" -> t.meta.name,
            "instant" -> c.instant, "operation" -> c.operation,
            "files_added" -> c.filesAdded, "files_removed" -> c.filesRemoved,
            "rows_added" -> c.rowsAdded, "bytes_added" -> c.bytesAdded))
        }))
  }
}

package graft.perfbench

import graft.lake.{LakeTable, TableMeta}
import graft.pipelines.{CdcIngest, PipelineConfig}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import scala.collection.mutable

/** `cdc_upsert`: keyed Canal CDC batches into a copy-on-write table.
  *
  * Set-up bootstraps the generated lineitem rows into a COW table keyed
  * on (l_orderkey, l_linenumber) and writes every batch file. Each timed
  * step then (1) hands one file of Canal JSON lines (about 1 % of the
  * table: ~70 % UPDATE, ~20 % INSERT of new keys, ~10 % DELETE, updates
  * and deletes drawn from the newest orderkeys, some keys touched twice)
  * to `CdcIngest.applyBatch`, (2) reads the full snapshot to the noop
  * sink, and (3) looks up a few keys through `spark.read.format("graft-lake")`.
  */
object CdcUpsert {

  /** One lineitem row. `version` is the table's precombine column. */
  final case class L(orderkey: Long, partkey: Long, suppkey: Long, line: Int,
      qty: Double, price: Double, disc: Double, tax: Double, rflag: String,
      lstatus: String, ship: LocalDateTime, version: Long) {
    def key: (Long, Int) = (orderkey, line)
    def toRow: Row = Row(orderkey, partkey, suppkey, line, qty, price, disc,
      tax, rflag, lstatus, ship, version)
  }

  final case class Op(kind: String, row: L)

  val Scale = 0.01 // 15k orders, ~60k lineitem rows
  val BatchShare = 0.01
  val Lookups = 3
  val WarmBatches = 2
  val MaxSteps = 60
  val Bootstraps = 3

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def canal(op: Op, ts: Long, id: Long): String = {
    val r = op.row
    val data = Seq("l_orderkey" -> r.orderkey, "l_partkey" -> r.partkey,
      "l_suppkey" -> r.suppkey, "l_linenumber" -> r.line,
      "l_quantity" -> r.qty, "l_extendedprice" -> r.price,
      "l_discount" -> r.disc, "l_tax" -> r.tax, "l_returnflag" -> r.rflag,
      "l_linestatus" -> r.lstatus, "l_shipdate" -> r.ship.format(tsFmt),
      "l_version" -> r.version)
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    s"""{"data":[$data],"database":"tpch","table":"lineitem","type":"${op.kind}",""" +
      s""""ts":$ts,"id":$id,"es":$ts,"isDdl":false,"pkNames":["l_orderkey","l_linenumber"]}"""
  }

  /** The batches: a seeded walk over the live key set. Keys live in
    * orderkey order; updates and deletes pick from the newest tenth,
    * skewed towards the newest; one op in ten re-touches a key the batch
    * already touched.
    */
  def batches(base: Seq[L], n: Int, seed: Long): Seq[Seq[Op]] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    // deleted keys stay in `live` (removing from the middle of a buffer
    // is linear); `rows` holds only the live ones, and picks retry
    val live = mutable.ArrayBuffer[(Long, Int)]()
    val rows = mutable.HashMap[(Long, Int), L]()
    base.sortBy(_.key).foreach { r => live += r.key; rows(r.key) = r }
    var nextOrder = base.map(_.orderkey).max + 1
    val perBatch = math.max(10, (base.size * BatchShare).toInt)
    (1 to n).map { b =>
      val touched = mutable.ArrayBuffer[(Long, Int)]()
      val ops = mutable.ArrayBuffer[Op]()
      def recentKey(): (Long, Int) = {
        val window = math.max(1, live.size / 10)
        var k = live.last
        var tries = 0
        do {
          val u = rnd.nextDouble()
          k = live(live.size - 1 - (u * u * window).toInt)
          tries += 1
        } while (!rows.contains(k) && tries < 100)
        k
      }
      while (ops.size < perBatch) {
        val u = rnd.nextDouble()
        if (u < 0.2) {
          val lines = 1 + rnd.nextInt(4)
          (1 to lines).foreach { ln =>
            val r = L(nextOrder, rnd.nextInt(2000).toLong, rnd.nextInt(100).toLong,
              ln, 1 + rnd.nextInt(50).toDouble,
              math.round((900 + rnd.nextDouble() * 104000) * 100) / 100.0,
              rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, "N", "O",
              LocalDateTime.of(1998, 1, 1, 0, 0).plusDays(rnd.nextInt(1500).toLong),
              b.toLong)
            live += r.key; rows(r.key) = r; touched += r.key
            ops += Op("INSERT", r)
          }
          nextOrder += 1
        } else {
          val k = if (touched.nonEmpty && rnd.nextDouble() < 0.1)
            touched(rnd.nextInt(touched.size)) else recentKey()
          rows.get(k).foreach { cur =>
            if (u < 0.9) {
              val r = cur.copy(qty = 1 + rnd.nextInt(50).toDouble,
                price = math.round((900 + rnd.nextDouble() * 104000) * 100) / 100.0,
                rflag = Seq("A", "N", "R")(rnd.nextInt(3)), version = b.toLong)
              rows(k) = r; touched += k
              ops += Op("UPDATE", r)
            } else {
              rows.remove(k)
              ops += Op("DELETE", cur.copy(version = b.toLong))
            }
          }
        }
      }
      ops.toSeq
    }
  }

  /** Fold one batch into `state`: within a batch the last op on a key
    * wins.
    */
  def fold(state: mutable.Map[(Long, Int), L], ops: Seq[Op]): Unit = {
    val last = mutable.LinkedHashMap[(Long, Int), Op]()
    ops.foreach(o => last(o.row.key) = o)
    last.foreach { case (k, o) =>
      if (o.kind == "DELETE") state.remove(k) else state(k) = o.row
    }
  }

  /** The expected table, from the bootstrap rows and the applied batches
    * alone.
    */
  def expected(base: Seq[L], applied: Seq[Seq[Op]]): Map[(Long, Int), L] = {
    val state = mutable.HashMap[(Long, Int), L]()
    base.foreach(r => state(r.key) = r)
    applied.foreach(fold(state, _))
    state.toMap
  }

  def run(r: Run, work: String): Result = {
    val spark = r.spark
    val cfg = PipelineConfig()
    val nOrders = Gen.rows(Scale)("orders")
    val source = s"$work/lineitem.parquet"
    val (base, ops) = r.setup("generate") {
      Gen.lineitem(spark, r.seed, nOrders, 2000, 100)
        .withColumn("l_version", lit(0L)).coalesce(1).write.parquet(source)
      val base = spark.read.parquet(source).collect().toSeq.map(x =>
        L(x.getLong(0), x.getLong(1), x.getLong(2), x.getInt(3), x.getDouble(4),
          x.getDouble(5), x.getDouble(6), x.getDouble(7), x.getString(8),
          x.getString(9), x.getAs[LocalDateTime](10), x.getLong(11)))
      val ops = batches(base, WarmBatches + MaxSteps, r.seed)
      ops.zipWithIndex.foreach { case (b, j) =>
        Files.write(Paths.get(s"$work/batch$j.json"),
          b.zipWithIndex.map { case (o, k) =>
            canal(o, 1700000000000L + j * 100000L + k, j * 100000L + k)
          }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      }
      (base, ops)
    }
    val file = (j: Int) => s"$work/batch$j.json"
    // the repeated part of set-up: bootstrap the table from the source
    var table: LakeTable = null
    (0 until Bootstraps).foreach { i =>
      r.repeat("bootstrap") {
        table = LakeTable.create(spark, s"$work/cow$i",
          TableMeta("lineitem", Seq("l_orderkey", "l_linenumber"), "l_version"))
        table.insert(spark.read.parquet(source))
      }
    }
    // bytes one input row takes as Parquet, from the rows of the first
    // batches written once
    val parquetBytesPerRow = r.setup("generate") {
      val schema = table.userSchema.get
      val all = ops.take(10).flatten.map(_.row.toRow)
      val p = s"$work/input.parquet"
      spark.createDataFrame(spark.sparkContext.parallelize(all, 1), schema)
        .write.parquet(p)
      Files.walk(Paths.get(p)).filter(_.toString.endsWith(".parquet"))
        .mapToLong(Files.size(_)).sum().toDouble / all.size
    }

    val lookupRnd = new scala.util.Random(r.seed * 17 + 3)
    val applied = mutable.ArrayBuffer[Int]()
    // live state after the batches so far, the lookups' expected answers
    val state = mutable.HashMap[(Long, Int), L]()
    base.foreach(x => state(x.key) = x)
    val lookupRows = mutable.ArrayBuffer[Double]()
    val snapshotPlanMs = mutable.ArrayBuffer[Double]()
    def oneStep(j: Int, timed: Boolean): Unit = r.step(s"batch$j") {
      val commit = r.call("pipelines", "cdc.apply") {
        CdcIngest.applyBatch(spark, spark.read.text(file(j)), cfg, table)
      }
      if (commit.isDefined) { applied += j; fold(state, ops(j)) }
      val read = r.call("lake", "lake.snapshot") {
        val t0 = System.nanoTime()
        val df = table.snapshot()
        snapshotPlanMs += (System.nanoTime() - t0) / 1e6
        df.write.format("noop").mode("overwrite").save()
      }
      // two keys this batch touched, one bootstrap key
      val keys = Seq.fill(Lookups - 1)(ops(j)(lookupRnd.nextInt(ops(j).size)).row.key) :+
        base(lookupRnd.nextInt(base.size)).key
      val looks = keys.map { k =>
        val want = state.get(k).map(_.version).toSeq
        val got = r.call("sources", "sources.lookup") {
          spark.read.format("graft-lake").load(table.path)
            .where(col("l_orderkey") === k._1 && col("l_linenumber") === k._2)
            .select("l_version").collect()
        }
        got.foreach { case (_, rows) =>
          lookupRows += rows.length
          if (rows.map(_.getLong(0)).toSeq != want)
            r.fail("sources.lookup", s"key $k: got versions " +
              s"${rows.map(_.getLong(0)).mkString(",")}, want ${want.mkString(",")}")
        }
        got
      }
      if (timed) {
        commit.foreach(c => r.sample("commit_ms", c._1))
        read.foreach(c => r.sample("read_ms", c._1))
        looks.flatten.foreach(c => r.sample("lookup_ms", c._1))
        if (commit.isDefined) r.count("rows_applied", ops(j).size)
      }
    }
    r.setup("warmup") { (0 until WarmBatches).foreach(j => oneStep(j, timed = false)) }
    if (r.failures.nonEmpty)
      throw new IllegalStateException(s"warm-up failed: ${r.failures.head}")
    val firstTimed = table.history().size
    val steps = r.loop(minSteps = 1, maxSteps = MaxSteps) { i =>
      oneStep(WarmBatches + i, timed = true)
    }

    // output check, outside the timed phase
    val want = expected(base, applied.toSeq.map(ops))
    val schema = table.userSchema.get
    val wantDf = spark.createDataFrame(
      spark.sparkContext.parallelize(want.values.map(_.toRow).toSeq, 4), schema)
    def digest(df: org.apache.spark.sql.DataFrame): (Long, BigDecimal) = {
      val row = df.select(schema.fieldNames.map(col): _*)
        .agg(count(lit(1)), sum(xxhash64(schema.fieldNames.map(col): _*)
          .cast("decimal(38,0)"))).head()
      (row.getLong(0), BigDecimal(row.getDecimal(1)))
    }
    val (gotN, gotH) = digest(table.snapshotUser())
    val (wantN, wantH) = digest(wantDf)
    val checks = mutable.ArrayBuffer[String]()
    if (gotN != wantN || gotH != wantH)
      checks += s"final table: $gotN rows (hash $gotH), expected $wantN rows (hash $wantH)"

    val hist = table.history()
    val timedCommits = hist.drop(firstTimed)
    val rowsApplied = r.counters.getOrElse("rows_applied", 0.0)
    val bytesAdded = timedCommits.map(_.bytesAdded).sum.toDouble
    val stepCpu = r.stepCpu.values.flatten
    val e2e = Map("op_cpu_ms" -> Run.median(stepCpu))
    val layers = Map(
      "lake.files_rewritten_per_commit" ->
        timedCommits.map(_.filesRemoved).sum.toDouble / timedCommits.size,
      "lake.rows_rewritten_per_row_changed" ->
        timedCommits.map(_.rowsAdded).sum.toDouble / rowsApplied,
      "lake.bytes_added_per_commit" -> bytesAdded / timedCommits.size,
      "lake.write_amp" -> bytesAdded / (rowsApplied * parquetBytesPerRow),
      "lake.snapshot_plan_ms" -> Run.median(snapshotPlanMs),
      "lake.commit_ms_p50" -> Run.median(r.samples("commit_ms")),
      "lake.read_ms_p50" -> Run.median(r.samples("read_ms")),
      "sources.lookup_ms_p50" -> Run.median(r.samples("lookup_ms")),
      "lake.bootstrap_s" -> Run.median(r.repeatWall),
      "sources.rows_read_per_row_returned" ->
        r.spanTotals("sources.lookup")._2.getOrElse("input_rows", 0.0) / lookupRows.sum,
      // the v1 scan reports no file count; it runs one task per file split
      "sources.tasks_per_lookup" -> {
        val (n, t) = r.spanTotals("sources.lookup")
        t.getOrElse("tasks", 0.0) / n
      },
      "sources.scan_mb_per_read" -> {
        val (n, t) = r.spanTotals("lake.snapshot")
        t.getOrElse("input_b", 0.0) / (1 << 20) / n
      },
      "pipelines.cdc_jobs_per_batch" -> {
        val (n, t) = r.spanTotals("cdc.apply")
        t.getOrElse("jobs", 0.0) / n
      })
    Result(e2e, layers, steps, checks.toSeq,
      detail = Map(
        "rows_per_s" -> rowsApplied / r.wallS,
        "commit_ms" -> r.samples("commit_ms").toSeq,
        "ops_per_s" -> steps / r.wallS,
        "step_cpu_ms" -> stepCpu.toSeq,
        "read_ms" -> r.samples("read_ms").toSeq,
        "lookup_ms" -> r.samples("lookup_ms").toSeq,
        "write_amp" -> bytesAdded / (rowsApplied * parquetBytesPerRow),
        "history" -> timedCommits.map(c => Map("instant" -> c.instant,
          "operation" -> c.operation, "files_added" -> c.filesAdded,
          "files_removed" -> c.filesRemoved, "rows_added" -> c.rowsAdded,
          "bytes_added" -> c.bytesAdded))))
  }
}

package graft

import java.nio.file.{Files, Path}

import graft.pipeline._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.aggregate.StddevPop
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.TestGlue
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Golden tests against the real CMAPSS FD001 file shipped with the
  * reference (public NASA dataset, read-only input), and the two-pass ETL
  * protocol on generated whitespace datasets in a temp warehouse.
  */
class CmapssPipelineSpec extends GraftSuite with AdaptiveSparkPlanHelper {

  private val fd001 = "/root/reference/data/raw/train_FD001.txt"
  private val fd001Rul = "/root/reference/data/raw/RUL_FD001.txt"
  private lazy val haveData = new java.io.File(fd001).exists()

  test("golden: FD001 parses to 20631 rows x 100 units, 26+1 columns") {
    assume(haveData)
    val df = CmapssReader.read(spark, fd001, "FD001")
    assert(df.columns.length == 1 + 26) // dataset + 5 base + 21 sensors
    assert(df.count() == 20631)
    assert(df.select(countDistinct(col("unit_nr"))).first().getLong(0) == 100)
  }

  test("golden: FD001 constant sensors are exactly 1,5,10,16,18,19") {
    assume(haveData)
    val df = CmapssReader.read(spark, fd001, "FD001")
    val variable = SensorStats.profile(Seq(df), CmapssSchema.sensorCols()).common
    val constant = CmapssSchema.sensorCols().toSet -- variable.toSet
    assert(constant == Set("sensor1", "sensor5", "sensor10", "sensor16",
      "sensor18", "sensor19"))
  }

  test("golden: unit 1 has 192 cycles so rul(1,1) = 191") {
    assume(haveData)
    val df = CmapssReader.read(spark, fd001, "FD001")
    val feat = FeatureEngineering.features(df, Seq("sensor2"))
    val r = feat.filter(col("unit_nr") === 1 && col("time_cycles") === 1)
      .select("rul").first().getInt(0)
    assert(r == 191)
  }

  test("golden: RUL file positional join assigns unit_nr by line order") {
    assume(haveData)
    val rul = CmapssReader.readRul(spark, fd001Rul)
    assert(rul.count() == 100)
    assert(rul.filter(col("unit_nr") === 1).first().getInt(0) == 112)
  }

  test("feature frame: rolling means respect min_periods=1 and z guard") {
    val df = readFixture("A")
    val feat = FeatureEngineering.features(df, Seq("sensor2", "sensor1"))
      .filter(col("unit_nr") === 1).orderBy("time_cycles")
    val first = feat.first()
    // first row: mean5 == raw value; d_ null; z of constant sensor1 null
    assert(first.getDouble(first.fieldIndex("mean5_sensor2")) ==
      first.getDouble(first.fieldIndex("sensor2")))
    assert(first.isNullAt(first.fieldIndex("d_sensor2")))
    assert(first.isNullAt(first.fieldIndex("z_sensor1")))
  }

  test("EtlJob two-pass: forced common sensor set + replace/append union") {
    assume(haveData)
    val out = Files.createTempDirectory("graft_etl").toString
    val fd003 = "/root/reference/data/raw/test_FD003.txt"
    assume(new java.io.File(fd003).exists())
    val cfg = EtlJob.Config(
      datasets = Seq(EtlJob.DatasetInput("FD001", fd001),
        EtlJob.DatasetInput("FD003", fd003)),
      warehouseDir = out)
    val res = EtlJob.run(spark, cfg)
    // intersection semantics: sensor10 varies in FD003 but not FD001 ->
    // excluded from the common set
    assert(!res.sensors.contains("sensor10"))
    assert(res.sensors.contains("sensor2"))
    val warehouse = TableIO.readTable(spark, s"$out/cycles_raw")
    assert(warehouse.count() == res.rowsPerDataset.values.sum)
    assert(warehouse.select(countDistinct(col("dataset"))).first().getLong(0) == 2)
    // partition pruning: dataset filter reads one partition only
    val one = warehouse.filter(col("dataset") === "FD001").count()
    assert(one == res.rowsPerDataset("FD001"))
  }

  test("dbt partition-key bug is reproducible via the partitionKey param") {
    // SURVEY §2.6 caution: the dbt model partitions by unit_nr only, so
    // appended datasets mix engines. With two datasets loaded, the buggy
    // key must produce different rul values than the correct key.
    val both = readFixture("A").unionByName(readFixture("B"))
    val correct = FeatureEngineering.features(both, Seq("sensor2"))
      .select("dataset", "unit_nr", "time_cycles", "rul")
    val buggy = FeatureEngineering.features(both, Seq("sensor2"),
      partitionKey = Seq("unit_nr"))
      .select("dataset", "unit_nr", "time_cycles", "rul")
    val diffs = correct.withColumnRenamed("rul", "rul_ok")
      .join(buggy.withColumnRenamed("rul", "rul_bug"),
        Seq("dataset", "unit_nr", "time_cycles"))
      .filter(col("rul_ok") =!= col("rul_bug")).count()
    assert(diffs > 0, "buggy partition key should mix engines across datasets")
  }

  test("reader is robust to malformed lines (coerce to null, keep row)") {
    val tmp = java.nio.file.Files.createTempFile("graft_junk", ".txt")
    java.nio.file.Files.writeString(tmp,
      "1 1 0.5 0.6 100 641.82 abc 1587.99\n" + // junk sensor2
        "\n" + // blank line dropped
        "2 1 0.1 0.2 100 642.0 1588.0 1400.0 extra extra extra\n")
    val df = CmapssReader.read(spark, tmp.toString, "T", nSensors = 3)
    val rows = df.orderBy("unit_nr").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(rows(0).fieldIndex("sensor2"))) // 'abc' -> null
    assert(rows(1).getDouble(rows(1).fieldIndex("sensor3")) == 1400.0)
  }

  test("units_summary and measures shapes") {
    val df = readFixture("A")
    val us = UnitsSummary(df)
    assert(us.count() == 3)
    val row = us.filter(col("unit_nr") === 2).first()
    assert(row.getInt(row.fieldIndex("cycles_min")) == 1)
    assert(row.getInt(row.fieldIndex("cycles_max")) == 8)
    assert(row.getLong(row.fieldIndex("cycles_count")) == 8L)
    val feat = FeatureEngineering.features(df, Seq("sensor2"))
    val m = feat.agg(Measures.totalUnits, Measures.avgRul,
      Measures.criticalPct(3)).first()
    assert(m.getLong(0) == 3)
    // rul sums 10 + 28 + 3 over 16 rows; 3 + 3 + 3 rows have rul < 3
    assert(m.getDouble(1) == 41.0 / 16)
    assert(m.getDouble(2) == 9.0 / 16)
  }

  /** Writes a CMAPSS-shaped whitespace file: unit u+1 runs `lengths(u)`
    * cycles over 21 sensors. Sensors 1 and 5 are constant; sensor10 is
    * constant when `flat10`, otherwise it varies like the rest.
    */
  private def writeCmapss(path: Path, lengths: Seq[Int], flat10: Boolean): Unit = {
    val lines = for { (len, u) <- lengths.zipWithIndex; t <- 1 to len } yield {
      val sensors = (1 to 21).map {
        case 1 | 5 => "518.67"
        case 10 if flat10 => "1.30"
        case i => s"${100 * i + t + u}.5"
      }
      (Seq(s"${u + 1}", s"$t", "0.0023", "-0.0003", "100.0") ++ sensors)
        .mkString(" ")
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  /** Two generated datasets: A has units of 5, 8 and 3 cycles and a flat
    * sensor10; B has units of 4 and 6 cycles and a varying sensor10.
    */
  private def fixture(): (Path, EtlJob.Config) = {
    val dir = Files.createTempDirectory("graft_cmapss")
    writeCmapss(dir.resolve("train_A.txt"), Seq(5, 8, 3), flat10 = true)
    writeCmapss(dir.resolve("train_B.txt"), Seq(4, 6), flat10 = false)
    (dir, EtlJob.Config(
      datasets = Seq("A", "B").map(n =>
        EtlJob.DatasetInput(n, dir.resolve(s"train_$n.txt").toString)),
      warehouseDir = dir.resolve("warehouse").toString))
  }

  private lazy val fixtureDir = fixture()._1

  /** Dataset `name` of a shared fixture that no spec rewrites. */
  private def readFixture(name: String) =
    CmapssReader.read(spark, fixtureDir.resolve(s"train_$name.txt").toString, name)

  private def writesIn(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.filter(p => find(p)(_.isInstanceOf[DataWritingCommandExec]).isDefined)

  test("variability: min < max agrees with countDistinct > 1 on each edge") {
    // (label, column values, variable?) — each edge with a case on both sides
    val nan = Double.NaN
    val cases = Seq(
      ("constant", Seq(Some(1.0), Some(1.0), Some(1.0)), false),
      ("two values", Seq(Some(1.0), Some(2.0), Some(1.0)), true),
      ("all null", Seq(None, None, None), false),
      ("one non-null value", Seq(None, Some(3.0), None), false),
      ("two non-null values", Seq(None, Some(3.0), Some(4.0)), true),
      ("NaN beside a number", Seq(Some(nan), Some(1.0), Some(1.0)), true),
      ("NaN only", Seq(Some(nan), Some(nan), None), false),
      ("-0.0 beside 0.0", Seq(Some(-0.0), Some(0.0), Some(0.0)), false),
      ("-0.0 beside 1.0", Seq(Some(-0.0), Some(1.0), None), true))
    val names = cases.indices.map(i => s"sensor${i + 1}")
    val rows = cases.map(_._2).transpose.map(vs => Row(vs.map(_.getOrElse(null)): _*))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(names.map(StructField(_, DoubleType))))
    val prof = SensorStats.profile(Seq(df), names)
    val distinct = df.agg(countDistinct(col(names.head)),
      names.tail.map(c => countDistinct(col(c))): _*).first()
    assert(prof.rows == Seq(3L))
    // bare min < max is null on the all-null column; profile reads it as false
    assert(df.agg(min(col("sensor3")) < max(col("sensor3"))).first().isNullAt(0))
    cases.zip(names).zipWithIndex.foreach { case (((label, _, variable), c), i) =>
      assert(prof.common.contains(c) == variable, label)
      assert((distinct.getLong(i) > 1) == variable, s"countDistinct: $label")
    }
  }

  test("EtlJob on generated datasets: rows, common set, rul, replace/append") {
    val (dir, cfg) = fixture()
    val wh = cfg.warehouseDir
    val cachedBefore = TestGlue.cachedEntries(spark)
    val res = EtlJob.run(spark, cfg)
    assert(res.rowsPerDataset == Map("A" -> 16L, "B" -> 10L))
    // sensor10 is flat in A only, so the intersection drops it
    assert(res.sensors == CmapssSchema.sensorCols()
      .filterNot(Set("sensor1", "sensor5", "sensor10")))
    assert(TestGlue.cachedEntries(spark) == cachedBefore,
      "EtlJob left a persisted plan in the cache manager")

    val feat = TableIO.readTable(spark, s"$wh/cycles_features")
      .withColumn("expect", max(col("time_cycles"))
        .over(Window.partitionBy("dataset", "unit_nr")) - col("time_cycles"))
    assert(feat.count() == 26)
    assert(feat.filter(!(col("rul") <=> col("expect"))).count() == 0)
    assert(feat.filter(col("dataset") === "A" && col("unit_nr") === 2 &&
      col("time_cycles") === 1).select("rul").first().getInt(0) == 7)
    val summary = TableIO.readTable(spark, s"$wh/units_summary").collect()
      .map(r => (r.getAs[String]("dataset"), r.getAs[Int]("unit_nr"),
        r.getAs[Long]("cycles_count"))).toSet
    assert(summary == Set(("A", 1, 5L), ("A", 2, 8L), ("A", 3, 3L),
      ("B", 1, 4L), ("B", 2, 6L)))

    // Rewrite A at the same path: the next run parses the new rows, the
    // first dataset replaces the warehouse and the second appends once.
    writeCmapss(dir.resolve("train_A.txt"), Seq(2, 2), flat10 = true)
    val again = EtlJob.run(spark, cfg)
    assert(again.rowsPerDataset == Map("A" -> 4L, "B" -> 10L))
    val raw = TableIO.readTable(spark, s"$wh/cycles_raw")
      .groupBy("dataset").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(raw == Map("A" -> 4L, "B" -> 10L))
    assert(TestGlue.cachedEntries(spark) == cachedBefore)
  }

  test("EtlJob writes reuse the cached unit_nr spread: no exchange above the scan") {
    val (_, cfg) = fixture()
    val writes = writesIn(TestGlue.executedPlans(spark)(EtlJob.run(spark, cfg)))
    assert(writes.size == 6, s"three tables x two datasets, got ${writes.size}")
    writes.foreach { w =>
      assert(collect(w) { case s: InMemoryTableScanExec => s }.nonEmpty, w)
      assert(collect(w) { case e: Exchange => e }.isEmpty, w)
    }
    assert(writes.count(w => collect(w) { case x: WindowExec => x }.nonEmpty) == 2)
    // cycles_raw files stay sorted on the window key within each dataset
    val rawSorts = writes.filter(_.toString.contains("cycles_raw"))
      .map(w => collect(w) { case s: SortExec => s.sortOrder.map(_.child.toString) })
    assert(rawSorts.size == 2)
    rawSorts.foreach(s => assert(
      s.flatten.map(_.takeWhile(_ != '#')) == Seq("dataset", "unit_nr", "time_cycles"), s))
  }

  test("dailyFlow etl_features writes with no range-partitioning sort") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val etl = PipelineRunner.dailyFlow(spark, sf, wh).head
    assert(etl.name == "etl_features")
    val Seq(write) = writesIn(TestGlue.executedPlans(spark)(etl.run()))
    assert(collect(write) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.isEmpty, write)
    assert(collect(write) { case s: SortExec if s.global => s }.isEmpty, write)
  }

  test("z-scores compute each partition moment once, bit-identical to the inline form") {
    val df = readFixture("B")
    val sensors = Seq("sensor2", "sensor1") // sensor1 is flat: z guarded to null
    val feat = FeatureEngineering.features(df, sensors)
    val stddevs = feat.queryExecution.optimizedPlan
      .collect { case w: logical.Window => w.windowExpressions }.flatten
      .count(_.find(_.isInstanceOf[StddevPop]).isDefined)
    assert(stddevs == sensors.size)
    val wp = Window.partitionBy("dataset", "unit_nr")
    val inline = sensors.foldLeft(df) { (f, c) =>
      val sd = stddev_pop(col(c)).over(wp)
      f.withColumn(s"zz_$c", when(sd =!= 0, (col(c) - avg(col(c)).over(wp)) / sd))
    }.select((Seq("unit_nr", "time_cycles") ++ sensors.map(c => s"zz_$c")).map(col): _*)
    val joined = feat.join(inline, Seq("unit_nr", "time_cycles"))
    assert(joined.count() == 10)
    sensors.foreach { c =>
      assert(joined.filter(!(col(s"z_$c") <=> col(s"zz_$c"))).count() == 0, c)
    }
  }
}

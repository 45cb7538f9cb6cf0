package graft.mlx

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Golden end-to-end for the flight-parity app on the mini fixtures
  * (FIXTURES.md §4) + a seeded synthetic set for model training. */
class FlightPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val flights = FlightPipeline.readStringly(spark, TestSpark.res("flights_mini.csv"))
  lazy val planes = FlightPipeline.readStringly(spark, TestSpark.res("plane_mini.csv"))

  test("fixture loads with the 29-column flight header") {
    assert(flights.columns.length == 29)
    assert(flights.columns.contains("DayofMonth")) // exact lowercase 'of'
  }

  test("typed schema read: NA sentinels parse to null in int columns") {
    val typed = FlightSchema.readFlights(spark, TestSpark.res("flights_mini.csv"))
    assert(typed.schema("ArrDelay").dataType.typeName == "integer")
    // stringly rows with ArrDelay="NA" become null under the typed read
    val naAsNull = typed.filter(col("ArrDelay").isNull).count()
    val naStrings = flights.filter(col("ArrDelay") === "NA").count()
    assert(naAsNull == naStrings && naStrings == 3)
    // a numeric filter now pushes down on a typed column
    assert(typed.filter(col("ArrDelay") > 0).count() > 0)
  }

  test("SQL-string predicates (reference F1 form) match the Column form") {
    // the reference filters via SQL text parsed by Catalyst
    // (Main.scala:104,113); both entry points must agree.
    val sqlForm = flights
      .filter("ArrDelay is NOT NULL AND ArrDelay NOT LIKE 'NA'")
      .filter("Cancelled == 0")
    val colForm = flights
      .filter(col("ArrDelay").isNotNull && col("ArrDelay") =!= "NA")
      .filter(col("Cancelled").cast("int") === 0)
    assert(sqlForm.count() == colForm.count())
    assert(sqlForm.exceptAll(colForm).isEmpty)
  }

  test("S3 divergence: loadMany unions (documented intent, not the overwrite bug)") {
    val p = TestSpark.res("flights_mini.csv")
    assert(FlightPipeline.loadMany(spark, Seq(p, p)).count() == 2 * flights.count())
  }

  test("S3 at reference scale: 3-file load with a column-order permutation unions by NAME") {
    // the reference loops over arbitrarily many year files (Main.scala:51-77);
    // year files have drifted column ORDER historically — positional union
    // would silently scramble values, unionByName must not
    val dir = java.nio.file.Files.createTempDirectory("graft-multifile").toFile
    def write(name: String, text: String): String = {
      val f = new java.io.File(dir, name)
      val w = new java.io.PrintWriter(f)
      try w.write(text) finally w.close()
      f.getAbsolutePath
    }
    val p1 = write("y1.csv", "A,B,C\n1,2,3\n4,5,6\n")
    val p2 = write("y2.csv", "A,B,C\n7,8,9\n")
    val p3 = write("y3.csv", "C,A,B\n30,10,20\n") // permuted column order
    val df = FlightPipeline.loadMany(spark, Seq(p1, p2, p3))
    assert(df.count() == 4)
    val r = df.filter(col("A") === "10").collect()
    assert(r.length == 1, "permuted file row lost")
    assert(r(0).getAs[String]("B") == "20" && r(0).getAs[String]("C") == "30",
      "values not aligned by column name")
  }

  test("plane cleaning: tailnum-only and issue_date=None rows removed") {
    val cleaned = FlightPipeline.cleanPlanes(planes)
    val kept = cleaned.select("tailnum").collect().map(_.getString(0)).toSet
    assert(!kept.contains("N300")) // issue_date None
    assert(!kept.contains("N400")) // tailnum-only row
    assert(kept.contains("N100") && kept.contains("N500"))
    assert(!cleaned.columns.contains("year") && !cleaned.columns.contains("status"))
  }

  test("golden counts through cleaning (label NA, cancelled, forbidden cols)") {
    val cleaned = FlightPipeline.clean(flights, planes)
    // 47 rows - 3 NA-label - 2 cancelled = 42 pre-join; join keeps rows whose
    // tail is in {N100,N200,N500} (cleaned dim).
    val expectedTails = Set("N100", "N200", "N500")
    val preJoin = flights
      .filter(col("ArrDelay").isNotNull && col("ArrDelay") =!= "NA")
      .filter(col("Cancelled").cast("int") === 0)
    assert(preJoin.count() == 42)
    val expected = preJoin.filter(col("TailNum").isin(expectedTails.toSeq: _*)).count()
    assert(cleaned.count() == expected)
    FlightPipeline.forbidden.foreach(c => assert(!cleaned.columns.contains(c)))
    assert(!cleaned.columns.contains("Cancelled"))
    FlightPipeline.idCols.foreach(c => assert(!cleaned.columns.contains(c)))
  }

  test("engineer: PlaneAge clamped >= 0, day-part labels, imputation fills NA") {
    val df = FlightPipeline.engineer(FlightPipeline.clean(flights, planes))
    assert(df.columns.contains("PlaneAge"))
    assert(df.filter(col("PlaneAge") < 0).count() == 0)
    // N200 issue year 2005 > flight Year 2000 → clamped to exactly 0
    assert(df.filter(col("PlaneAge") === 0).count() > 0)
    val dps = df.select("DepTime").distinct().collect().map(_.getString(0)).toSet
    assert(dps.subsetOf(Set("lateNight", "earlyMorning", "lateMorning",
      "earlyAfternoon", "lateAfternoon", "earlyEvening", "lateEvening",
      "earlyNight", "unknown")))
    // mean imputation leaves no nulls in numeric cols
    FlightPipeline.meanImputeCols.filter(df.columns.contains).foreach { c =>
      assert(df.filter(col(c).isNull).count() == 0, s"nulls left in $c")
    }
  }

  test("dropCorrelatedAuto reproduces the reference's P6 conclusion on flight data") {
    // synthetic flights have CRSDepTime == DepTime (r = 1.0) — exactly
    // the pairing the reference found (Main.scala:254): the data-driven
    // pruner must reach the hardcoded decision.
    val base = FlightPipeline.engineer(
      FlightPipeline.clean(syntheticFlights(120), planes))
    // DepTime is bucketed to strings by then; correlate the pre-bucket
    // numeric columns instead
    val numeric = base.drop("DepTime", "CRSArrTime")
    val pruned = FlightPipeline.dropCorrelatedAuto(numeric, 0.95)
    assert(pruned.columns.length <= numeric.columns.length)
    // exactly ONE of the perfectly-correlated twins survives (which one
    // is the documented lexicographic policy — the reference hardcoded
    // dropping CRSDepTime; the semantics 'keep one of the pair' match)
    import org.apache.spark.sql.functions.col
    val casted = syntheticFlights(120)
      .select(col("DepTime").cast("int"), col("CRSDepTime").cast("int"),
        col("Distance").cast("int"))
    val p2 = FlightPipeline.dropCorrelatedAuto(casted, 0.95)
    assert(Seq("DepTime", "CRSDepTime").count(p2.columns.contains) == 1)
    assert(p2.columns.contains("Distance"))
  }

  test("dropCorrelatedAuto finds and drops near-duplicate numeric columns") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val df = (1 to 200).map { _ =>
      val x = rnd.nextDouble() * 100
      (x, x * 2 + rnd.nextDouble() * 0.01, rnd.nextDouble() * 100)
    }.toDF("a", "b_dup_of_a", "c_indep")
    val pruned = FlightPipeline.dropCorrelatedAuto(df, 0.95)
    // b sorts after a → b dropped; independent column kept
    assert(pruned.columns.toSeq == Seq("a", "c_indep"))
  }

  test("correlations: a constant column reads r = 0 instead of dividing by zero") {
    import spark.implicits._
    // single-year input: P5 keeps Year even when it is constant, and
    // corr() on a zero-variance column throws DIVIDE_BY_ZERO under ANSI
    val df = (1 to 50).map(i => (2000, i, i * 3 + i % 7, 100 - i))
      .toDF("Year", "a", "b_like_a", "c_anti_a")
    val r = FlightPipeline.correlations(df, df.columns.toSeq)
    assert(r(("Year", "a")) == 0.0 && r(("Year", "b_like_a")) == 0.0 &&
      r(("Year", "c_anti_a")) == 0.0, r.toString)
    assert(r(("a", "b_like_a")) > 0.99, r.toString)
    assert(math.abs(r(("a", "c_anti_a")) + 1.0) < 1e-12, r.toString)
    // the pruner keeps Year and drops the later column of each
    // correlated pair
    val pruned = FlightPipeline.dropCorrelatedAuto(df, 0.95)
    assert(pruned.columns.toSeq == Seq("Year", "a"))
  }

  /** Seeded synthetic flights with a learnable signal
    * (ArrDelay ≈ f(DepDelay)) for model-training smoke. */
  private def syntheticFlights(n: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val names = Seq(
      "Year", "Month", "DayofMonth", "DayOfWeek", "DepTime", "CRSDepTime",
      "ArrTime", "CRSArrTime", "UniqueCarrier", "FlightNum", "TailNum",
      "ActualElapsedTime", "CRSElapsedTime", "AirTime", "ArrDelay",
      "DepDelay", "Origin", "Dest", "Distance", "TaxiIn", "TaxiOut",
      "Cancelled", "CancellationCode", "Diverted", "CarrierDelay",
      "WeatherDelay", "NASDelay", "SecurityDelay", "LateAircraftDelay")
    val schema = StructType(names.map(StructField(_, StringType)))
    val rnd = new scala.util.Random(10)
    val tails = Seq("N100", "N200", "N500")
    val rows = (1 to n).map { i =>
      val depDelay = rnd.nextInt(120) - 20
      val arrDelay = depDelay + rnd.nextInt(21) - 10
      Row("2000", (1 + i % 12).toString, (1 + i % 28).toString,
        (1 + i % 7).toString, (600 + (i * 83) % 1700).toString,
        (600 + (i * 83) % 1700).toString, "NA",
        (700 + (i * 59) % 1700).toString,
        Seq("AA", "UA", "DL")(i % 3), i.toString, tails(i % 3),
        "NA", (90 + i % 60).toString, "NA",
        arrDelay.toString, depDelay.toString,
        Seq("JFK", "ORD", "SFO")(i % 3), Seq("LAX", "BOS", "MIA")(i % 3),
        (300 + (i * 37) % 2500).toString, "NA", (5 + i % 15).toString,
        "0", "", "0", "NA", "NA", "NA", "NA", "NA")
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
  }

  test("ML13 introspection: selector feature counts and bestModel params surfaced") {
    val base = FlightPipeline.dropCorrelated(FlightPipeline.engineer(
      FlightPipeline.clean(syntheticFlights(400), planes)))
    val feats = FlightPipeline.featurize(base).cache()
    val fdr = FlightPipeline.selectWithInfo(feats, "fdr")
    val fwe = FlightPipeline.selectWithInfo(feats, "fwe")
    info(s"input=${fdr.nInputFeatures} fdr=${fdr.nSelectedFeatures} " +
      s"fwe=${fwe.nSelectedFeatures}")
    // the reference's report numbers: same input width, FWE at least as
    // conservative as FDR, both non-trivial
    assert(fdr.nInputFeatures == fwe.nInputFeatures)
    assert(fdr.nInputFeatures > 0)
    assert(fwe.nSelectedFeatures <= fdr.nSelectedFeatures)
    assert(fdr.nSelectedFeatures <= fdr.nInputFeatures)
    assert(fwe.nSelectedFeatures > 0)
    val res = FlightPipeline.train(fdr.df, "fdr", folds = 2)
    val lr = res.find(_.model == "LinearRegression").get
    // ML13: bestModel.extractParamMap surfaced (grid values visible)
    assert(lr.bestParams.contains("regParam=0.01"), lr.bestParams)
    assert(lr.bestParams.contains("elasticNetParam=0.25"), lr.bestParams)
    // coefficient-vector size == selector output width, for every model
    res.foreach(r =>
      assert(r.nFeatures == fdr.nSelectedFeatures,
        s"${r.model}: ${r.nFeatures} != ${fdr.nSelectedFeatures}"))
    feats.unpersist()
  }

  test("fitted pipeline round-trips through save/load with identical output") {
    // operational completeness: a 100 TB pipeline fits once and ships
    // the fitted model to 1000 executors/other jobs via persistence —
    // the reference refits in-process and cannot. Save → load → same
    // transform, bit for bit.
    import org.apache.spark.ml.{Pipeline, PipelineModel}
    import org.apache.spark.ml.feature.{StringIndexer, OneHotEncoder, VectorAssembler}
    val base = FlightPipeline.dropCorrelated(FlightPipeline.engineer(
      FlightPipeline.clean(syntheticFlights(200), planes)))
    val stages = Seq(
      new StringIndexer().setInputCols(Array("Origin"))
        .setOutputCols(Array("carIdx")).setHandleInvalid("keep"),
      new OneHotEncoder().setInputCols(Array("carIdx"))
        .setOutputCols(Array("carVec")),
      new VectorAssembler().setInputCols(Array("carVec", "Distance"))
        .setOutputCol("features"))
    val model = new Pipeline().setStages(stages.toArray)
      .fit(base.withColumn("Distance",
        org.apache.spark.sql.functions.col("Distance").cast("double")))
    val dir = java.nio.file.Files.createTempDirectory("graft-ml").toString
    try {
      model.write.overwrite().save(dir)
      val loaded = PipelineModel.load(dir)
      val in = base.withColumn("Distance",
        org.apache.spark.sql.functions.col("Distance").cast("double"))
      val a = model.transform(in).select("features").collect().map(_.toString)
      val b = loaded.transform(in).select("features").collect().map(_.toString)
      assert(a.toSeq == b.toSeq)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("full run: 6 model×selector rows, finite metrics, linear signal learned") {
    val out = FlightPipeline.run(syntheticFlights(400), planes, folds = 2)
      .collect()
    assert(out.length == 6)
    val byKey = out.map(r =>
      (r.getAs[String]("model"), r.getAs[String]("selector")) ->
        ((r.getAs[Double]("rmse"), r.getAs[Double]("r2")))).toMap
    byKey.values.foreach { case (rmse, r2) =>
      assert(!rmse.isNaN && rmse > 0 && rmse < 200)
      assert(!r2.isNaN)
    }
    // ArrDelay ≈ DepDelay + U(-10,10): every model must capture most of
    // the variance (reference's models all reached R² ≥ 0.7, Report §8).
    val (lrRmse, lrR2) = byKey(("LinearRegression", "fdr"))
    assert(lrR2 > 0.6, s"LR r2=$lrR2 rmse=$lrRmse")
  }
}

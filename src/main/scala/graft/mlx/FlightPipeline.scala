package graft.mlx

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature._
import org.apache.spark.ml.regression.{DecisionTreeRegressor, LinearRegression, RandomForestRegressor}
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.expr.DayPart
import graft.ops.Profile

/** The reference's flight-delay application (arrival-delay regression)
  * re-expressed Spark-first: same SEMANTICS (SURVEY §2), none of the
  * plan anti-patterns (SURVEY §4.2).
  *
  * Fidelity decisions (each cites the reference):
  *  - multi-dataset input UNIONS (`unionByName`) — the documented intent
  *    of Main.scala:51-77, whose loop actually overwrites (S3 divergence,
  *    recorded in FlightPipelineSpec);
  *  - "NA"→null on all pre-imputation columns — net semantics of the
  *    P8 column-range slip (Main.scala:170-173, SURVEY F-note);
  *  - constant/all-null column drop from ONE profile pass (Main.scala:
  *    184-208 ran 2 shuffles per column);
  *  - correlation analysis as ONE aggregate pass (Main.scala:229-247 ran
  *    O(n²) full scans);
  *  - day-part bucketing via the codegen'd DayPart expression, not a
  *    nondeterministic UDF (Main.scala:27-38,310-311);
  *  - ML stages and hyperparameters unchanged (Main.scala:263-276,
  *    336-367, 400-474, 513-537, 577-601), seeds pinned.
  */
object FlightPipeline {

  val label = "ArrDelay"

  /** Leakage columns — forbidden as features (Main.scala:96-97). */
  val forbidden: Seq[String] = Seq(
    "ArrTime", "ActualElapsedTime", "AirTime", "TaxiIn", "Diverted",
    "CarrierDelay", "WeatherDelay", "NASDelay", "SecurityDelay",
    "LateAircraftDelay")

  /** ID columns dropped after the plane join (Main.scala:145). */
  val idCols: Seq[String] = Seq("TailNum", "UniqueCarrier", "FlightNum")

  val modeImputeCols: Seq[String] =
    Seq("Year", "Month", "DayofMonth", "DayOfWeek")
  val meanImputeCols: Seq[String] =
    Seq("DepTime", "CRSArrTime", "DepDelay", "Distance", "TaxiOut")
  val numericCols: Seq[String] =
    modeImputeCols ++ meanImputeCols ++ Seq("CRSDepTime", "CRSElapsedTime")

  /** Reference parity mode: header-schema, all-string columns
    * (Main.scala:59 — header=true, no inferSchema). */
  def readStringly(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** S3 — multi-dataset load as the documented UNION intent, not the
    * observed overwrite bug. */
  def loadMany(spark: SparkSession, paths: Seq[String]): DataFrame =
    paths.map(readStringly(spark, _)).reduce(_ unionByName _)

  /** Plane dimension cleaning (Main.scala:126,153,162): drop year/status,
    * require issue_date and the five attribute columns. */
  def cleanPlanes(planes: DataFrame): DataFrame = {
    val attrs = Seq("type", "manufacturer", "model", "aircraft_type",
      "engine_type")
    planes
      .drop("year", "status")
      .filter(col("issue_date").isNotNull &&
        col("issue_date") =!= "None" && col("issue_date") =!= "NA")
      .filter(attrs.map(col(_).isNotNull).reduce(_ && _))
  }

  /** Fact-side cleaning through the plane join (F1-F5, P1-P5, J1-J2). */
  def clean(flights: DataFrame, planes: DataFrame): DataFrame = {
    var df = flights
      .drop(forbidden: _*)                                   // P1
      .filter(col(label).isNotNull && col(label) =!= "NA")   // F1
      .filter(col("Cancelled").cast(IntegerType) === 0)      // F2
      .drop("Cancelled", "CancellationCode")                 // P2

    // J1/J2 — broadcast dim join on tail number, guarded on a non-constant
    // key (the guard itself is one countDistinct, not the reference's
    // double-groupBy idiom).
    val dim = cleanPlanes(planes).withColumnRenamed("tailnum", "TailNum")
    val distinctTails =
      df.select(countDistinct(col("TailNum"))).first().getLong(0)
    if (distinctTails > 1)
      df = df.join(broadcast(dim), Seq("TailNum"), "inner")

    df = df.drop(idCols: _*)                                 // P4

    // P8 net semantics: "NA" → null everywhere before imputation.
    df = df.na.replace(df.columns, Map("NA" -> null))

    // P5 — drop all-null/constant columns from ONE profile pass
    // (Main.scala:190-206 keeps Year unconditionally).
    val constant = Profile.constantColumns(df).filterNot(_ == "Year")
    df.drop(constant: _*)
  }

  /** P10/P13 + A3/A4 + ML1 + P11/P12 + F5: typing, derived features,
    * imputation, unknown-filling, day-part bucketing. */
  def engineer(df0: DataFrame): DataFrame = {
    DayPart.register(df0.sparkSession)

    // P13 — one select with casts (not a withColumn loop).
    var df = df0.select(df0.columns.map { c =>
      if ((numericCols :+ label).contains(c)) col(c).cast(IntegerType).as(c)
      else col(c)
    }: _*)

    // P10 — PlaneAge from issue_date, clamped at 0 (Main.scala:283-285).
    if (df.columns.contains("issue_date"))
      df = df
        .withColumn("PlaneAge",
          greatest(lit(0),
            col("Year") - year(to_date(col("issue_date"), "M/d/y"))))
        .drop("issue_date")

    // ML1 — mode + mean imputers (two configured instances, not one
    // mutated object as in Main.scala:263-276).
    val present = df.columns.toSet
    val modeCols = modeImputeCols.filter(present)
    val meanCols = meanImputeCols.filter(present)
    if (modeCols.nonEmpty)
      df = new Imputer().setStrategy("mode")
        .setInputCols(modeCols.toArray).setOutputCols(modeCols.toArray)
        .fit(df).transform(df)
    if (meanCols.nonEmpty)
      df = new Imputer().setStrategy("mean")
        .setInputCols(meanCols.toArray).setOutputCols(meanCols.toArray)
        .fit(df).transform(df)

    // P11 — unknown-category filling, as native expressions.
    val catCols = df.schema.fields
      .filter(f => f.dataType.typeName == "string").map(_.name)
    if (catCols.nonEmpty) {
      df = df.na.fill("unknown", catCols)
      df = df.na.replace(catCols.toSeq,
        Map("Unknow" -> "unknown", "None" -> "unknown", "" -> "unknown",
          " " -> "unknown"))
    }

    // F5 — hour-range guard, then P12 day-part bucketing via the custom
    // codegen expression.
    if (present("DepTime"))
      df = df.filter(col("DepTime") <= 2400)
        .withColumn("DepTime", expr("day_part(DepTime)"))
    if (present("CRSArrTime"))
      df = df.filter(col("CRSArrTime") <= 2400)
        .withColumn("CRSArrTime", expr("day_part(CRSArrTime)"))

    df
  }

  /** A3/A4 — label and pairwise Pearson correlations in ONE aggregate.
    * r = cov / (σa·σb) over population moments; a pair with a constant
    * column (σ = 0, e.g. `Year` on single-year input, which P5 keeps)
    * reads r = 0. `corr` itself divides by that zero variance and
    * throws DIVIDE_BY_ZERO under ANSI mode; `try_divide` yields null. */
  def correlations(df: DataFrame, cols: Seq[String]): Map[(String, String), Double] = {
    val pairs = for {
      (a, i) <- cols.zipWithIndex; b <- cols.drop(i + 1)
    } yield (a, b)
    val aggs = pairs.map { case (a, b) =>
      try_divide(covar_pop(col(a), col(b)),
        stddev_pop(col(a)) * stddev_pop(col(b))).as(s"${a}__$b")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    pairs.zipWithIndex.map { case ((a, b), i) =>
      (a, b) -> (if (row.isNullAt(i)) 0.0 else row.getDouble(i))
    }.toMap
  }

  /** P6 — drop the correlated features the reference identified
    * (CRSDepTime↔DepTime, CRSElapsedTime↔Distance; Main.scala:254-256). */
  def dropCorrelated(df: DataFrame): DataFrame =
    df.drop(Seq("CRSDepTime", "CRSElapsedTime")
      .filter(df.columns.contains): _*)

  /** Engine-mode generalization of P6: compute the pairwise correlation
    * matrix in ONE pass and drop the lexicographically-later column of
    * every pair with |r| above the threshold — the data-driven version of
    * the reference's hardcoded conclusion (same outcome on its data). */
  def dropCorrelatedAuto(df: DataFrame, threshold: Double = 0.9): DataFrame = {
    // NumericType matches featurize's "not string" feature detection —
    // the two stages of the pipeline must agree on what is numeric.
    val numCols = df.schema.fields
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).filterNot(_ == label).toSeq.sorted
    if (numCols.size < 2) df
    else {
      val corrs = correlations(df, numCols)
      // greedy: skip a pair when its earlier member is already dropped —
      // otherwise b~a, c~b (c independent of a) would drop BOTH b and c.
      val toDrop = scala.collection.mutable.Set.empty[String]
      corrs.toSeq.sortBy { case ((a, b), _) => (a, b) }.foreach {
        case ((a, b), r) =>
          if (math.abs(r) > threshold && !toDrop(a) && !toDrop(b))
            toDrop += Seq(a, b).max
      }
      df.drop(toDrop.toSeq.sorted: _*)
    }
  }

  /** ML2-ML6 — indexer → OHE → assembler → L1 normalizer pipeline. */
  def featurize(df: DataFrame): DataFrame = {
    val catCols = df.schema.fields
      .filter(f => f.dataType.typeName == "string").map(_.name)
      .filterNot(_ == label)
    val numFeats = df.schema.fields
      .filter(f => f.dataType.typeName != "string" && f.name != label)
      .map(_.name)

    val indexed = catCols.map(_ + "Indexed")
    val encoded = catCols.map(_ + "Cat")
    val stages = Seq(
      new StringIndexer().setInputCols(catCols).setOutputCols(indexed)
        .setHandleInvalid("keep"),
      new OneHotEncoder().setInputCols(indexed).setOutputCols(encoded),
      new VectorAssembler().setInputCols(numFeats ++ encoded)
        .setOutputCol("features"),
      new Normalizer().setInputCol("features").setOutputCol("normFeatures")
        .setP(1.0))
    new Pipeline().setStages(stages.toArray).fit(df).transform(df)
      .select(col(label).cast("double").as(label), col("normFeatures"))
  }

  /** ML13 — the selection surface the reference prints in its report
    * (Main.scala:419-431: selected-feature counts before/after FDR vs
    * FWE). `nInputFeatures` mirrors the reference's driver-side
    * `SparseVector.size` idiom (Main.scala:482). */
  final case class SelectInfo(
      df: DataFrame, nInputFeatures: Int, nSelectedFeatures: Int)

  /** ML7 — FDR / FWE univariate (F-regression) selectors, threshold .05
    * (Main.scala:400-431), with the fitted model's selection counts. */
  def selectWithInfo(df: DataFrame, mode: String): SelectInfo = {
    val sel = new UnivariateFeatureSelector()
      .setFeatureType("continuous").setLabelType("continuous")
      .setSelectionMode(mode).setSelectionThreshold(0.05)
      .setFeaturesCol("normFeatures").setLabelCol(label)
      .setOutputCol("selectedFeatures")
    val model = sel.fit(df)
    val out = model.transform(df).select(
      col(label), col("selectedFeatures").as("feat"))
    val nIn = df.select("normFeatures").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    SelectInfo(out, nIn, model.selectedFeatures.length)
  }

  def select(df: DataFrame, mode: String): DataFrame =
    selectWithInfo(df, mode).df

  /** `bestParams` is ML13's `bestModel.extractParamMap()` rendered as a
    * sorted, deterministic string; `nFeatures` is the fitted model's
    * feature-vector width (the coefficient-vector size for LR). */
  final case class ModelResult(
      model: String, selector: String, rmse: Double, r2: Double,
      bestParams: String, nFeatures: Int)

  /** ML8-ML13 — LR (grid) / DTR / RFR under 5-fold CV, RMSE+R², 70/30
    * split seed 10 (Main.scala:434-435,470-474). `folds`/`fast` shrink
    * the grid for test-speed; defaults match the reference. */
  def train(df: DataFrame, selector: String, folds: Int = 5): Seq[ModelResult] = {
    val Array(tr, te) = df.randomSplit(Array(0.7, 0.3), 10)
    tr.cache(); te.cache()
    val rmseEval = new RegressionEvaluator().setLabelCol(label)
      .setPredictionCol("prediction").setMetricName("rmse")
    val r2Eval = new RegressionEvaluator().setLabelCol(label)
      .setPredictionCol("prediction").setMetricName("r2")

    val lr = new LinearRegression().setLabelCol(label).setFeaturesCol("feat")
    val lrGrid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.01))
      .addGrid(lr.elasticNetParam, Array(0.25))
      .addGrid(lr.maxIter, Array(10)).build()
    val dtr = new DecisionTreeRegressor().setLabelCol(label)
      .setFeaturesCol("feat").setSeed(10)
    val rfr = new RandomForestRegressor().setLabelCol(label)
      .setFeaturesCol("feat").setSeed(10)

    val runs = Seq(
      ("LinearRegression", lr, lrGrid),
      ("DecisionTreeRegressor", dtr, new ParamGridBuilder().build()),
      ("RandomForestRegressor", rfr, new ParamGridBuilder().build()))

    val out = runs.map { case (name, est, grid) =>
      val cv = new CrossValidator().setEstimator(est)
        .setEstimatorParamMaps(grid).setEvaluator(rmseEval)
        .setNumFolds(folds).setSeed(10)
      val cvModel = cv.fit(tr)
      val pred = cvModel.transform(te)
      val best = cvModel.bestModel
      val bestParams = best.extractParamMap().toSeq
        .sortBy(_.param.name)
        .map(p => s"${p.param.name}=${p.value}").mkString(";")
      val nFeat = best match {
        case m: org.apache.spark.ml.PredictionModel[_, _] => m.numFeatures
        case _ => -1
      }
      ModelResult(name, selector, rmseEval.evaluate(pred),
        r2Eval.evaluate(pred), bestParams, nFeat)
    }
    tr.unpersist(); te.unpersist()
    out
  }

  /** End-to-end: clean → engineer → corr-prune → featurize → FDR/FWE ×
    * LR/DTR/RFR. Returns one row per (selector, model). */
  def run(flights: DataFrame, planes: DataFrame, folds: Int = 5): DataFrame = {
    val spark = flights.sparkSession
    import spark.implicits._
    val base = dropCorrelated(engineer(clean(flights, planes)))
    val feats = featurize(base).cache()
    val results = Seq("fdr", "fwe").flatMap { mode =>
      train(select(feats, mode), mode, folds)
    }
    feats.unpersist()
    results.toDF()
  }
}

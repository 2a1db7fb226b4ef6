package graft.bench

import graft.pipeline.{CalibEst, SurveyIntegration}
import graft.sampling.{Population, Pps}
import graft.stats.CoxPH
import graft.weights.{Composite, Ipsw}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The slice of one Monte-Carlo replicate of the paper's non-informative
  * design that the benchmark times, composed from the library's public
  * calls in `Simulation.run`'s order: the two PPS draws, the propensity
  * fit, and the blended-weight GREG calibration of error scenario 1
  * (`calib_ipsw.d1`). `CalibEst.run` itself runs the Cox fit, the
  * influence deviates, Breslow, Gail and absolute risk.
  *
  * Each step runs inside `step(name)`, so a tracer can time it and
  * parent the Spark jobs it submits. `SimReplicateSpec` pins the rows
  * to `Simulation.run` bit for bit.
  */
object SimReplicate {

  /** A step wrapper: times `f` under `name`. */
  trait Steps { def apply[A](name: String)(f: => A): A }
  object NoSteps extends Steps { def apply[A](name: String)(f: => A): A = f }

  /** The benchmark's population; the test runs a smaller one. */
  val PopulationSize = 20000L
  val NCohort = 600
  val NSurvey = 300
  val TStar: Seq[Double] = (1 to 15).map(_.toDouble)
  val Method = "calib_ipsw.d1"
  val StepNames: Seq[String] = Seq("pps", "propensity", "calib")
  val xCols: Seq[String] = Seq("x1", "x2", "x3")

  /** Simulation's settings with only the first measurement-error
    * scenario, the one `calib_ipsw.d1` reads. */
  def simConfig(populationSize: Long): graft.pipeline.Simulation.Config = {
    val c = graft.pipeline.Simulation.Config()
    c.copy(populationSize = populationSize, nCohort = NCohort, nSurvey = NSurvey,
      tStar = TStar, fullBattery = true, errorScenarios = c.errorScenarios.take(1))
  }

  /** What `Simulation.run` builds once before its replicate loop. */
  final case class Prepared(
      populationSize: Long,
      pop: DataFrame,
      popN: Double,
      popN1: Double,
      truthBeta: Array[Double],
      popLambda: DataFrame)

  def prepare(spark: SparkSession, populationSize: Long = PopulationSize): Prepared = {
    val sim = simConfig(populationSize)
    val pop = Population.withErrorScenarios(
        Population.generate(spark, populationSize, sim.beta), sim.errorScenarios)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val agg = pop.agg(count(lit(1)).cast("double"),
      sum(col("d").cast("double"))).head()
    val truth = CoxPH.fit(pop, col("t"), col("d"), col("w"), xCols.map(col))
    val popLambda = graft.hazard.GailHazard.lambdaStarPop(pop, col("t"),
        col("d"), col("w"), tStarGrid = TStar)
      .select(col("t"), col("lambda_star"))
      .persist()
    popLambda.count()
    Prepared(populationSize, pop, agg.getDouble(0), agg.getDouble(1),
      truth.coefficients, popLambda)
  }

  private def cohortOdds: Column = exp(col("x1") * -0.15 + col("x2") * 0.1)
  private def surveyOdds: Column = exp(col("x1") * 0.07 + col("x2") * 0.07)

  /** One replicate slice: the (method, param, value) rows
    * `Simulation.run` emits for `calib_ipsw.d1` and for the truth. */
  def run(p: Prepared, cohortSalt: Long, surveySalt: Long,
      step: Steps = NoSteps): Seq[(String, String, Double)] = {
    val (cohort, survey) = step("pps") {
      val c = Pps.draw(p.pop.withColumn("msize", cohortOdds), col("id"),
        col("msize"), NCohort, salt = cohortSalt).drop("msize")
      val s = Pps.draw(p.pop.withColumn("msize", surveyOdds), col("id"),
        col("msize"), NSurvey, salt = surveySalt).drop("msize")
      (c, s)
    }
    val withIpsw = step("propensity") {
      val a = NSurvey.toDouble / p.populationSize
      val psStack = SurveyIntegration.stack(cohort, survey, col("wt"))
        .withColumn("__wps", when(col("trt") === 1, 1.0).otherwise(col("w") * a))
      val ps = SurveyIntegration.propensityModel(psStack, xCols, col("__wps"))
      cohort.withColumn("ipsw", Ipsw.fromLinearPredictor(ps.score(cohort), a))
    }
    val calib = step("calib") {
      val alloc = Composite.allocation(withIpsw, col("ipsw"), survey, col("wt"))
      val com = SurveyIntegration.stack(withIpsw, survey, col("wt"))
        .withColumn("halfwt", col("wt") / 2.0)
        .withColumn("blend", when(col("trt") === 1, col("ipsw") * alloc.aCohort)
          .otherwise(col("wt") * alloc.aSurvey))
        .persist()
      try {
        val comI = com
          .withColumn("t_fit_1", when(col("trt") === 1, col("t")).otherwise(col("t_imp_1")))
          .withColumn("d_fit_1", when(col("trt") === 1, col("d")).otherwise(col("d_tilde_1")))
        CalibEst.run(comI, "t_tilde_1", "d_tilde_1", "blend", col("blend"),
          p.popN, p.popN1, xCols, TStar, Some(p.popLambda))
      } finally com.unpersist(blocking = true)
    }
    batteryRows(Method, calib) ++
      p.truthBeta.zipWithIndex.map { case (v, j) => ("truth", s"beta${j + 1}", v) }
  }

  /** The (method, param, value) rows `Simulation.run` emits per method. */
  def batteryRows(method: String, b: SurveyIntegration.Battery)
      : Seq[(String, String, Double)] =
    b.beta.zipWithIndex.map { case (v, j) => (method, s"beta${j + 1}", v) }.toSeq ++
      b.lambdaAt.toSeq.map { case (t, v) => (method, s"Lambda@$t", v) } ++
      b.gailAt.toSeq.map { case (t, v) => (method, s"LambdaG@$t", v) } ++
      b.absRiskAt.toSeq.map { case (t, v) => (method, s"absR@$t", v) }

  /** Output check: the method and the truth are present, β is finite,
    * and Λ, ΛG and absR are finite at every t*. Returns the failed
    * checks (empty ⇒ correct). */
  def check(rows: Seq[(String, String, Double)]): Seq[String] = {
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    def finite(v: Double) = !v.isNaN && !v.isInfinite
    val byMethod = rows.groupBy(_._1)
    if (byMethod.keySet != Set(Method, "truth"))
      bad += s"methods ${byMethod.keySet.toSeq.sorted.mkString(",")}"
    byMethod.foreach { case (m, rs) =>
      val params = rs.map(x => x._2 -> x._3).toMap
      if (params.size != rs.length) bad += s"$m repeats a parameter"
      val want = (1 to xCols.length).map(j => s"beta$j") ++ (if (m == "truth") Nil
        else TStar.flatMap(t => Seq(s"Lambda@$t", s"LambdaG@$t", s"absR@$t")))
      val absent = want.filterNot(params.contains)
      if (absent.nonEmpty) bad += s"$m lacks ${absent.take(3).mkString(",")}"
      if (!params.values.forall(finite)) bad += s"$m has non-finite values"
    }
    bad.toSeq
  }
}

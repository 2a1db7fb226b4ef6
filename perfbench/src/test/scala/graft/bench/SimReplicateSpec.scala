package graft.bench

import graft.pipeline.Simulation
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark composes the replicate from the library's public calls;
  * this pins the composition to `Simulation.run` so the two cannot drift. */
class SimReplicateSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("composed replicate matches Simulation.run(nSimu = 1, fullBattery) bit for bit") {
    val n = 6000L
    val keep = Set(SimReplicate.Method, "truth")
    val lib = Simulation.run(spark, SimReplicate.simConfig(n).copy(nSimu = 1))
      .filter(col("simu_id") === 1).collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getDouble(3))
      .filter { case ((m, _), _) => keep.contains(m) }.toMap

    // Simulation.run salts replicate k's draws with (1000 + k, 2000 + k)
    val mine = SimReplicate.run(SimReplicate.prepare(spark, n), 1001L, 2001L)
    val composed = mine.map { case (m, p, v) => (m, p) -> v }.toMap

    assert(composed.size == mine.length, "duplicate (method, param) rows")
    assert(composed.keySet == lib.keySet)
    val differ = lib.collect { case (k, v) if
      java.lang.Double.doubleToLongBits(v) !=
        java.lang.Double.doubleToLongBits(composed(k)) => k }
    assert(differ.isEmpty, s"values differ: ${differ.take(5)}")
    assert(SimReplicate.check(mine).isEmpty, SimReplicate.check(mine))
    assert(SimReplicate.check(mine.filterNot(_._2 == "absR@7.0"))
      .exists(_.contains("lacks absR@7.0")))
  }
}

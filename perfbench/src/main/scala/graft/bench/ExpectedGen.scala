package graft.bench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes the catalog's stored expectations.
  *
  *   graft.bench.ExpectedGen <dataDir> <outDir>
  *
  * Runs `graft.Verify` on the benchmark's queries under the benchmark's
  * session config: one parquet result per query in `<outDir>/<name>/`
  * and `<outDir>/oracle_sql.json`, the dump `tools/verify_local.py`
  * checks against the DuckDB oracles. It then hashes each dumped
  * result into `<outDir>/expected.tsv` (see `Expected`).
  * `make_expected.py` runs both and keeps the file only if every oracle
  * matches.
  */
object ExpectedGen {
  private def session(): SparkSession = {
    val b = SparkSession.builder().appName("graft-bench-expected")
    Run.sessionConf(new java.io.File(System.getProperty("java.io.tmpdir")))
      .foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val Array(data, out) = args
    val names = Catalog.Queries
    // Verify takes the session this one started, and stops it
    session()
    graft.Verify.main(Array(data, out, names.mkString(",")))
    val spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    val oracles = graft.SparkEntry.oracleSql
    val lines = names.map { name =>
      val df = spark.read.parquet(s"$out/$name")
      val rows = df.collect()
      Expected.line(name, Catalog.Expected(
        if (oracles.contains(name)) Some(Catalog.hash(df.columns.toSeq, rows)) else None,
        rows.length.toLong))
    }
    Files.writeString(Paths.get(s"$out/expected.tsv"), lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}

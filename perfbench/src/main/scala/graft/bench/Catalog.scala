package graft.bench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** The catalog workload and its output checks.
  *
  * The catalog splits into two families by name: the survey family is
  * every `m<digits>_…` query (survey, weighting, fitting, hazard and
  * variance), the data-ops family is everything else. A run measures a
  * fixed subset of each family, sized so four warm passes fit a
  * benchmark run; `checkPartition` fails the run if the families stop
  * covering `SparkEntry.names` exactly or a subset leaves its family.
  */
object Catalog {

  def isSurvey(name: String): Boolean = name.matches("m\\d+_.*")

  /** Survey family subset: the GREG calibration (weights), the
    * jackknifed Cox fit (variance, stats) and the PPS sampler
    * (sampling). */
  val Survey: Seq[String] = Seq("m7_greg", "m14_cox_jk", "m15_pps")

  /** Data-ops subset: the streamed dedup screen (streaming, llm; it
    * leaks a temp directory per run), MinHash dedup clusters (llm) and
    * two data sources (sources). */
  val DataOps: Seq[String] = Seq(
    "d14_stream_screen", "d6_dedup_cluster", "s16_event_source", "s3_population")

  val Workload = "catalog_sf0.001"
  val Queries: Seq[String] = Survey ++ DataOps

  def family(name: String): String = if (isSurvey(name)) "survey" else "dataops"

  /** Problems with the family split; empty when the two families are
    * disjoint, cover every declared query, and contain both subsets. */
  def checkPartition(names: Seq[String]): Seq[String] = {
    val all = names.toSet
    val (survey, dataops) = names.partition(isSurvey)
    val bad = Seq.newBuilder[String]
    if (names.distinct.length != names.length) bad += "duplicate query names"
    if ((survey.toSet intersect dataops.toSet).nonEmpty) bad += "families overlap"
    if ((survey.toSet ++ dataops.toSet) != all) bad += "families miss queries"
    val unknown = (Survey ++ DataOps).filterNot(all.contains)
    if (unknown.nonEmpty) bad += s"unknown queries: ${unknown.mkString(",")}"
    if (!Survey.forall(isSurvey)) bad += "survey subset leaves its family"
    if (DataOps.exists(isSurvey)) bad += "data-ops subset leaves its family"
    bad.result()
  }

  /** Canonical text of one value: order-free for maps, exact for
    * doubles (the queries round their own outputs), −0.0 folded to 0.0. */
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d == 0.0) "0.0" else d.toString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case s: scala.collection.Map[_, _] =>
      s.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case o => o.toString
  }

  /** SHA-256 over the result with columns sorted by name and rows
    * sorted, so the hash is independent of column and row order. */
  def hash(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u001f")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns).mkString("\u001f").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l =>
      md.update('\n'.toByte); md.update(l.getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** One stored expectation: a result hash for oracle-checked queries,
    * a row count for rows-only ones. */
  final case class Expected(hash: Option[String], rows: Long)

  def check(e: Option[Expected], columns: Seq[String], rows: Array[Row]): Boolean =
    e.exists(x => x.rows == rows.length && x.hash.forall(_ == hash(columns, rows)))
}

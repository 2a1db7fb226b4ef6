package graft.bench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The stored per-query expectations: one `name<TAB>hash<TAB>rows` line
  * per query, `-` for the hash of a rows-only query. Written by
  * `graft.bench.ExpectedGen` and validated against the DuckDB oracles by
  * `make_expected.py` before it is committed. */
object Expected {
  def load(path: String): Map[String, Catalog.Expected] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val Array(name, h, rows) = l.split('\t')
      name -> Catalog.Expected(if (h == "-") None else Some(h), rows.toLong)
    }.toMap

  def line(name: String, e: Catalog.Expected): String =
    s"$name\t${e.hash.getOrElse("-")}\t${e.rows}"
}

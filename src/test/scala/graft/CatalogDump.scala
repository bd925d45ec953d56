package graft

import java.nio.file.{Files, Paths}

/** Writes the catalog's contract: the sorted `SparkEntry.queries` keys,
  * then every `SparkEntry.oracleSql` entry as `key<TAB>sql`, sorted by key.
  * Two checkouts whose dumps are byte-identical expose the same queries
  * under the same oracles. No Spark session is started.
  *
  * Usage: sbt "Test/runMain graft.CatalogDump <file>"
  */
object CatalogDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.CatalogDump <file>")
    val keys = SparkEntry.queries.keySet.toSeq.sorted
    val sql = SparkEntry.oracleSql.toSeq.sorted
    val lines = (s"queries ${keys.size}" +: keys) ++
      (s"oracleSql ${sql.size}" +: sql.map { case (k, v) => s"$k\t$v" })
    Files.write(Paths.get(args(0)), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    println(s"wrote ${keys.size} queries and ${sql.size} oracleSql entries to ${args(0)}")
  }
}

package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Per-session memo for the catalog's shared frames and driver-side
  * models: `SessionMemo(spark, "docPairs", dir, bands, rows) { ... }`
  * builds its value once per (session, name, params) and returns the
  * same value to every later call with that key.
  *
  * Contract:
  *  - The key is the session, the memo name and EVERY value the build
  *    reads (source directory, cell counts, banding parameters, ...); a
  *    value left out of the key would silently serve one parameter's
  *    result to another. The sources behind the key (e.g. the parquet
  *    under `dir`) must be immutable for the session's lifetime.
  *  - Each key holds a lazy cell that is forced OUTSIDE the map
  *    operation, so a builder may call other memos (`docPairs` reads
  *    `docShingles`) without nesting `computeIfAbsent` on the shared map,
  *    which throws `IllegalStateException: Recursive update`.
  *  - Concurrent callers of one key block on its cell and the builder
  *    runs once. A build that throws is not kept (a lazy val whose
  *    initializer throws stays unset): the next call retries.
  *  - Entries of STOPPED sessions are purged on every call, so a
  *    long-lived JVM cycling sessions (test suites, repeated bench mains)
  *    does not accumulate dead session/block references.
  *
  * The builder owns materialization (`localCheckpoint`, an iterative
  * resolve, a driver-side model): the memo only decides when it runs.
  */
object SessionMemo {

  private final class Cell(build: => Any) {
    lazy val value: Any = build
  }

  private val cells = new ConcurrentHashMap[(SparkSession, String, Seq[Any]), Cell]

  def apply[T](spark: SparkSession, name: String, params: Any*)(build: => T): T = {
    cells.keySet.removeIf(_._1.sparkContext.isStopped)
    cells.computeIfAbsent((spark, name, params.toList), _ => new Cell(build))
      .value.asInstanceOf[T]
  }
}

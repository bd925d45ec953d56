package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-backed table catalog emulating Iceberg-style idempotent
  * partition-overwrite semantics (no Iceberg runtime jar exists in this
  * sandbox — SURVEY.md §7.0). All table I/O goes through this one object so
  * switching to a real Iceberg catalog (`df.writeTo(t).overwritePartitions()`)
  * is a config-only change.
  *
  * `overwritePartitions` uses Spark's dynamic partition-overwrite mode: only
  * the partitions present in the incoming DataFrame are replaced, and the
  * file-source committer's rename-based commit makes reruns converge —
  * the same idempotent-upsert semantics the reference implements with
  * temp-file + atomic rename
  * (reference: internal/shared/filestorages/file_storage.go:113-150).
  */
final class TranscriptCatalog(val root: String, val spark: SparkSession) {

  private def path(table: String): String = s"$root/$table"

  def overwritePartitions(df: DataFrame, table: String, partitionCols: Seq[String]): Unit = {
    val w = df.write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path(table))
  }

  def append(df: DataFrame, table: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("append")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path(table))
  }

  def read(table: String): DataFrame = spark.read.parquet(path(table))

  /** Recursive listing of `table`'s `partitionCol=...` directories (any
    * nesting depth) — the ONE walk under both partition GC and partition
    * listing. Pure FS metadata, no data scan.
    */
  private def partitionDirs(
      table: String,
      partitionCol: String
  ): (org.apache.hadoop.fs.FileSystem, Seq[org.apache.hadoop.fs.Path]) = {
    import org.apache.hadoop.fs.Path
    val base = new Path(path(table))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return (fs, Nil)
    val prefix = partitionCol + "="
    def walk(p: Path): Seq[Path] =
      fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
        if (st.getPath.getName.startsWith(prefix)) Seq(st.getPath)
        else walk(st.getPath)
      }
    (fs, walk(base))
  }

  /** Delete every `partitionCol=value` directory of `table` (at any nesting
    * depth) for which `drop(value)` holds. Crash-recovery GC: a run that
    * died after its partition writes but before its manifest commit leaves
    * orphan partitions; if the replay's data no longer produces some
    * (route, window) a dynamic partition overwrite would never clear them,
    * so they are cleared explicitly before the write. Pure file-system
    * metadata work — no data scan.
    */
  def dropPartitions(table: String, partitionCol: String, drop: String => Boolean): Seq[String] = {
    val prefix = partitionCol + "="
    val (fs, dirs) = partitionDirs(table, partitionCol)
    val victims = dirs.filter(p => drop(p.getName.stripPrefix(prefix)))
    victims.foreach(p => fs.delete(p, true))
    victims.map(_.toString)
  }

  def exists(table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** True iff `table` carries the file committer's `_SUCCESS` marker — the
    * write that produced it COMMITTED. `exists` alone cannot distinguish a
    * committed table from the `_temporary` debris of a crashed write, and
    * a recovery path that trusts debris rebuilds from partial data.
    */
  def committed(table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"${path(table)}/_SUCCESS")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  /** Names of `table`'s data files (recursive; FS metadata only, commit
    * markers and hidden files excluded). Used by format-migration checks.
    */
  def dataFileNames(table: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val base = new Path(path(table))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Nil
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath) else Seq(st.getPath.getName)
      }
    walk(base).filterNot(n => n.startsWith("_") || n.startsWith("."))
  }

  /** Delete `table`'s directory entirely (migration/rebuild use). */
  def deleteTable(table: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Existing `partitionCol=value` values of `table` — the read side of
    * the shared `partitionDirs` walk.
    */
  def listPartitionValues(table: String, partitionCol: String): Seq[String] = {
    val prefix = partitionCol + "="
    partitionDirs(table, partitionCol)._2.map(_.getName.stripPrefix(prefix))
  }

  // ------------------------------------------------------------------
  // Bucketed tables. Spark persists bucketing metadata in the SESSION
  // catalog (not in the parquet files), so a bucketed table written by a
  // previous run/session must be RE-REGISTERED before its bucketing is
  // usable — `ensureBucketed` issues the external-table DDL idempotently,
  // pointing at this catalog's directory. The bucket ids themselves live
  // in the file names Spark wrote, so re-registration is metadata-only.
  // ------------------------------------------------------------------

  /** Session-catalog table name for `table` — unique per catalog ROOT so
    * two catalogs in one session (e.g. two test fixtures) never collide.
    */
  def bucketedName(table: String): String =
    "graft_" + java.lang.Long.toHexString(
      root.foldLeft(1125899906842597L)((h, c) => 31 * h + c).abs) + "_" + table

  /** On-disk bucket spec (`_bucket_spec` next to the table's data files —
    * the `_` prefix hides it from data-file listings): bucketing metadata
    * otherwise lives ONLY in the session catalog, so a later session that
    * re-registers the table with a different bucket count would make Spark
    * trust a hash layout the files don't satisfy — and a bucketed
    * "exchange-free" join silently MISSES rows (round-4 advice, medium).
    * The first writer persists the spec; every later registration
    * validates against it and fails fast on mismatch.
    */
  private def bucketSpecPath(table: String) =
    new org.apache.hadoop.fs.Path(s"${path(table)}/_bucket_spec")

  private def readBucketSpec(table: String): Option[(Seq[String], Int)] = {
    val p = bucketSpecPath(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val line = try scala.io.Source.fromInputStream(in).mkString.trim
    finally in.close()
    // Explicit parse with a descriptive error (round-5 advice, low): a
    // corrupt spec must say so, not die as a bare MatchError that wedges
    // every later registration with no hint at the cause.
    line.split(";") match {
      case Array(cols, n) if cols.nonEmpty && n.matches("""\d+""") =>
        Some((cols.split(",").toSeq, n.toInt))
      case _ => throw new IllegalStateException(
        s"corrupt bucket spec for '$table' at $p (content: '$line'; expected " +
          "'col1,col2;nBuckets') — delete the file and re-register, or " +
          "restore it from the writer's bucket layout")
    }
  }

  private def writeBucketSpec(table: String, bucketCols: Seq[String], nBuckets: Int): Unit = {
    val p = bucketSpecPath(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Temp + atomic rename (round-5 advice, low): a crash mid-write must
    // never leave a truncated spec — the reader either sees no spec (first
    // writer re-creates it) or a complete one.
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s"._bucket_spec.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"${bucketCols.mkString(",")};$nBuckets".getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) throw new java.io.IOException(
      s"failed to commit bucket spec for '$table': rename $tmp -> $p")
  }

  /** Write a small sidecar blob (a sketch, a manifest) under `table`'s
    * directory with the same temp + atomic-rename commit protocol as the
    * bucket spec: a reader sees either no blob or a complete one, never a
    * truncated write. `name` should start with `_` so parquet scans of the
    * table ignore it.
    */
  def writeBlob(table: String, name: String, bytes: Array[Byte]): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"${path(table)}/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes)
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) throw new java.io.IOException(
      s"failed to commit blob '$name' for '$table': rename $tmp -> $p")
  }

  /** Delete a sidecar blob; a no-op when absent. Used to INVALIDATE
    * derived state (a sketch) before mutating what it was derived from.
    */
  def deleteBlob(table: String, name: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"${path(table)}/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Read a sidecar blob written by [[writeBlob]]; None if absent. */
  def readBlob(table: String, name: String): Option[Array[Byte]] = {
    val p = new org.apache.hadoop.fs.Path(s"${path(table)}/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      Some(bos.toByteArray)
    } finally in.close()
  }

  /** Register `table` as an external bucketed parquet table (idempotent).
    * `schemaDdl` is the column list (bucketing DDL cannot infer schema);
    * bucket+sort columns and count must match every writer — enforced
    * against the persisted on-disk spec, not trusted from the caller.
    * `partitionCols` adds directory partitioning ON TOP of the bucketing
    * (each partition's files are bucketed; a scan across partitions still
    * reports the bucket hash partitioning, so joins on the bucket columns
    * stay exchange-free while partition-column filters prune directories).
    */
  def ensureBucketed(
      table: String,
      schemaDdl: String,
      bucketCols: Seq[String],
      nBuckets: Int,
      partitionCols: Seq[String] = Nil
  ): String = {
    readBucketSpec(table) match {
      case Some((cols, n)) =>
        require(cols == bucketCols && n == nBuckets,
          s"bucket spec mismatch for '$table': files were written CLUSTERED BY " +
            s"(${cols.mkString(", ")}) INTO $n BUCKETS, caller requested " +
            s"(${bucketCols.mkString(", ")}) INTO $nBuckets — a mismatched " +
            "registration would silently mis-join; migrate the table instead")
      case None => writeBucketSpec(table, bucketCols, nBuckets)
    }
    val name = bucketedName(table)
    if (!spark.catalog.tableExists(name)) {
      val partDdl =
        if (partitionCols.isEmpty) ""
        else s"PARTITIONED BY (${partitionCols.mkString(", ")})\n"
      spark.sql(
        s"""CREATE TABLE $name ($schemaDdl) USING parquet
           |${partDdl}CLUSTERED BY (${bucketCols.mkString(", ")})
           |SORTED BY (${bucketCols.mkString(", ")})
           |INTO $nBuckets BUCKETS
           |LOCATION '${path(table)}'""".stripMargin)
      // A table created over pre-existing partition directories must
      // discover them (datasource DDL does not scan for partitions).
      if (partitionCols.nonEmpty)
        spark.sql(s"MSCK REPAIR TABLE $name")
    }
    name
  }

  /** Append to a bucketed table registered via `ensureBucketed`. Each
    * append writes files pre-hashed into the same `nBuckets` layout, so
    * every future join/aggregate on the bucket columns reads the store
    * side shuffle-free — the point of the store being bucketed.
    */
  def appendBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      nBuckets: Int,
      partitionCols: Seq[String] = Nil
  ): Unit = {
    val w = df.write
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("append")
      .format("parquet")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .saveAsTable(bucketedName(table))
  }

  /** Drop one value of a bucketed table's partition column: catalog entry
    * first (so a metastore-tracked partition never dangles over deleted
    * files), then the directory. Used by versioned-store retraction.
    */
  def dropBucketedPartition(table: String, partitionCol: String, value: String): Unit = {
    // The value lands inside SQL quotes AND a partition directory name —
    // reject anything that could break either (a quote breaks the ALTER,
    // a '/' or '=' breaks the set_id=<value> directory protocol).
    require(value.matches("[A-Za-z0-9._-]+"),
      s"partition value '$value' must match [A-Za-z0-9._-]+ (it becomes " +
        "a quoted SQL literal and a partition directory name)")
    val name = bucketedName(table)
    if (spark.catalog.tableExists(name))
      spark.sql(
        s"ALTER TABLE $name DROP IF EXISTS PARTITION ($partitionCol = '$value')")
    dropPartitions(table, partitionCol, _ == value)
  }

  /** Read a bucketed table THROUGH the session catalog (a plain
    * `spark.read.parquet` of the same files would silently drop the
    * bucketing and re-shuffle in every join).
    */
  def readBucketed(table: String): DataFrame = spark.table(bucketedName(table))
}

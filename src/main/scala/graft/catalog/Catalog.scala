package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table IO seam — the reference talks to MinIO (s3a parquet), MySQL
  * and SQL Server (JDBC) (reference: bronze.py:21-45, gold.py:36-54,
  * platinum.py:31-39); operators should not care which. Everything in
  * the engine reads/writes through this trait, so swapping object-store
  * or JDBC backends touches no operator code.
  */
trait TableCatalog {
  def read(spark: SparkSession, table: String): DataFrame
  def exists(spark: SparkSession, table: String): Boolean
  def append(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit
  def overwrite(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit

  /** Replace only the partitions present in `df`, leaving the rest of
    * the table untouched — the idempotent unit-of-work write for
    * monthly backfills, and the contract
    * [[graft.streaming.IngestLoop]]'s touched-partition component
    * rewrite depends on. There is deliberately NO default: a fallback
    * to whole-table overwrite would silently delete every untouched
    * partition the first time a new backend met an incremental
    * pipeline, and a fallback to append would double rows on re-runs —
    * both strictly worse than failing loudly. Backends that cannot
    * express it genuinely (keyed delete-then-insert counts; see
    * [[JdbcCatalog]]) must say so here. */
  def replacePartitions(df: DataFrame, table: String,
                        partitionBy: Seq[String]): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getName} does not implement partition-replace " +
        s"semantics (table $table); refusing to guess between " +
        "overwrite (drops untouched partitions) and append (double " +
        "rows on re-run)")

  /** Whether [[replacePartitions]] is genuinely implemented. Callers
    * whose protocol DEPENDS on partition-replace (the ingest loop's
    * component rewrite) check this up front and fail at setup — a
    * backend that would throw mid-protocol, after a commit marker is
    * already down, would otherwise wedge recovery. Keep in sync with
    * the override. */
  def supportsPartitionReplace: Boolean = false

  /** Remove `table` entirely (recursive delete / DROP TABLE); a no-op
    * when it does not exist. Exists for small protocol tables (intent
    * markers, staging) — dropping a data table is a caller decision
    * this API does not second-guess. */
  def drop(spark: SparkSession, table: String): Unit
}

/** Directory-of-parquet catalog (the offline stand-in for MinIO/JDBC;
  * an `s3a://` root works unchanged given hadoop-aws credentials).
  * Partitioned writes give downstream partition pruning for free.
  */
final class ParquetCatalog(val root: String) extends TableCatalog {
  private def path(table: String) = s"$root/$table"

  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(path(table))

  override def exists(spark: SparkSession, table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    // the SESSION's hadoop conf, not a fresh Configuration(): object
    // stores are configured there (fs.s3a.* credentials/impl), and a
    // default-constructed conf would not see them
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  override def append(df: DataFrame, table: String, partitionBy: Seq[String]): Unit = {
    val w = df.write.mode("append")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path(table))
  }

  override def overwrite(df: DataFrame, table: String, partitionBy: Seq[String]): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path(table))
  }

  override def drop(spark: SparkSession, table: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true) // returns false when absent — the no-op case
  }

  override def supportsPartitionReplace: Boolean = true

  /** Dynamic partition overwrite: only partitions with incoming rows
    * are rewritten, so "materialize 1996-03" never clobbers the other
    * months. */
  override def replacePartitions(df: DataFrame, table: String,
                                 partitionBy: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*)
      .parquet(path(table))

  /** Small-file compaction — the maintenance job every incremental
    * sink needs: streaming/batch appends accumulate files per
    * micro-batch, and at 100 TB a table of million-row-total,
    * thousand-file partitions wastes its scan time on open/footer
    * overhead and floods the driver with file listings. Rewrites an
    * unpartitioned table — or ONE partition subtree via `partition`
    * like "month=1996-03"; a partitioned root refuses a flat rewrite —
    * into ≈`targetBytes`-sized files, computed from the CURRENT
    * on-disk size, never a guessed constant, preserving values
    * byte-for-byte (CompactionSpec pins data equality and the
    * file-count drop). Scratch dirs are underscore-prefixed siblings
    * (invisible to partition discovery, so concurrent readers never
    * see a phantom copy), the install is a rename pair with crash
    * recovery on re-entry — a died compaction re-runs to completion.
    *
    * WRITER fencing is the caller's: like any rewrite of a Hive-style
    * directory table without a transaction log, compaction requires
    * EXCLUSIVE write access — an append landing between the rewrite
    * read and the swap would be discarded with the old files. Run it
    * in the maintenance window between appends (the partition-scoped
    * form compacts yesterday's partition after its last append).
    * The swap's atomicity is the filesystem's rename: on HDFS-like
    * stores (atomic directory rename) every crash point either
    * restores, finishes cleanup via the marker, or refuses loudly —
    * never a silent partial compact. READERS: each rename is atomic
    * but the PAIR is not — between moving the old directory aside and
    * installing the compacted copy the table/partition path is briefly
    * absent, so a concurrent read in that window can fail with
    * FileNotFound and should simply retry; what the protocol
    * guarantees is that no reader ever sees a partial or phantom copy,
    * not uninterrupted availability. Raw S3A renames are copy+delete
    * and can strand a PARTIAL directory that defeats the marker
    * protocol; do not run compact there — use a table format for
    * transactional compaction on object stores (the s3a path of this
    * catalog is for reads/writes, which are committer-protected). */
  def compact(spark: SparkSession, table: String,
              partition: Option[String] = None,
              targetBytes: Long = 128L * 1024 * 1024): Unit = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val rel = partition.map(p => s"$table/$p").getOrElse(table)
    val dir = new org.apache.hadoop.fs.Path(path(rel))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // scratch dirs are SIBLINGS of the target but underscore-prefixed:
    // Spark's partition discovery ignores _-prefixed paths, so a
    // concurrent whole-table read during compaction never sees the
    // half-written copy as a phantom partition value
    def scratch(suffix: String) = new org.apache.hadoop.fs.Path(
      dir.getParent, "_" + dir.getName + suffix)
    val tmp = scratch("__compacting")
    val bak = scratch("__old")
    // crash recovery: a previous run that died between the two renames
    // left the data under the backup name — restore it first, so
    // re-running a crashed compaction is genuinely idempotent
    if (!fs.exists(dir) && fs.exists(bak)) {
      if (!fs.rename(bak, dir)) throw new java.io.IOException(
        s"compact: could not restore $bak after a previous crash")
    }
    // BOTH present: either (a) a run crashed AFTER installing the
    // compacted copy but before deleting the backup — the installed
    // dir carries the marker written into tmp, so finish the cleanup —
    // or (b) a rename died midway on a filesystem whose rename is
    // copy-then-delete (raw S3A). Proceeding under (b) would compact
    // the partial dir and then DELETE the rows stranded in the backup,
    // so refuse loudly and leave both for manual reconciliation.
    val marker = new org.apache.hadoop.fs.Path(dir, "_GRAFT_COMPACTED")
    if (fs.exists(dir) && fs.exists(bak)) {
      if (fs.exists(marker)) fs.delete(bak, true)
      else throw new java.io.IOException(
        s"compact: both $dir and $bak exist and $dir carries no " +
          "compaction marker — a previous swap did not complete " +
          "atomically (object-store rename?); reconcile manually " +
          "before re-running")
    }
    // a partition-structured root must compact per partition — a flat
    // rewrite would fold the directory-encoded keys into the files and
    // silently destroy pruning + dynamic partition overwrite
    val partitioned = fs.listStatus(dir).exists(s =>
      s.isDirectory && s.getPath.getName.contains("="))
    require(!partitioned, s"compact: $dir contains partition " +
      "subdirectories — compact each partition (partition = Some(\"k=v\"))")
    // drop any marker left by a PREVIOUS successful compaction before
    // this run's renames: within one run, a marker in `dir` can then
    // only mean THIS run's install completed (it rode in with tmp) —
    // without this, a stale marker would make the both-present branch
    // misread a partial dir as an installed one
    fs.delete(marker, false)
    val bytes = fs.getContentSummary(dir).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(dir.toString)
    // coalesce, not repartition: merging files needs no shuffle
    df.coalesce(nFiles).write.mode("overwrite").parquet(tmp.toString)
    // the marker rides the rename into the installed dir (underscore-
    // prefixed: invisible to partition discovery and parquet reads)
    fs.create(new org.apache.hadoop.fs.Path(tmp, "_GRAFT_COMPACTED"), true).close()
    if (fs.exists(bak)) fs.delete(bak, true)
    if (!fs.rename(dir, bak))
      throw new java.io.IOException(s"compact: could not move $dir aside")
    if (!fs.rename(tmp, dir)) {
      fs.rename(bak, dir) // roll back
      throw new java.io.IOException(s"compact: could not install $tmp")
    }
    fs.delete(bak, true)
  }
}

/** JDBC catalog matching the reference's warehouse sinks (gold.py:36-54
  * MySQL, platinum.py:31-39 SQL Server). Backed by stock Spark JDBC;
  * round-tripped in CI against embedded Derby (JdbcCatalogSpec) — the
  * MySQL / SQL Server swap is a URL + driver property, no code change,
  * and `NycPipeline` is catalog-agnostic either way.
  */
final class JdbcCatalog(url: String, props: java.util.Properties) extends TableCatalog {
  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.jdbc(url, table, props)
  override def exists(spark: SparkSession, table: String): Boolean =
    scala.util.Try(read(spark, table).schema).isSuccess
  override def append(df: DataFrame, table: String, partitionBy: Seq[String]): Unit =
    df.write.mode("append").jdbc(url, table, props)
  override def overwrite(df: DataFrame, table: String, partitionBy: Seq[String]): Unit =
    df.write.mode("overwrite").jdbc(url, table, props)
  override def drop(spark: SparkSession, table: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"DROP TABLE $table")
      catch { case _: java.sql.SQLException => () } // absent: no-op
      finally st.close()
    } finally conn.close()
  }

  override def supportsPartitionReplace: Boolean = true

  /** Genuine partition-replace for a keyed warehouse: DELETE the rows
    * of every partition value present in `df`, then append — the SQL
    * twin of dynamic partition overwrite. Correct because partition
    * columns are by contract low-cardinality unit-of-work keys (a
    * month, an id-hash bucket): the distinct tuple set is
    * driver-sized, and each tuple maps to one parameterized DELETE.
    * NOT transactional across the delete/insert pair — like the
    * parquet form, a crash between them needs the caller's marker
    * protocol on re-run (the re-run's DELETE clears the partial
    * landing, so re-running IS the recovery). */
  override def replacePartitions(df: DataFrame, table: String,
                                 partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty, "replacePartitions needs partition columns")
    if (exists(df.sparkSession, table)) {
      val tuples = df.select(partitionBy.map(col => df(col)): _*)
        .distinct().collect()
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        // identifiers must be quoted the way Spark's writer created
        // them (Derby folds unquoted names to upper case)
        val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
        def deleteWith(colExpr: String => String): Unit = {
          val where = partitionBy
            .map(c => s"${colExpr(dialect.quoteIdentifier(c))} = ?")
            .mkString(" AND ")
          val ps = conn.prepareStatement(s"DELETE FROM $table WHERE $where")
          try tuples.foreach { row =>
            partitionBy.indices.foreach(i => ps.setObject(i + 1, row.get(i)))
            ps.executeUpdate()
          } finally ps.close()
        }
        // engines that store StringType as a large-object type (Derby:
        // CLOB) refuse equality on the raw column; the cast retry is
        // safe because partition deletes are idempotent
        try deleteWith(identity)
        catch { case _: java.sql.SQLException =>
          deleteWith(c => s"CAST($c AS VARCHAR(32672))")
        }
      } finally conn.close()
    }
    append(df, table, partitionBy)
  }

  /** Overwrite that TRUNCATEs instead of DROP+CREATE: the warehouse
    * table's own DDL — indexes, grants, a DBA-tuned type for a column
    * — survives the refresh. This is the mode a production mart
    * refresh (the platinum reports, rebuilt whole every run) wants
    * against a DBA-owned schema; plain [[overwrite]] re-emits Spark's
    * inferred DDL and silently discards anything the CREATE TABLE
    * carried beyond columns. Falls back to drop-and-recreate only if
    * the dialect reports truncation unsupported (Spark's own
    * `truncate` option contract). */
  def overwriteInPlace(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").option("truncate", "true")
      .jdbc(url, table, props)
}

object JdbcCatalog {
  /** The exact `CREATE TABLE` statement Spark's JDBC writer issues for
    * `schema` at `url` — dialect resolved from the URL alone and the
    * column list built by Spark's own `JdbcUtils.schemaString`, so this
    * is the real emitted DDL, not a replica. No embeddable MySQL / SQL
    * Server engine resolves in the offline sandbox, so the
    * dialect-sensitive surface is pinned as TEXT instead:
    * JdbcCatalogSpec asserts the full statement per dialect, and a
    * Spark upgrade that would alter the warehouse DDL fails CI rather
    * than failing the first production write
    * (reference sinks: gold.py:36-54 MySQL, platinum.py:31-39 SQL
    * Server). */
  def createTableDdl(url: String, table: String,
                     schema: org.apache.spark.sql.types.StructType): String = {
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    val cols = org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
      .schemaString(dialect, schema, caseSensitive = false, None)
    s"CREATE TABLE $table ($cols)"
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Managed-table plumbing shared by the session-persisted layouts
  * ([[Bucketed]] fact pairs, [[graft.operators.IvfIndex]] ANN indexes):
  * overwrite-safe DROP (clearing a stale warehouse location a previous
  * JVM left behind), partitioned writes, and append-into-partitioned.
  *
  * Partitioned managed tables are the IVF posting-list layout at 100 TB:
  * a probe filter on the partition column is partition PRUNING — the
  * scan never opens the unprobed cells' files.
  */
object Warehouse {

  /** DROP `table` and clear its default warehouse location.
    *
    * A fresh session's in-memory catalog doesn't know about a directory
    * left by a previous JVM, so a bare `mode(overwrite).saveAsTable`
    * would take the CREATE path and refuse the existing location
    * (LOCATION_ALREADY_EXISTS). Resolving the path through the catalog
    * itself (defaultTablePath) handles warehouse-dir URI encoding — a
    * percent-encoded path string-stripped of its `file:` prefix would
    * point at a non-existent directory and the stale dir would survive.
    */
  def dropWithLocation(spark: SparkSession, table: String): Unit = {
    require(!table.contains("."),
      s"dropWithLocation takes a single-part table name, got '$table'")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val uri = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(
        table.toLowerCase(java.util.Locale.ROOT)))
    val dir =
      if (uri.getScheme == "file") java.nio.file.Paths.get(uri)
      else java.nio.file.Paths.get(uri.getPath)
    if (java.nio.file.Files.exists(dir))
      graft.util.Paths.deleteRecursively(dir)
  }

  /** Write `df` as a parquet managed table partitioned by `partCol`
    * (directory-per-value layout → filters on `partCol` become
    * partition pruning). Overwrite-safe via [[dropWithLocation]].
    *
    * The shuffle by `partCol` first is the small-files guard: without
    * it every input task writes a fragment into every partition value
    * it sees (~tasks × values files — measured 3.8 s just to OPEN a
    * 391-cell index's files for one aggregate), with it each value's
    * rows co-locate and the layout lands ~one file per partition value.
    */
  /** `writerOptions` reach the parquet writer per-WRITE (e.g.
    * `parquet.block.size` in a layout experiment) — scoped to this
    * call, never a mutation of the shared session/hadoop config.
    */
  def writePartitioned(df: DataFrame, table: String, partCol: String,
      sortCols: Seq[String] = Nil,
      writerOptions: Map[String, String] = Map.empty): Unit = {
    import org.apache.spark.sql.functions.col
    dropWithLocation(df.sparkSession, table)
    sorted(df.repartition(col(partCol)), partCol :: Nil, sortCols)
      .write.format("parquet").options(writerOptions)
      .partitionBy(partCol).saveAsTable(table)
    refresh(df.sparkSession, table)
  }

  /** Cluster rows inside each write task by `sortCols` — the row-group
    * data-skipping lever: a pushed equality/IN predicate on a sort
    * column skips every row group whose min/max envelope excludes the
    * literal, turning an O(partition) scan into O(matching rows). The
    * same `sortWithinPartitions` the Z-order layout uses
    * ([[graft.functions.Layout]]), applied to the persisted serving
    * layouts (the text index clusters each term bucket by term).
    *
    * The partition column(s) LEAD the sort: FileFormatWriter requires
    * its output ordered by the partition columns and would otherwise
    * insert its own partition-only sort — an UNSTABLE sort that
    * scrambles the clustering this method just paid for.
    */
  private[graft] def sorted(df: DataFrame, partCols: Seq[String],
      sortCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (sortCols.isEmpty) df
    else df.sortWithinPartitions((partCols ++ sortCols).map(col): _*)
  }

  /** Write `df` as a plain (unpartitioned) parquet managed table —
    * model/metadata tables (centroids, manifests). Overwrite-safe.
    */
  def writeTable(df: DataFrame, table: String): Unit = {
    dropWithLocation(df.sparkSession, table)
    df.write.format("parquet").saveAsTable(table)
    refresh(df.sparkSession, table)
  }

  /** Append rows into an EXISTING partitioned managed table.
    * `insertInto` is position-based: `df`'s columns are re-ordered to
    * the table's schema by name first, so callers can pass any column
    * order.
    *
    * The append is repartitioned by the table's partition column(s)
    * first — the same small-files guard as [[writePartitioned]]:
    * without it every append task fragments a file into every cell it
    * touches, and nightly appends re-degrade the layout the
    * partitioned write just paid to establish.
    */
  def appendInto(df: DataFrame, table: String,
      sortCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val cols = spark.table(table).columns
    val partCols = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        table.toLowerCase(java.util.Locale.ROOT)))
      .partitionColumnNames
    val reordered = df.select(cols.map(col).toSeq: _*)
    val placed =
      if (partCols.isEmpty) reordered
      else reordered.repartition(partCols.map(col).toSeq: _*)
    sorted(placed, partCols, sortCols).write.insertInto(table)
    refresh(spark, table)
  }

  /** Rewrite the DATA of an existing unpartitioned managed table without
    * the DROP TABLE + delete-location + CREATE TABLE churn of
    * [[writeTable]] — `INSERT OVERWRITE` replaces the data files under
    * the same table definition in one write job (round-17: the per-batch
    * stats folds and tombstone rewrites in the streaming index drains
    * paid the full drop/create/refresh cycle per micro-batch).
    * PRECONDITION: the table exists; callers that may create fall back
    * to [[writeTable]]. As with writeTable, a frame derived FROM the
    * target table must be checkpointed first.
    */
  def overwriteInto(df: DataFrame, table: String): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val cols = spark.table(table).columns
    df.select(cols.map(col).toSeq: _*).write.mode("overwrite").insertInto(table)
    refresh(spark, table)
  }

  /** The session-wide FileStatusCache is keyed by PATH: if any earlier
    * query read a same-named table at this location, a rewrite would
    * otherwise serve the stale file list to the next scan
    * (FAILED_READ_FILE.FILE_NOT_EXIST on the old part files).
    */
  private def refresh(spark: SparkSession, table: String): Unit =
    spark.catalog.refreshTable(table)
}

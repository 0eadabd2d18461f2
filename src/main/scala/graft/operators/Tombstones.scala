package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Warehouse

/** The id-keyed delete lifecycle every persisted index shares — the
  * flat and quantized [[IvfIndex]] layouts and the [[TextIndex]]. A
  * takedown lands its ids in a bounded side-table (the delete-bitmap
  * design production indexes use — a takedown list is driver-bounded by
  * nature), every read path anti-joins it, and [[compact]] folds it
  * into a physical rewrite of ONLY the affected partitions:
  *
  *  - the side-table is `<postings>_tomb` ([[table]]), one long id
  *    column, created by the first [[delete]] and absent on an index
  *    that never deleted (zero plan overhead until the feature is used);
  *  - [[delete]] keeps set semantics: only ids not yet tombstoned
  *    append, so a repeated takedown writes nothing;
  *  - [[exclude]] is the read-path guard, a broadcast left-anti join —
  *    the table stays bounded between compactions by design;
  *  - [[clearReingested]] runs after an append: an appended id is live;
  *  - [[compact]] rewrites the partitions holding tombstoned rows, drops
  *    the partitions the deletes emptied, then drops the side-table.
  *
  * RE-INGEST CONTRACT: tombstones are keyed by ID, not by row version.
  * Re-appending a taken-down id before [[compact]] clears its
  * tombstone, which unblocks EVERY row with that id — the taken-down
  * row serves again beside the re-ingested one. Compact before
  * re-ingesting a taken-down id.
  */
object Tombstones {

  /** The tables of one persisted index. */
  trait Index {
    def postings: String
    /** Every table of the index except its tombstone table. */
    def tables: Seq[String]
  }

  def table(n: Index): String = s"${n.postings}_tomb"

  /** Tombstone `ids` (first column, cast to long). The ids never transit
    * the driver — the form a nightly publish uses when the removed set
    * is a corpus fraction; follow such a delete with [[compact]].
    */
  private[operators] def delete(spark: SparkSession, n: Index, idCol: String,
      ids: DataFrame): Unit =
    write(spark, n, idCol, ids, fresh = false)

  private[operators] def delete(spark: SparkSession, n: Index, idCol: String,
      ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "delete needs at least one id")
    import spark.implicits._
    write(spark, n, idCol, ids.toDF(idCol), fresh = false)
  }

  /** Append `ids` without the set check. PRECONDITION: none of `ids` is
    * already tombstoned — proved by the one caller,
    * `EventStream.maintainDrain`'s seen-set.
    */
  private[graft] def appendFresh(spark: SparkSession, n: Index, idCol: String,
      ids: Seq[Long]): Unit = {
    import spark.implicits._
    write(spark, n, idCol, ids.toDF(idCol), fresh = true)
  }

  /** APPEND only the genuinely new ids rather than read + union +
    * distinct + rewrite (the drop/create/refresh churn cost ~0.4 s per
    * streamed delete). The anti-join keeps the table an exact id set;
    * its checkpoint cuts lineage so the append never reads the table it
    * inserts into; a fully redundant delete skips the write. `fresh`
    * skips that anti-join + checkpoint + emptiness probe.
    */
  private def write(spark: SparkSession, n: Index, idCol: String,
      ids: DataFrame, fresh: Boolean): Unit = {
    val tombT = table(n)
    val add = ids.select(col(ids.columns.head).cast("long").as(idCol)).distinct()
    if (!spark.catalog.tableExists(tombT)) Warehouse.writeTable(add, tombT)
    else if (fresh) Warehouse.appendInto(add, tombT)
    else {
      val novel = add.join(spark.table(tombT), Seq(idCol), "left_anti")
        .localCheckpoint()
      if (!novel.isEmpty) Warehouse.appendInto(novel, tombT)
    }
  }

  /** `df` minus its tombstoned rows — the read-path guard. */
  private[operators] def exclude(spark: SparkSession, n: Index, idCol: String,
      df: DataFrame): DataFrame =
    if (spark.catalog.tableExists(table(n)))
      df.join(broadcast(spark.table(table(n))), Seq(idCol), "left_anti")
    else df

  /** `df`'s tombstoned rows only. */
  private[operators] def only(spark: SparkSession, n: Index, idCol: String,
      df: DataFrame): DataFrame =
    if (spark.catalog.tableExists(table(n)))
      df.join(broadcast(spark.table(table(n))), Seq(idCol), "left_semi")
    else df.limit(0)

  /** After an append: drop the tombstones of the appended `ids` (one
    * column named `idCol`) — see the re-ingest contract above. The
    * rewrite runs only when a tombstone matches: the overlap probe is
    * one limit-1 job on the bounded table, the rewrite it usually skips
    * a checkpoint + in-place overwrite.
    */
  private[operators] def clearReingested(spark: SparkSession, n: Index, idCol: String,
      ids: DataFrame): Unit = {
    val tombT = table(n)
    if (spark.catalog.tableExists(tombT)) {
      val batchIds = ids.distinct()
      val overlap = spark.table(tombT).join(batchIds, Seq(idCol), "left_semi")
      if (!overlap.isEmpty)
        Warehouse.overwriteInto(
          spark.table(tombT).join(batchIds, Seq(idCol), "left_anti")
            .localCheckpoint(),
          tombT)
    }
  }

  /** Fold the tombstones into the physical layout: rewrite ONLY the
    * `partCol` partitions holding tombstoned rows (dynamic partition
    * overwrite — untouched partitions' files never move), clustered by
    * `sortCols` inside each partition like the layout's own writes;
    * drop every partition the deletes emptied; drop the tombstone
    * table. IO is proportional to the affected partitions, not the
    * index.
    */
  private[operators] def compact(spark: SparkSession, n: Index, idCol: String,
      partCol: String, sortCols: Seq[String]): Unit = {
    val tombT = table(n)
    if (!spark.catalog.tableExists(tombT)) return
    val tomb = broadcast(spark.table(tombT))
    val post = spark.table(n.postings)
    val affected = post.join(tomb, Seq(idCol), "left_semi")
      .select(col(partCol)).distinct().collect().map(_.get(0))
    if (affected.nonEmpty) {
      // materialize the survivors BEFORE overwriting their own source
      // partitions (a lazy plan would read files the write deletes)
      val survivors = post
        .filter(col(partCol).isInCollection(affected))
        .join(tomb, Seq(idCol), "left_anti")
        .localCheckpoint()
      val kept = survivors.select(col(partCol))
        .distinct().collect().map(_.get(0)).toSet
      // dynamic partition overwrite must be set on the SESSION for
      // insertInto (the writer-level option is ignored on this path —
      // static mode would truncate the whole table); scoped + restored
      val modeKey = "spark.sql.sources.partitionOverwriteMode"
      val prevMode = spark.conf.get(modeKey, "STATIC")
      spark.conf.set(modeKey, "dynamic")
      try Warehouse.sorted(survivors.select(post.columns.map(col).toSeq: _*)
          .repartition(col(partCol)), Seq(partCol), sortCols)
        .write.mode("overwrite")
        .insertInto(n.postings)
      finally spark.conf.set(modeKey, prevMode)
      // a partition whose EVERY row was tombstoned has no survivor rows,
      // so dynamic overwrite never touches it — drop it explicitly or
      // the deleted rows resurrect
      affected.filterNot(kept).foreach { p =>
        spark.sql(s"ALTER TABLE ${n.postings} DROP IF EXISTS PARTITION ($partCol=$p)")
      }
      spark.catalog.refreshTable(n.postings)
    }
    Warehouse.dropWithLocation(spark, tombT)
  }

  /** Drop every table of the index, its tombstone table included. */
  def drop(spark: SparkSession, n: Index): Unit =
    (n.tables :+ table(n)).foreach(Warehouse.dropWithLocation(spark, _))
}

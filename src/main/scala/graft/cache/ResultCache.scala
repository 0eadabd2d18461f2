package graft.cache

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, from_json, to_json}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}

/** Driver-side LRU result cache with TTL and parquet checkpointing.
  *
  * Re-implements the reference's `TwitterSearchApp` cache semantics
  * (/root/reference/cache.py:48-126) with its quirks fixed (SURVEY §7.4#6):
  *  - keys are the full normalized parameter tuple (the reference caches
  *    hashtag results under `keyword=None`, cache.py:121);
  *  - the checkpoint is periodic/explicit, not a whole-cache upsert on
  *    every query (cache.py:125);
  *  - TTL is configurable (reference: infinite, cache.py:55);
  *  - concurrent misses on one key run one computation: later callers
  *    wait for the first one's result (or its exception).
  *
  * Caches *collected* results (the reference caches ≤50-row lists), not
  * DataFrames — for hot *tables* use `df.persist()`, a different tool.
  */
final class ResultCache(
    maxSize: Int = 100,
    ttlSeconds: Double = Double.PositiveInfinity,
    clock: () => Long = () => System.currentTimeMillis()) {
  import ResultCache._

  private case class Entry(rows: Seq[Row], schemaDDL: String, timestampMs: Long)

  private val entries = mutable.LinkedHashMap.empty[String, Entry]
  /** Keys being computed by a [[getOrElse]] miss; other misses wait on them. */
  private val inflight = mutable.HashMap.empty[String, Promise[Seq[Row]]]
  val hits = new AtomicLong(0)
  val misses = new AtomicLong(0)

  /** `namespace|k1=v1&k2=v2…`, params sorted by name. Each part is
    * [[escape]]d, so distinct inputs give distinct keys; a key whose parts
    * hold none of `%`, `|` (namespace), `&`, `=` (params) is unchanged by
    * the escaping, so checkpoints of such keys still hit.
    */
  private def keyOf(namespace: String, params: Seq[(String, String)]): String =
    escape(namespace, "|") + "|" + params.sortBy(_._1)
      .map { case (k, v) => escape(k, "&=") + "=" + escape(v, "&=") }.mkString("&")

  /** LRU probe: hit moves the key to most-recent (cache.py:86-90). */
  def get(namespace: String, params: Seq[(String, String)]): Option[Seq[Row]] =
    synchronized(lookup(keyOf(namespace, params)))

  private def lookup(k: String): Option[Seq[Row]] =
    entries.get(k) match {
      case Some(e) if (clock() - e.timestampMs) / 1000.0 <= ttlSeconds =>
        entries.remove(k); entries.put(k, e) // move_to_end
        hits.incrementAndGet()
        Some(e.rows)
      case Some(_) =>
        entries.remove(k); misses.incrementAndGet(); None
      case None =>
        misses.incrementAndGet(); None
    }

  /** Insert with LRU eviction (cache.py:117-124). */
  def put(namespace: String, params: Seq[(String, String)], df: DataFrame): Seq[Row] =
    store(keyOf(namespace, params), Answer.of(df))

  private def store(k: String, a: Answer): Seq[Row] = {
    synchronized(insert(k, Entry(a.rows, a.schema.toDDL, clock())))
    a.rows
  }

  /** Makes `k` the most-recent entry. Only a new key evicts the LRU head
    * at capacity; a present key is removed first, because
    * `LinkedHashMap.put` would keep its old position.
    */
  private def insert(k: String, e: Entry): Unit = {
    if (entries.remove(k).isEmpty && entries.size >= maxSize)
      entries.headOption.foreach(h => entries.remove(h._1))
    entries.put(k, e)
  }

  /** Memoizing wrapper: probe, else run + cache (cache.py:82-111). `run`
    * returns the collected answer, so the cache stores its rows as they
    * are. A miss on a key that another caller is already computing waits
    * for that result instead of running `run`; if that computation throws,
    * every waiter gets the exception and nothing is cached.
    */
  def getOrElse(namespace: String, params: Seq[(String, String)])(run: => Answer): Seq[Row] = {
    val k = keyOf(namespace, params)
    val probe = synchronized {
      lookup(k) match {
        case Some(rows) => Left(rows)
        case None =>
          inflight.get(k) match {
            case Some(p) => Right((p, false))
            case None =>
              val p = Promise[Seq[Row]]()
              inflight.put(k, p)
              Right((p, true))
          }
      }
    }
    probe match {
      case Left(rows) => rows
      case Right((p, false)) => Await.result(p.future, Duration.Inf)
      case Right((p, true)) =>
        try {
          val rows = store(k, run)
          p.success(rows)
          rows
        } catch {
          case t: Throwable => p.failure(t); throw t
        } finally synchronized(inflight.remove(k))
    }
  }

  def size: Int = synchronized(entries.size)

  /** Checkpoint full cache state — keys, timestamps, AND payloads — to
    * one parquet file with these columns:
    *  - `key`, `timestamp_ms` (insert time, which TTL reads), `n_rows`;
    *  - `schema_ddl` and `payload`: entries are schema-heterogeneous, so
    *    each carries its own schema DDL and its rows as JSON lines,
    *    byte-identical to `Dataset.toJSON`. This mirrors the reference's
    *    serialization of result payloads into one Mongo doc per write
    *    (cache.py:125, FIXTURES.md §4 `result: JSON-serialized rows`);
    *  - `lru_rank`: 0 for the least recently used entry.
    *
    * The parquet write is the only Spark job, however many entries there
    * are. The rows are serialized per schema by [[onDriver]], which
    * rests on a precondition stated there.
    */
  def checkpoint(spark: SparkSession, path: String): Unit = {
    val snap = synchronized(entries.toVector)
    val payloads = Array.fill(snap.size)(Seq.empty[String])
    snap.indices.groupBy(i => snap(i)._2.schemaDDL).foreach { case (ddl, ixs) =>
      val items = for (i <- ixs; r <- snap(i)._2.rows) yield Row(i, r)
      onDriver(spark, items, StructType.fromDDL(ddl))(to_json(_)).foreach { case (i, json) =>
        payloads(i) = json.map(_.asInstanceOf[String])
      }
    }
    val recs = snap.zipWithIndex.map { case ((k, e), i) =>
      Row(k, e.timestampMs, e.rows.size.toLong, e.schemaDDL, payloads(i), i)
    }
    spark.createDataFrame(recs.asJava, Checkpoint)
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Restore cache state from a checkpoint: repopulates entries (payloads
    * deserialized via each entry's own schema) in LRU order, so a restart
    * serves hits WITHOUT recomputation — the reference's
    * `load_cache_from_mongodb` behavior (cache.py:62-67). Keys already in
    * this cache keep their entry. Into a smaller cache, the most recently
    * used entries survive. JSON round-trip semantics (ISO timestamps at
    * millisecond precision, no distinction between missing and null)
    * match the reference's JSON-serialized Mongo payloads.
    *
    * Reading the file is the only Spark job; the rows are parsed per
    * schema by [[onDriver]].
    */
  def restore(spark: SparkSession, path: String): Int = {
    val recs = readCheckpoint(spark, path)
    val rows = Array.fill(recs.length)(Seq.empty[Row])
    recs.indices.groupBy(i => recs(i).getAs[String]("schema_ddl")).foreach { case (ddl, ixs) =>
      val items = for (i <- ixs; line <- recs(i).getAs[collection.Seq[String]]("payload"))
        yield Row(i, line)
      val schema = StructType.fromDDL(ddl)
      onDriver(spark, items, StringType)(from_json(_, schema)).foreach { case (i, rs) =>
        rows(i) = rs.map(_.asInstanceOf[Row])
      }
    }
    synchronized {
      recs.zip(rows).foreach { case (r, rs) =>
        val k = r.getAs[String]("key")
        if (!entries.contains(k))
          insert(k, Entry(rs, r.getAs[String]("schema_ddl"), r.getAs[Long]("timestamp_ms")))
      }
      entries.size
    }
  }

  /** Keys from a checkpoint, LRU-order (least recently used first). */
  def checkpointedKeys(spark: SparkSession, path: String): Seq[String] =
    readCheckpoint(spark, path).map(_.getAs[String]("key")).toSeq
}

object ResultCache {

  /** A collected result: its rows and their schema (which the checkpoint
    * needs even when there are no rows).
    */
  final case class Answer(rows: Seq[Row], schema: StructType)

  object Answer {
    def of(df: DataFrame): Answer = Answer(df.collect().toSeq, df.schema)
  }

  /** Percent-encodes `%` and every char of `separators` in `value`, so
    * joining escaped values with any of those separators is injective. A
    * value holding none of those chars comes back unchanged.
    */
  def escape(value: String, separators: String): String =
    if (value.forall(c => c != '%' && separators.indexOf(c) < 0)) value
    else value.flatMap { c =>
      if (c == '%' || separators.indexOf(c) >= 0) f"%%${c.toInt}%02X" else c.toString
    }

  /** The checkpoint's columns; see [[ResultCache.checkpoint]]. Reading
    * with this schema spares the job that would infer it.
    */
  private val Checkpoint: StructType = StructType.fromDDL(
    "key STRING, timestamp_ms BIGINT, n_rows BIGINT, schema_ddl STRING, " +
      "payload ARRAY<STRING>, lru_rank INT")

  /** Checkpoint records, least recently used first. */
  private def readCheckpoint(spark: SparkSession, path: String): Array[Row] =
    spark.read.schema(Checkpoint).parquet(path).collect().sortBy(_.getAs[Int]("lru_rank"))

  /** Applies `f` to the `item` of each `(entry index, item)` row and
    * returns every entry's results in row order.
    *
    * Precondition: the rows form a local DataFrame and `f` is a
    * deterministic expression, so Spark's `ConvertToLocalRelation`
    * optimizer rule evaluates the projection on the driver and `collect`
    * runs no Spark job. Without it this would run one job per call, i.e.
    * per distinct schema. `ResultCacheSpec` checks it by job count.
    */
  private def onDriver(spark: SparkSession, items: Seq[Row], itemType: DataType)(
      f: Column => Column): Map[Int, Seq[Any]] = {
    val schema = StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("item", itemType, nullable = false)))
    spark.createDataFrame(items.asJava, schema).select(col("i"), f(col("item")))
      .collect().toSeq.groupBy(_.getInt(0)).map { case (i, rs) => i -> rs.map(_.get(1)) }
  }
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Text, Vectors}

/** Reference-core relational queries: scans/sources/sinks (SURVEY §2.1),
  * filters (§2.3), joins (§2.4).
  */
private[queries] object CoreRelational {
  import CatalogShared._

  // --------------------------------------------------------------------
  // Scans / sources / sinks (SURVEY §2.1)
  // --------------------------------------------------------------------

  private val scans = Seq(
    // S1: tolerant line-JSON scan (reference: json.loads-per-line with
    // except-continue, DataProcessing.ipynb c9). Here: JSON column extract.
    Q("s1_json_extract",
      (s, d) => Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id"),
      Some("SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events ORDER BY event_id")),

    // S2: scan with pushed filter + sort (cache.py:153).
    Q("s2_scan_filter_sort",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber")),

    // S3: projection-only scan — column pruning (cache.py:224).
    Q("s3_projection_prune",
      (s, d) => Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, o_orderpriority FROM orders ORDER BY o_orderkey")),

    // S4/F5: point read by key (cache.py:63,166).
    Q("s4_point_read",
      (s, d) => Tables.customer(s, d)
        .filter(col("c_custkey") === 42)
        .select("c_custkey", "c_name", "c_mktsegment"),
      Some("SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey = 42")),

    // K4/A6: count (c26/c38).
    Q("k4_count",
      (s, d) => Tables.lineitem(s, d).agg(count(lit(1)).as("cnt")),
      Some("SELECT CAST(count(*) AS BIGINT) AS cnt FROM lineitem")),

    // S6: catalog listing (list_collection_names, c24/c25). Oracle = the
    // static registered-name list: SHOW TABLES must surface exactly the
    // views just registered.
    Q("s6_catalog_listing",
      (s, d) => {
        Tables.names.foreach(n =>
          Tables(s, d, n).createOrReplaceTempView(s"graft_$n"))
        s.sql("SHOW TABLES")
          .filter(col("tableName").startsWith("graft_"))
          .select("tableName").orderBy("tableName")
      },
      Some("SELECT tableName FROM (VALUES " +
        Tables.names.map(n => s"('graft_$n')").sorted.mkString(", ") +
        ") AS t(tableName) ORDER BY tableName")),

    // Reference golden end-to-end: the FULL ingest + search spine (§3.1)
    // over the synthetic raw capture — tolerant JSONL scan skipping
    // deletes/garbage, duplicate-delivery dedup, retweet assembly onto
    // canonical originals, the users branch across all four author
    // positions, lang-partitioned parquet sinks, then the F1 "house"
    // keyword search (the reference's 44-row golden check, cell 28) —
    // reduced to one row of counts. The fixture's structure follows
    // closed-form membership rules on the tweet index (GoldenFixture),
    // so the oracle computes every count arithmetically from
    // generate_series without parsing any JSON: a hash match checks the
    // whole pipeline's semantics, not a re-run of it.
    // Parquet schema evolution across corpus builds: an old batch written
    // WITHOUT the `lang` column and a new batch WITH it, read together
    // via mergeSchema — the heterogeneous-history read a years-old 100 TB
    // corpus store forces on every consumer. Old rows surface lang=NULL
    // (reported '<missing>'); the oracle recomputes the expected
    // distribution closed-form from `documents` and never sees a parquet
    // byte, so the hash match proves the merged read, not a re-run.
    Q("s9_schema_evolution",
      (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft_evo_")
        try {
          val docs = Tables.documents(s, d).select("doc_id", "text")
          docs.filter(col("doc_id") % 2 === 0)
            .write.mode("overwrite").parquet(base.resolve("b1").toString)
          docs.filter(col("doc_id") % 2 === 1)
            .withColumn("lang",
              when(col("doc_id") % 3 === 0, "en").otherwise("xx"))
            .write.mode("overwrite").parquet(base.resolve("b2").toString)
          s.read.option("mergeSchema", "true")
            .parquet(base.resolve("b1").toString, base.resolve("b2").toString)
            .groupBy(coalesce(col("lang"), lit("<missing>")).as("lang"))
            .agg(count(lit(1)).as("n"),
              min("doc_id").as("id_min"), max("doc_id").as("id_max"))
            .orderBy("lang")
            .localCheckpoint()
        } finally graft.util.Paths.deleteRecursively(base)
      },
      Some("SELECT CASE WHEN doc_id % 2 = 0 THEN '<missing>' WHEN doc_id % 3 = 0 THEN 'en' ELSE 'xx' END AS lang, " +
        "CAST(count(*) AS BIGINT) AS n, min(doc_id) AS id_min, max(doc_id) AS id_max " +
        "FROM documents GROUP BY 1 ORDER BY lang")),

    // S10: interchange-format round-trip ([[graft.sources.Formats]]):
    // the corpus leaves as ORC and CSV and comes back bit-equal —
    // checked by per-format content checksums (md5-prefix ints, the
    // shard_assign house pattern) that the oracle recomputes from the
    // ORIGINAL parquet. A format writer that mangles one row (CSV
    // quoting, ORC encoding) hash-mismatches. Explicit schema on read —
    // never inference in a pipeline (Formats' contract).
    Q("s10_format_roundtrip",
      (s, d) => {
        import graft.sources.Formats
        val tmp = java.nio.file.Files.createTempDirectory("graft_fmt_")
        try {
          val docs = Tables.documents(s, d)
            .select("doc_id", "lang", "text", "n_chars")
          // Fail fast instead of an opaque hash mismatch: Spark reads a
          // written empty CSV string back as NULL (limit documented in
          // Formats.scala), so md5(text) would silently drop from
          // text_hash_sum while the oracle hashes the original ''. The
          // corpus has no empty text today; a generator change must
          // surface as THIS diagnosable error.
          val nEmpty = docs.filter(col("text") === "").count()
          require(nEmpty == 0,
            s"s10 CSV leg precondition: $nEmpty empty-text rows would " +
              "round-trip as NULL and corrupt text_hash_sum")
          val schema = docs.schema
          Seq("csv", "orc").map { fmt =>
            val path = tmp.resolve(fmt).toString
            Formats.write(docs, fmt, path)
            Formats.read(s, fmt, path, Some(schema))
              .agg(count(lit(1)).as("n"),
                sum(conv(substring(md5(col("text")), 1, 8), 16, 10)
                  .cast("long")).as("text_hash_sum"),
                sum(col("n_chars")).as("chars_sum"))
              .select(lit(fmt).as("format"), col("n"),
                col("text_hash_sum"), col("chars_sum"))
          }.reduce(_.unionByName(_))
            .orderBy("format")
            .localCheckpoint() // results off disk before the cleanup
        } finally graft.util.Paths.deleteRecursively(tmp)
      },
      Some("WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT) AS text_hash_sum, " +
        "CAST(SUM(n_chars) AS BIGINT) AS chars_sum FROM documents) " +
        "SELECT format, n, text_hash_sum, chars_sum FROM " +
        "(SELECT 'csv' AS format, * FROM a UNION ALL SELECT 'orc', * FROM a) " +
        "ORDER BY format")),

    Q("ref_golden_search",
      (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft_golden_")
        try {
          val rawPath = base.resolve("raw.jsonl").toString
          graft.ingest.GoldenFixture.writeRaw(rawPath, 150)
          val tweetsDir = base.resolve("tweets").toString
          val usersDir = base.resolve("users").toString
          graft.ingest.TweetIngest.run(s, rawPath, tweetsDir, usersDir)
          val tweets = s.read.parquet(tweetsDir)
          val users = s.read.parquet(usersDir)
          val raw = graft.ingest.TweetIngest.readRaw(s, rawPath)
          val tAgg = tweets.agg(
            count(lit(1)).as("n_tweets"),
            sum(when(graft.operators.Predicates.keywordMatch(lit("house")), 1L)
              .otherwise(0L)).as("n_house"),
            coalesce(sum(size(col("retweets"))), lit(0)).cast("long")
              .as("n_retweet_elems"))
          val uAgg = users.agg(count(lit(1)).as("n_users"))
          val rAgg = raw.agg(
            (count(lit(1)) - countDistinct(col("id_str"))).as("n_dupes_removed"))
          // eager localCheckpoint: the one-row result must leave the temp
          // dir before the finally below deletes the fixture + sinks
          tAgg.crossJoin(uAgg).crossJoin(rAgg).localCheckpoint()
        } finally graft.util.Paths.deleteRecursively(base)
      },
      Some("WITH i AS (SELECT unnest(generate_series(0, 149)) AS i) " +
        "SELECT CAST((SELECT count(*) FROM i) AS BIGINT) AS n_tweets, " +
        "CAST((SELECT count(*) FROM i WHERE i % 7 = 0) AS BIGINT) AS n_house, " +
        "CAST((SELECT count(*) FROM i WHERE i % 4 = 0) AS BIGINT) AS n_retweet_elems, " +
        "CAST((SELECT count(DISTINCT 1000 + i % 50) FROM i) " +
        "+ (SELECT count(*) FROM i WHERE i % 4 = 0) " +
        "+ (SELECT count(DISTINCT 2000 + i % 10) FROM i WHERE i % 9 = 0) AS BIGINT) AS n_users, " +
        "CAST((SELECT count(*) FROM i WHERE i % 5 = 0) AS BIGINT) AS n_dupes_removed")),

    // K3: result-cache checkpoint/restore round trip (reference
    // cache.py:62-67,125): run a search, PUT it in a ResultCache,
    // checkpoint the cache to parquet, restore into a FRESH cache
    // instance, and serve the rows from the restored entry — the
    // restart-serves-hit path. The oracle is the direct query, so a hash
    // match proves the JSON-serialized payload round-trips bit-exact
    // through the parquet sink (schema DDL, row values, LRU key).
    Q("k3_cache_roundtrip",
      (s, d) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_cache_")
        val search = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"), col("c_name"),
            cents(col("c_acctbal")).as("bal_cents"))
          .orderBy(col("bal_cents").desc, col("c_custkey"))
          .limit(50)
        val rows =
          try {
            val path = tmp.resolve("ckpt").toString
            val live = new graft.cache.ResultCache()
            live.put("search", Seq("seg" -> "BUILDING"), search)
            live.checkpoint(s, path)
            val restored = new graft.cache.ResultCache()
            restored.restore(s, path)
            restored.get("search", Seq("seg" -> "BUILDING"))
              .getOrElse(sys.error("restored cache missed a checkpointed key"))
          } finally {
            // the restore already materialized the rows; drop the
            // checkpoint dir so bench loops don't litter /tmp
            graft.util.Paths.deleteRecursively(tmp)
          }
        s.createDataFrame(java.util.Arrays.asList(rows: _*), search.schema)
          .orderBy(col("bal_cents").desc, col("c_custkey"))
      },
      Some("SELECT c_custkey, c_name, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY bal_cents DESC, c_custkey LIMIT 50")),

    // K6: LRU-eviction + TTL-expiry semantics through a checkpoint/restore
    // cycle (reference cache.py:55 TTL, :86-90 move_to_end, :117-124
    // eviction). Manual clock, capacity-2 cache: put A@0s, put B@5s,
    // GET A@6s (promotes A to most-recent — without move_to_end the next
    // put would evict A, flipping two output rows), put C@7s (evicts B),
    // checkpoint; restore into a FRESH capacity-2 cache and probe at 12s
    // with ttl=10s: A is IN the checkpoint but expired (age 12s), B was
    // evicted before the checkpoint, C serves a hit whose payload integers
    // the oracle recomputes from the base table. Every behavioral branch —
    // evicted vs expired vs hit — lands in a different output row, and
    // the DuckDB twin derives the survivor set closed-form.
    Q("k6_cache_evict",
      (s, d) => {
        import org.apache.spark.sql.types._
        val tmp = java.nio.file.Files.createTempDirectory("graft_cache_")
        def seg(m: String) = Tables.customer(s, d)
          .filter(col("c_mktsegment") === m)
          .select(col("c_custkey"), col("c_name"),
            cents(col("c_acctbal")).cast("long").as("bal_cents"))
          .orderBy(col("bal_cents").desc, col("c_custkey"))
          .limit(50)
        val segs = Seq("BUILDING", "AUTOMOBILE", "MACHINERY")
        val out =
          try {
            val path = tmp.resolve("ckpt").toString
            var now = 0L
            val live = new graft.cache.ResultCache(
              maxSize = 2, ttlSeconds = 10, clock = () => now)
            live.put("search", Seq("seg" -> "BUILDING"), seg("BUILDING"))
            now = 5000L
            live.put("search", Seq("seg" -> "AUTOMOBILE"), seg("AUTOMOBILE"))
            now = 6000L
            live.get("search", Seq("seg" -> "BUILDING")) // promote A
            now = 7000L
            live.put("search", Seq("seg" -> "MACHINERY"), seg("MACHINERY"))
            live.checkpoint(s, path)
            val restored = new graft.cache.ResultCache(
              maxSize = 2, ttlSeconds = 10, clock = () => now)
            restored.restore(s, path)
            val inCkpt = restored.checkpointedKeys(s, path).toSet
            now = 12000L
            segs.map { m =>
              val key = s"search|seg=$m"
              val hit = restored.get("search", Seq("seg" -> m))
              org.apache.spark.sql.Row(key, inCkpt.contains(key), hit.isDefined,
                hit.map(h => Long.box(h.size.toLong)).orNull,
                hit.map(h => Long.box(h.map(_.getLong(2)).sum)).orNull)
            }
          } finally {
            graft.util.Paths.deleteRecursively(tmp)
          }
        val schema = StructType(Seq(
          StructField("key", StringType),
          StructField("in_checkpoint", BooleanType),
          StructField("serves_hit", BooleanType),
          StructField("n_rows", LongType),
          StructField("bal_sum", LongType)))
        s.createDataFrame(java.util.Arrays.asList(out: _*), schema)
          .orderBy("key")
      },
      Some("WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(bal_cents) AS BIGINT) AS s FROM " +
        "(SELECT CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents, c_custkey FROM customer " +
        "WHERE c_mktsegment = 'MACHINERY' ORDER BY bal_cents DESC, c_custkey LIMIT 50)) " +
        "SELECT * FROM (" +
        "SELECT 'search|seg=AUTOMOBILE' AS key, FALSE AS in_checkpoint, FALSE AS serves_hit, CAST(NULL AS BIGINT) AS n_rows, CAST(NULL AS BIGINT) AS bal_sum " +
        "UNION ALL SELECT 'search|seg=BUILDING', TRUE, FALSE, NULL, NULL " +
        "UNION ALL SELECT 'search|seg=MACHINERY', TRUE, TRUE, (SELECT n FROM m), (SELECT s FROM m)" +
        ") ORDER BY key")))


  // --------------------------------------------------------------------
  // Projections / filters (SURVEY §2.2)
  // --------------------------------------------------------------------

  private val filters = Seq(
    // P1/P2: field whitelist + computed column (c16). Per-row double
    // arithmetic — deterministic (fixed IEEE expression tree).
    Q("p2_computed_project",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS revenue FROM lineitem ORDER BY l_orderkey, l_linenumber")),

    // F1: case-insensitive regex substring match on text (app.py:122).
    Q("f1_regex_search",
      (s, d) => Tables.documents(s, d)
        .filter(col("text").rlike("(?i)spark"))
        .select("doc_id").orderBy("doc_id"),
      Some("SELECT doc_id FROM documents WHERE regexp_matches(text, '(?i)spark') ORDER BY doc_id")),

    // F2: any-array-element-in-list membership (hashtag $in, app.py:126).
    Q("f2_any_token_in",
      (s, d) => Tables.documents(s, d)
        .filter(arrays_overlap(split(col("text"), " "),
          array(lit("vector"), lit("stream"))))
        .select("doc_id").orderBy("doc_id"),
      Some("SELECT doc_id FROM documents WHERE list_has_any(string_split(text, ' '), ['vector','stream']) ORDER BY doc_id")),

    // F3: language equality (app.py:128).
    Q("f3_lang_eq",
      (s, d) => Tables.documents(s, d)
        .filter(col("lang") === "en")
        .select("doc_id").orderBy("doc_id"),
      Some("SELECT doc_id FROM documents WHERE lang = 'en' ORDER BY doc_id")),

    // F6/F7: disjunction + conjunctive predicate accretion (cache.py:143-151)
    // — implementing the reference's *intended* OR (its hashtag branch
    // clobbers the keyword branch, SURVEY §2.2 F6).
    Q("f6_f7_compound_pred",
      (s, d) => Tables.events(s, d)
        .filter((col("event_type") === "error" || col("value") > 90)
          && col("user_id") < 25)
        .select("event_id").orderBy("event_id"),
      Some("SELECT event_id FROM events WHERE (event_type = 'error' OR value > 90) AND user_id < 25 ORDER BY event_id")),

    // F8: prefix classifier (startswith 'RT', c9).
    Q("f8_prefix_match",
      (s, d) => Tables.documents(s, d)
        .filter(col("text").startsWith("key"))
        .select("doc_id").orderBy("doc_id"),
      Some("SELECT doc_id FROM documents WHERE text LIKE 'key%' ORDER BY doc_id")),

    // F9: date-range predicate (declared-but-never-applied in the reference,
    // app.py:75-76 — implemented for real here).
    Q("f9_date_range",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderdate").between("1995-06-01", "1996-06-01"))
        .select("o_orderkey").orderBy("o_orderkey"),
      Some("SELECT o_orderkey FROM orders WHERE o_orderdate BETWEEN TIMESTAMP '1995-06-01 00:00:00' AND TIMESTAMP '1996-06-01 00:00:00' ORDER BY o_orderkey")))


  // --------------------------------------------------------------------
  // Joins (SURVEY §2.3)
  // --------------------------------------------------------------------

  private val joins = Seq(
    // J1: tweet→user lookup join; reference does N+1 memoized point SELECTs
    // (app.py:205) — here a single broadcast hash left join.
    Q("j1_lookup_join",
      (s, d) => Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"), "left")
        .select("o_orderkey", "c_name", "c_mktsegment")
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, c_name, c_mktsegment FROM orders LEFT JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey")),

    // J2/A7: child-group assembly joined back to the parent (c16
    // add_retweets): partial aggregation map-side, then join.
    Q("j2_group_assemble",
      (s, d) => {
        val li = Tables.lineitem(s, d).groupBy(col("l_orderkey")).agg(
          count(lit(1)).as("n_items"),
          sum(col("l_quantity")).as("sum_qty"),
          max(col("l_extendedprice")).as("max_price"))
        Tables.orders(s, d)
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .select("o_orderkey", "o_orderstatus", "n_items", "sum_qty", "max_price")
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_orderstatus, n_items, sum_qty, max_price FROM orders JOIN (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items, SUM(l_quantity) AS sum_qty, MAX(l_extendedprice) AS max_price FROM lineitem GROUP BY l_orderkey) ON o_orderkey = l_orderkey ORDER BY o_orderkey")),

    // J3: existence semi-join (cache.py:200-206 dead code, done right).
    Q("j3_semi_exists",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 100000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey"),
      Some("SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000) ORDER BY c_custkey")),

    // F4 + anti join: null-check as "has no children" (app.py:120's
    // $exists:False, expressed as an anti join).
    Q("f4_anti_isnull",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey"),
      Some("SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT') ORDER BY c_custkey")),

    // Data-profiling report: one pass, one row — counts, distincts,
    // ranges. The pre-training stats check; every signal is exact
    // (cardinalities, integer cents, formatted timestamps), and the plan
    // is a single map-side-partial aggregation at any scale.
    Q("s8_profile_stats",
      (s, d) => Tables.events(s, d).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_event_types"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("min_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("max_ts"),
        min(cents(col("value"))).as("min_value_cents"),
        max(cents(col("value"))).as("max_value_cents")),
      Some("SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, " +
        "CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types, min(event_id) AS min_event_id, max(event_id) AS max_event_id, " +
        "strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts, strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts, " +
        "CAST(min(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS min_value_cents, " +
        "CAST(max(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS max_value_cents FROM events")),

    // Multi-join analytical query (TPC-H Q3 shape): selective dim filter →
    // two shuffle joins → grouped revenue → top-k. Exercises Catalyst join
    // planning (broadcast for customer, shuffle for orders⋈lineitem) and
    // exact cents revenue.
    Q("j5_multijoin_topk",
      (s, d) => Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < "1997-01-01")
        .join(Tables.lineitem(s, d).filter(col("l_shipdate") > "1997-01-01"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("l_orderkey"))
        .limit(10),
      Some("SELECT l_orderkey, odate, revenue_cents FROM (SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate, CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-01-01' AND l_shipdate > TIMESTAMP '1997-01-01' GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')) ORDER BY revenue_cents DESC, l_orderkey LIMIT 10")),

    // As-of join (nearest prior view for each purchase) — composed from
    // union + running last() (operators.AsOf); DuckDB oracles it with its
    // native ASOF LEFT JOIN. Timestamps truncated to Spark's microsecond
    // parquet precision on the oracle side.
    Q("j6_asof_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("ts").as("prior_view_ts"))
        graft.operators.AsOf.asofJoin(purchases, views, "user_id", "ts", "prior_view_ts")
          .select(col("event_id"),
            date_format(col("prior_view_ts"), "yyyy-MM-dd HH:mm:ss").as("prior_view"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, strftime(vts, '%Y-%m-%d %H:%M:%S') AS prior_view FROM (SELECT p.event_id, v.vts FROM (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts FROM events WHERE event_type = 'purchase') p ASOF LEFT JOIN (SELECT user_id, date_trunc('microseconds', ts) AS ts, date_trunc('microseconds', ts) AS vts FROM events WHERE event_type = 'view') v ON p.user_id = v.user_id AND v.ts <= p.ts) ORDER BY event_id")),

    // Full outer join: keep both unmatched sides (customers with no
    // orders AND order-side orphans) — the reconciliation join shape.
    Q("j7_full_outer",
      (s, d) => {
        val perCust = Tables.orders(s, d)
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
        Tables.customer(s, d)
          .join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            col("c_name"), col("n_orders"))
          .orderBy("custkey")
      },
      Some("SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_orders FROM customer FULL OUTER JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY o_custkey) o ON c_custkey = o_custkey ORDER BY custkey")),

    // Forward as-of: each purchase's NEXT view (nearest following).
    // Oracle: min-over-filtered left join — the semantic definition.
    Q("j8_asof_forward",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("ts").as("next_view_ts"))
        graft.operators.AsOf.asofJoinForward(purchases, views, "user_id", "ts", "next_view_ts")
          .select(col("event_id"),
            date_format(col("next_view_ts"), "yyyy-MM-dd HH:mm:ss").as("next_view"))
          .orderBy("event_id")
      },
      Some("SELECT p.event_id, strftime(date_trunc('microseconds', min(v.ts)), '%Y-%m-%d %H:%M:%S') AS next_view FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v ON v.user_id = p.user_id AND v.ts >= p.ts GROUP BY p.event_id ORDER BY p.event_id")),

    // Keyless point-in-interval range join, bucket-decomposed: every
    // error event opens a 10-minute incident window; find all events
    // inside any window. Naively this is a nested-loop filter
    // (|events| × |incidents|); RangeJoin explodes each window to its
    // ≤ 2 covering 600 s buckets and equi-joins on the bucket id.
    // Epoch seconds floor on both sides (unix_timestamp ≡
    // epoch(date_trunc('second', ts))).
    Q("j10_range_bucket",
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("sec", unix_timestamp(col("ts")))
        val incidents = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("incident_id"), col("sec").as("lo"),
            (col("sec") + 600).as("hi"))
        graft.operators.RangeJoin.pointInInterval(
          ev.select(col("event_id"), col("sec")), "sec",
          incidents, "lo", "hi", bucketWidth = 600)
          .select(col("incident_id"), col("event_id"),
            (col("sec") - col("lo")).as("offset_s"))
          .orderBy("incident_id", "event_id")
      },
      Some("WITH e AS (SELECT event_id, event_type, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec FROM events), " +
        "inc AS (SELECT event_id AS incident_id, sec AS lo, sec + 600 AS hi FROM e WHERE event_type = 'error') " +
        "SELECT i.incident_id, e.event_id, e.sec - i.lo AS offset_s FROM inc i " +
        "JOIN e ON e.sec >= i.lo AND e.sec < i.hi ORDER BY incident_id, event_id")),

    // J4: name→key→rows chain lookup (app.py:269-301).
    Q("j4_chain_lookup",
      (s, d) => Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
            .filter(col("c_name") === "Customer#000000042")),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey WHERE c_name = 'Customer#000000042' ORDER BY o_orderkey")),

    // J11: large-large join — BOTH sides exceed any broadcast threshold
    // at 100 TB (lineitem ⋈ orders is the canonical fact-fact case), so
    // the production path is a shuffled sort-merge join on the order
    // key. The `merge` hints pin that exact plan at test scale too
    // (where AQE would legitimately broadcast the small side) so the
    // SMJ path — the 100 TB default — is what's exercised and
    // plan-locked (PlanSpec asserts SortMergeJoin). Map-side partial
    // aggregation follows the join, bounding the second exchange at
    // groups × tasks.
    Q("j11_sortmerge",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"))
        li.hint("merge")
          .join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_quantity")).as("sum_qty"),
            sum(cents(col("l_extendedprice"))).as("sum_price_cents"))
          .orderBy("o_orderpriority")
      },
      Some("SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines, SUM(l_quantity) AS sum_qty, " +
        "CAST(SUM(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "GROUP BY 1 ORDER BY 1")),

    // J12: co-located bucketed join — j11's shuffle paid ONCE at write
    // time instead of per query. Both fact tables land bucketed+sorted
    // by the order key ([[graft.sources.Bucketed]]); the join then reads
    // matching buckets pairwise and the per-order aggregate reuses the
    // same partitioning (the SMJ reports both sides' HashPartitioning,
    // so groupBy(o_orderkey) adds NO exchange either) — the only
    // Exchange in the whole plan is the output-ordering sort. This is
    // the 100 TB shape for a fact⋈fact key repeatedly joined on:
    // amortize one bucketed write across every downstream query.
    // Bucket count scales with the fact side (~2 M rows/bucket — the
    // fixed-k lesson), and must match on both tables.
    Q("j12_bucketed_join",
      (s, d) => {
        import graft.sources.Bucketed
        val (liT, oT) = ensureBucketedFacts(s, d, "bj", force = true)
        Bucketed.colocatedJoin(s, liT, oT, "l_orderkey", "o_orderkey")
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_quantity")).as("sum_qty"),
            sum(col("price_c")).as("sum_price_cents"))
          .filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("n_lines"), col("sum_qty"),
            col("sum_price_cents"))
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_lines, SUM(l_quantity) AS sum_qty, " +
        "CAST(SUM(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "WHERE o_orderkey % 7 = 0 GROUP BY 1 ORDER BY 1")),

    // J13: the pay-shuffle-once amortization PROVEN — a second consumer
    // of the bucketed layout. j13 keeps its OWN once-per-session table
    // pair (the "bjr" prefix — per-query prefixes are deliberate, see
    // ensureBucketedFacts: Verify runs entries concurrently, so sharing
    // j12's tables would race j12's forced rewrite against this read):
    // the first invocation pays the write, and every later one — bench
    // passes 2+, whose min is what gets recorded — re-joins the same
    // existing tables at a different selectivity and aggregation with
    // pure zero-Exchange reads, the claim the layout exists to make. The
    // plan is locked exchange-free in PlanSpec just like j12's. At
    // 100 TB this is every dashboard/pipeline query after the first:
    // the bucketed write amortizes across all of them.
    Q("j13_bucketed_reuse",
      (s, d) => {
        import graft.sources.Bucketed
        val (liT, oT) = ensureBucketedFacts(s, d, "bjr", force = false)
        Bucketed.colocatedJoin(s, liT, oT, "l_orderkey", "o_orderkey")
          .filter(col("l_orderkey") % 11 === 3)
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_quantity")).as("sum_qty"),
            max(col("price_c")).as("max_price_cents"))
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_lines, SUM(l_quantity) AS sum_qty, " +
        "CAST(MAX(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS max_price_cents " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "WHERE l.l_orderkey % 11 = 3 GROUP BY 1 ORDER BY 1")))

  /** Write (or reuse) a bucketed fact pair for `d`. Table names carry
    * a CONTENT fingerprint of the source corpus (directory path + every
    * part file's name and size, [[graft.util.Paths.corpusFingerprint]])
    * so a session that switches corpora — or whose corpus directory is
    * REGENERATED in place mid-session — can never silently read a stale
    * layout: a changed file list lands on a fresh table name and forces
    * a rebuild. Also a per-query `prefix` so catalog entries share NO
    * mutable table state (Verify evaluates queries concurrently — a
    * shared name would race a forced rewrite against another entry's
    * read). `force` = j12's always-rewrite (it MEASURES the one-time
    * write); j13 writes its pair once per session and every later
    * invocation — e.g. bench passes 2+, whose min is what the bench
    * records — is pure reuse.
    * Bucket count scales with the fact side (~2 M rows/bucket — the
    * fixed-k lesson) and matches on both tables.
    */
  private def ensureBucketedFacts(s: SparkSession, d: String,
      prefix: String, force: Boolean): (String, String) = {
    import graft.sources.Bucketed
    val sfx = graft.util.Paths.corpusFingerprint(d, Seq("lineitem", "orders"))
    val (liT, oT) = (s"${prefix}_lineitem_$sfx", s"${prefix}_orders_$sfx")
    if (force || !s.catalog.tableExists(liT) || !s.catalog.tableExists(oT)) {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"),
          cents(col("l_extendedprice")).cast("long").as("price_c"))
      val o = Tables.orders(s, d).select(col("o_orderkey"))
      val buckets = math.max(8, (li.count() >> 21).toInt + 1)
      Bucketed.writeBucketed(li, liT, "l_orderkey", buckets)
      Bucketed.writeBucketed(o, oT, "o_orderkey", buckets)
    }
    (liT, oT)
  }

  val all: Seq[Q] = scans ++ filters ++ joins
}

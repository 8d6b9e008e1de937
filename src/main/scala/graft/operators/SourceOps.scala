package graft.operators

import graft.{Q, Tables}
import graft.sources.CopyOps
import org.apache.spark.sql.functions.{col, count, lit, max, md5, min, regexp_extract, sum}

/** Source/sink operators beyond parquet (SURVEY §2.1): COPY-style
  * delimited bulk load/export round trips.
  */
object SourceOps {

  /** COPY round trip (reference copy_stmt / copy_from_local_stmt,
    * Bingql.g4:770-797 — parse-only there): export `nation` to CSV, bulk
    * load it back with an explicit schema (no inference pass), aggregate.
    * The oracle reads the original parquet — value equality proves the
    * delimited round trip is faithful. */
  private val q112 = Q(
    "q112_copy_roundtrip",
    """SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_name
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val nation = Tables.load(s, dir, "nation")
    val csvDir = "/tmp/graft_copy_nation"
    CopyOps.copyTo(nation, csvDir)
    CopyOps.copyFromLocal(s, Seq(csvDir), nation.schema)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n_nations"), min("n_name").as("first_name"))
      .orderBy("n_regionkey")
  }

  /** Bucketed co-located join (SURVEY scale design: bucketing instead of
    * per-query shuffles): orders and lineitem are written CLUSTERED BY
    * their join key into the same bucket count, so the join needs NO
    * exchange on either side — at 100 TB this turns every
    * orders⋈lineitem into a map-side zip of pre-sorted buckets. The scan
    * honors bucket metadata only through the catalog, hence real tables
    * in a file warehouse. PlanAuditSpec asserts the exchange-free plan;
    * the oracle runs the same join over the raw parquet. */
  private val q127 = Q(
    "q127_bucketed_join",
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val (ordersT, lineitemT) = bucketedPair(s, dir)
    val o = s.table(ordersT).filter(col("o_orderstatus") === "F")
    val li = s.table(lineitemT)
    o.join(li, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("total_qty"))
      .orderBy("o_orderpriority")
  }

  /** (Re)create the bucketed pair for `dir`, returning the two table
    * names. Table names are keyed by the dir (hash suffix) so different
    * data dirs never share or clobber each other's bucketed tables —
    * existence of the dir's own tables is the memo. */
  def bucketedPair(s: org.apache.spark.sql.SparkSession, dir: String): (String, String) = {
    val suffix = math.abs(dir.hashCode).toString
    val names = Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey")
      .map { case (t, key) => (s"graft_bkt.${t}_b_$suffix", t, key) }
    if (names.forall(n => s.catalog.tableExists(n._1)))
      return (names(0)._1, names(1)._1)
    s.sql("CREATE DATABASE IF NOT EXISTS graft_bkt LOCATION 'file:///tmp/graft_wh/graft_bkt.db'")
    names.foreach { case (full, t, key) =>
      s.sql(s"DROP TABLE IF EXISTS $full")
      // A previous JVM's managed-table dir survives its catalog; the
      // DROP above can't see it, so clear the location too.
      val loc = new java.io.File(s"/tmp/graft_wh/graft_bkt.db/${t}_b_$suffix")
      if (loc.exists()) {
        java.nio.file.Files.walk(loc.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
      Tables.load(s, dir, t).write
        .bucketBy(8, key).sortBy(key)
        .format("parquet")
        .saveAsTable(full)
    }
    (names(0)._1, names(1)._1)
  }

  /** Partition-pruned scan (SURVEY scale design: partition pruning is
    * the first filter at 100 TB): events written partitioned by
    * event_type; an event_type predicate must prune to one directory —
    * PlanAuditSpec asserts the scan's partition filters and that only
    * one partition's files are read. Oracle = same filter on the raw
    * parquet. */
  private val q128 = Q(
    "q128_partition_pruning",
    """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    partitionedEvents(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total"))
      .orderBy("day")
  }

  /** Events re-written as a hive-partitioned directory tree
    * (event_type=.../part-*.parquet), memoized per dir. */
  def partitionedEvents(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val out = s"/tmp/graft_events_part_${math.abs(dir.hashCode)}"
    val success = new java.io.File(s"$out/_SUCCESS")
    // the memo must invalidate when the SOURCE changes under the same
    // path (the adversarial corpus regenerates events.parquet in place
    // — a stale copy silently answered for the old data)
    val src = new java.io.File(s"$dir/events.parquet")
    if (!success.exists() || success.lastModified() < src.lastModified()) {
      Tables.load(s, dir, "events")
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
    }
    s.read.parquet(out)
  }

  /** JSON-lines source round trip: export `supplier` to newline-JSON,
    * read it back with the explicit schema (no inference pass — at
    * 100 TB schema inference is a full extra scan), aggregate. Value
    * equality vs the parquet-reading oracle proves the codec faithful
    * (timestamps/doubles/strings survive). */
  private val q129 = Q(
    "q129_json_roundtrip",
    """SELECT s_nationkey, count(*) AS n_sup,
      |  CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val sup = Tables.load(s, dir, "supplier")
    val out = "/tmp/graft_json_supplier"
    sup.write.mode("overwrite").json(out)
    s.read.schema(sup.schema).json(out)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_sup"),
        sum(col("s_acctbal").cast("decimal(12,2)")).cast("double").as("total_bal"))
      .orderBy("s_nationkey")
  }

  /** ORC source round trip (same contract as q129 for the other columnar
    * format Spark ships a vectorized reader for). */
  private val q130 = Q(
    "q130_orc_roundtrip",
    """SELECT p_brand, count(*) AS n_parts, min(p_name) AS first_name
      |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val part = Tables.load(s, dir, "part")
    val out = "/tmp/graft_orc_part"
    part.write.mode("overwrite").orc(out)
    s.read.schema(part.schema).orc(out)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"), min("p_name").as("first_name"))
      .orderBy("p_brand")
  }

  /** Dynamic partition overwrite — the incremental WRITE path at 100 TB
    * (q128 is the read side): a refresh touching one partition must
    * replace only that directory, never the whole table. Base load
    * writes all partitions (value <= 50); the incremental write carries
    * only 'click' rows (value > 50) in dynamic mode, so the final state
    * is incr-for-click + base-for-others — which the oracle states
    * directly as a predicate over the raw events, INCLUDING the
    * degenerate corpus: dynamic overwrite only replaces partitions
    * present in the incremental frame, so if no click row exceeds 50
    * the base click partition survives — the oracle's NOT EXISTS arm
    * models exactly that. */
  private val q148 = Q(
    "q148_dynamic_partition_overwrite",
    """SELECT event_type, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM events
      |WHERE (event_type = 'click' AND value > 50)
      |   OR (event_type <> 'click' AND value <= 50)
      |   OR (event_type = 'click' AND value <= 50 AND NOT EXISTS (
      |         SELECT 1 FROM events e2
      |         WHERE e2.event_type = 'click' AND e2.value > 50))
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "event_type", "value")
    val out = s"/tmp/graft_events_dynpart_${math.abs(dir.hashCode)}"
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    ev.filter(col("value") <= 50)
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      ev.filter(col("event_type") === "click" && col("value") > 50)
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
    } finally {
      prev match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    s.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total"))
      .orderBy("event_type")
  }

  /** CSV source round trip — the text-format contract (header + explicit
    * schema on read; never inferSchema at scale, it double-scans). */
  private val q171 = Q(
    "q171_csv_roundtrip",
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR) AS max_day
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
    val out = s"/tmp/graft_csv_lineitem_${math.abs(dir.hashCode)}"
    li.write.mode("overwrite").option("header", "true").csv(out)
    s.read.schema(li.schema).option("header", "true").csv(out)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
        max(col("l_shipdate").cast("date")).cast("string").as("max_day"))
      .orderBy("l_returnflag")
  }

  /** Schema evolution: two parquet batches with different column sets
    * read back as ONE table via mergeSchema — the long-lived-dataset
    * reality (columns get added over time; old files must stay
    * readable with NULLs for the columns they predate). */
  private val q172 = Q(
    "q172_schema_evolution",
    """SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source,
      |  CAST(NULL AS BIGINT) AS n_chars
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT doc_id, CAST(NULL AS VARCHAR), source, n_chars
      |FROM documents WHERE doc_id % 2 = 1
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val d = Tables.load(s, dir, "documents")
    val out = s"/tmp/graft_evolve_${math.abs(dir.hashCode)}"
    d.filter(col("doc_id") % 2 === 0).select("doc_id", "lang")
      .write.mode("overwrite").parquet(s"$out/b0")
    d.filter(col("doc_id") % 2 === 1).select("doc_id", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/b1")
    s.read.option("mergeSchema", "true").parquet(s"$out/b0", s"$out/b1")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Dynamic partition pruning: q128 proves STATIC pruning (literal
    * predicate reaches the scan); here the pruning values are only
    * known at RUNTIME — they come from the dim side of a join — and
    * Spark injects a dynamicpruning subquery filter into the
    * partitioned scan, so at 100 TB the fact table reads only the
    * joined partitions' files (4 of 7 pruned at this fixture). The
    * PlanAudit pins the dynamicpruning expression. */
  private val q183 = Q(
    "q183_dynamic_partition_pruning",
    """SELECT CAST(year(l_shipdate) AS INT) AS ship_year, count(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE year(l_shipdate) IN (
      |  SELECT DISTINCT year(o_orderdate) FROM orders
      |  WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) % 3 = 0)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val path = s"/tmp/graft_dpp_${math.abs(dir.hashCode)}"
    // same stale-memo invalidation as partitionedEvents: rebuild when
    // the source is regenerated in place under the same dir
    val success = new java.io.File(path, "_SUCCESS")
    val src = new java.io.File(s"$dir/lineitem.parquet")
    if (!success.exists() || success.lastModified() < src.lastModified()) {
      Tables.load(s, dir, "lineitem")
        .withColumn("ship_year", year(col("l_shipdate")))
        .write.partitionBy("ship_year").mode("overwrite").parquet(path)
    }
    val dim = Tables.load(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        year(col("o_orderdate")) % 3 === 0)
      .select(year(col("o_orderdate")).as("y")).distinct()
    s.read.parquet(path)
      .join(broadcast(dim), col("ship_year") === col("y"))
      .groupBy(col("ship_year").cast("int").as("ship_year"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy("ship_year")
  }

  /** try_* error-safe arithmetic (ANSI-adjacent surface): division by
    * zero, overflow-prone casts, and unparseable numbers yield NULL
    * instead of failing the job — the semantics a 100 TB pipeline
    * needs when one poisoned row must not kill an 8-hour run. Oracle
    * replays with guarded CASE/TRY_CAST (DuckDB has no try_divide). */
  private val q184 = Q(
    "q184_try_arithmetic",
    """SELECT l_linenumber,
      |  count(*) AS n,
      |  CAST(SUM(CASE WHEN l_discount = 0 THEN NULL
      |       ELSE CAST(CAST(l_quantity / l_discount AS DECIMAL(18,6)) AS DOUBLE) END)
      |    IS NOT NULL AS BOOLEAN) AS any_ratio,
      |  CAST(sum(CASE WHEN TRY_CAST(l_returnflag AS INT) IS NULL
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_unparseable
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT l_linenumber,
        |  count(*) AS n,
        |  SUM(CAST(CAST(try_divide(l_quantity, l_discount) AS DECIMAL(18,6))
        |      AS DOUBLE)) IS NOT NULL AS any_ratio,
        |  sum(CASE WHEN try_cast(l_returnflag AS INT) IS NULL THEN 1 ELSE 0 END)
        |    AS n_unparseable
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** File-level provenance (input_file_name): write `documents`
    * partitioned by a derived bucket, read the multi-file dataset back,
    * and recover each row's origin FROM ITS FILE PATH alone — the
    * trace-rows-to-shards primitive a 100 TB pipeline needs for
    * quarantining a bad input file or re-deriving one shard. Row-level
    * gate: the path-derived bucket must equal the column-derived bucket
    * for every row (path_mismatches = 0 in the output), so provenance
    * survives the write+read roundtrip exactly. File names themselves
    * are nondeterministic (part-<uuid>), so the output keys on the
    * partition value, never the basename. */
  private val q188 = Q(
    "q188_file_provenance",
    """SELECT CAST(doc_id % 8 AS BIGINT) AS bucket,
      |  count(*) AS n_docs,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(0 AS BIGINT) AS path_mismatches
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val out = s"/tmp/graft_provenance_${math.abs(dir.hashCode)}"
    Tables.load(s, dir, "documents")
      .withColumn("bucket", col("doc_id") % 8)
      .write.mode("overwrite").partitionBy("bucket").parquet(out)
    val back = s.read.parquet(out)
      .withColumn("path_bucket",
        regexp_extract(input_file_name(), "bucket=(\\d+)", 1).cast("bigint"))
    back.groupBy(col("path_bucket").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"),
        sum("n_chars").as("total_chars"),
        sum(when(col("path_bucket") =!= col("doc_id") % 8, 1L).otherwise(0L))
          .as("path_mismatches"))
      .orderBy("bucket")
  }

  // --------------------------------- binaryFile source (media ingest)

  /** The `binaryFile` datasource — how raw media corpora actually enter
    * Spark (one row per object: path, modificationTime, length,
    * content). A bounded doc subset (doc_id <= 100, stable at every
    * corpus size) is staged as real .bin files, read back through the
    * source, and reconciled byte-for-byte: the length column must equal
    * the UTF-8 byte count and md5(content) must equal the oracle's
    * md5(text) (DuckDB's md5(VARCHAR) hashes the UTF-8 encoding — the
    * same bytes Spark's md5(BINARY) sees).
    *
    * 100 TB design: parallelism is per-file (each file one task up to
    * maxPartitionBytes), pathGlobFilter/recursiveFileLookup prune at
    * listing time, and the first job against a billion-small-object
    * corpus should be exactly this shape: binaryFile -> (meta, payload)
    * parquet, after which everything downstream scans columnar (q50+
    * operate on that form). Staging here collects only the bounded
    * 100-doc subset — fixture setup, not the operator. */
  private val q194 = Q(
    "q194_binaryfile_source",
    // Zero-byte payloads are excluded on BOTH sides: Spark's binaryFile
    // source emits NO row for a zero-length file (no splits to read), so
    // an empty document would round-trip to nothing — pinned by the
    // adversarial corpus (its empty doc) and by the spec below.
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS content_md5
      |FROM documents WHERE doc_id <= 100 AND octet_length(encode(text)) > 0
      |ORDER BY doc_id""".stripMargin) {
    (s, dir) =>
    val base = new java.io.File(s"/tmp/graft_q194_${math.abs(dir.hashCode)}")
    if (base.exists()) {
      java.nio.file.Files.walk(base.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    base.mkdirs()
    Tables.load(s, dir, "documents")
      .filter(col("doc_id") <= 100 && org.apache.spark.sql.functions.length(col("text")) > 0)
      .select("doc_id", "text").collect()
      .foreach { r =>
        java.nio.file.Files.write(
          new java.io.File(base, s"doc_${r.getLong(0)}.bin").toPath,
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(base.toString)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("content_md5"))
      .orderBy("doc_id")
  }

  /** Error-tolerant CSV ingest (q171 pins the clean roundtrip): a feed
    * where some rows are malformed — extra fields, an unparsable
    * number — must not kill an 8-hour load OR silently drop rows.
    * PERMISSIVE mode + columnNameOfCorruptRecord quarantines bad rows
    * into a side column; good rows aggregate normally and the corrupt
    * count is reported alongside. The staged feed derives from the
    * nation table (so the oracle recomputes the good side from the
    * same source) plus three fixed malformed lines. Per-file/line
    * parallelism, nothing driver-side but the tiny line literals. */
  private val q237 = Q(
    "q237_csv_corrupt_records",
    """SELECT count(*) AS n_good,
      |  CAST(3 AS BIGINT) AS n_corrupt,
      |  CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
      |  CAST(count(DISTINCT n_regionkey) AS BIGINT) AS n_regions
      |FROM nation""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val out = new java.io.File(
      s"/tmp/graft_csv_corrupt_${math.abs(dir.hashCode)}")
    if (!out.exists()) out.mkdirs()
    val good = Tables.load(s, dir, "nation")
      .selectExpr("CAST(n_nationkey AS BIGINT)", "n_name",
        "CAST(n_regionkey AS BIGINT)").collect()
      .map(r => s"${r.getLong(0)},${r.getString(1)},${r.getLong(2)}")
    val bad = Seq(
      "9999,EXTRAFIELD,1,unexpected-4th-field",
      "not_a_number,BADKEY,2",
      "123,BADREGION,not_a_number")
    java.nio.file.Files.write(
      new java.io.File(out, "feed.csv").toPath,
      (good ++ bad).mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType),
      StructField("n_name", StringType),
      StructField("n_regionkey", LongType),
      StructField("_corrupt", StringType)))
    val parsed = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(out.getPath)
      // columnNameOfCorruptRecord requires the raw row to be re-parsed
      // when the corrupt column is selected — cache once, small feed.
      .localCheckpoint()
    parsed.agg(
      count(when(col("_corrupt").isNull, 1)).as("n_good"),
      count(col("_corrupt")).as("n_corrupt"),
      sum(when(col("_corrupt").isNull, col("n_nationkey"))).as("sum_key"),
      countDistinct(when(col("_corrupt").isNull, col("n_regionkey")))
        .as("n_regions"))
  }

  // --------------------- q255: custom DataSource V2 (pushdown synth)

  private val SynthRows = 2000000L

  /** Custom DSv2 source end-to-end (graft.sources.SynthEventsSource):
    * deterministic generated relation with column pruning, event_id
    * range pushdown (the generator's partition pruning — the scan
    * materializes [250k, 1.75M), not [0, 2M)), and 32-way partition
    * planning. The residual predicate (user_id % 3) is evaluated by
    * Spark post-scan. The oracle regenerates the identical relation
    * from range() — same integer formulas, no files involved. */
  private val q255 = Q(
    "q255_synth_source",
    s"""WITH synth AS (
       |  SELECT i AS event_id, (i * 2654435761) % 1000 AS user_id,
       |    't' || CAST((i * 7919) % 5 AS VARCHAR) AS event_type,
       |    (i * 104729) % 100000 AS cents
       |  FROM (SELECT unnest(range($SynthRows)) AS i))
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(cents) AS BIGINT) AS total_cents,
       |  min(event_id) AS min_id, max(event_id) AS max_id
       |FROM synth
       |WHERE event_id >= 250000 AND event_id < 1750000 AND user_id % 3 = 0
       |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, _) =>
    s.read.format("graft.sources.SynthEventsSource")
      .option("rows", SynthRows.toString).option("slices", "32").load()
      .filter(col("event_id") >= 250000L && col("event_id") < 1750000L &&
        col("user_id") % 3 === 0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"),
        min("event_id").as("min_id"), max("event_id").as("max_id"))
      .orderBy("event_type")
  }

  // ------------- q262: DSv2 aggregate pushdown (closed-form answer)

  /** COMPLETE aggregate pushdown through the DSv2 source
    * (SupportsPushDownAggregates): COUNT(*)/MIN/MAX over the
    * filter-narrowed id interval are answered in O(1) by a single
    * one-row partition — no row generation, no HashAggregate in the
    * plan (SynthSourceSpec pins both). The 2-billion-row virtual
    * interval makes the point: the un-pushed plan would generate 2e9
    * rows to count them. */
  // 2e8 virtual rows, not 2e9: the bench times fn(...).count(), and
  // count() over an already-global aggregate prunes the inner agg's
  // function list to EMPTY — an empty Aggregation is not pushable, so
  // that wrapper plan row-iterates the interval (the SPEC exercises the
  // pushed path at 2e9 via head(), where it answers in plan overhead).
  private val q262 = Q(
    "q262_synth_agg_pushdown",
    """SELECT CAST(199500000 AS BIGINT) AS n,
      |  CAST(500000 AS BIGINT) AS min_id,
      |  CAST(199999999 AS BIGINT) AS max_id""".stripMargin) { (s, _) =>
    s.read.format("graft.sources.SynthEventsSource")
      .option("rows", "200000000").option("slices", "32").load()
      .filter(col("event_id") >= 500000L)
      .agg(count(lit(1)).as("n"), min("event_id").as("min_id"),
        max("event_id").as("max_id"))
  }

  // ------------- q270: custom DSv2 sink (manifest commit protocol)

  /** Full DSv2 WRITE round trip (graft.sources.ManifestSink): supplier
    * repartitioned 4 ways, written through per-task temp files + the
    * driver's atomic manifest commit, then read back THROUGH the
    * manifest (only committed files count) and re-aggregated. Equality
    * with the direct table aggregate proves no loss, no duplication,
    * and manifest/file agreement; the checksum column is
    * order-independent so file-internal row order can't drift the
    * result. */
  private val q270 = Q(
    "q270_dsv2_sink_roundtrip",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(s_suppkey) AS BIGINT) AS sum_key,
      |  CAST(count(DISTINCT s_nationkey) AS BIGINT) AS n_nations
      |FROM supplier""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val out = java.nio.file.Files
      .createTempDirectory("graft_q270_sink").toString
    val sup = Tables.load(s, dir, "supplier")
      .select(col("s_suppkey").cast("long").as("s_suppkey"),
        col("s_name"), col("s_nationkey").cast("long").as("s_nationkey"))
    sup.repartition(4, col("s_suppkey"))
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    // Read back strictly through the manifest: only committed files.
    val mf = s.read.option("multiLine", "true").json(s"$out/manifest.json")
    val files = mf.selectExpr("explode(files.file) AS f")
      .collect().map(_.getString(0))
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", LongType)))
    s.read.schema(schema).parquet(files.map(f => s"$out/$f"): _*)
      .agg(count(lit(1)).as("n_rows"), sum("s_suppkey").as("sum_key"),
        countDistinct("s_nationkey").as("n_nations"))
  }

  // ------------- q272: corrupt-file-resilient scans

  /** ignoreCorruptFiles: at 100 TB some object-store file WILL be
    * garbage (partial upload, bit rot, truncated writer crash); the
    * scan must skip it and keep the good rows rather than kill the
    * job. Two corruption modes planted next to real data files: pure
    * garbage bytes under a .parquet name, and a half-truncated copy of
    * a REAL parquet file (valid magic, broken footer). The per-read
    * option scopes the tolerance to this scan — no session-wide conf
    * softening. Oracle recomputes from the intact table. */
  private val q272 = Q(
    "q272_corrupt_file_resilience",
    """SELECT CAST(count(*) AS BIGINT) AS n_good,
      |  CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
      |  CAST(count(DISTINCT n_regionkey) AS BIGINT) AS n_regions
      |FROM nation""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files
      .createTempDirectory("graft_q272").toString
    Tables.load(s, dir, "nation")
      .selectExpr("CAST(n_nationkey AS BIGINT) AS n_nationkey",
        "CAST(n_regionkey AS BIGINT) AS n_regionkey")
      .repartition(2).write.mode("overwrite").parquet(out)
    // corruption 1: garbage bytes under a parquet name
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "part-corrupt-garbage.parquet"),
      Array.fill[Byte](512)(0x5a))
    // corruption 2: truncated copy of a real file (magic ok, footer gone)
    val real = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.length > 600)
      .minBy(_.getName)
    val bytes = java.nio.file.Files.readAllBytes(real.toPath)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "part-corrupt-truncated.parquet"),
      bytes.take(bytes.length / 2))
    s.read.option("ignoreCorruptFiles", "true").parquet(out)
      .agg(count(lit(1)).as("n_good"), sum("n_nationkey").as("sum_key"),
        countDistinct("n_regionkey").as("n_regions"))
  }

  /** q393: manifest-sink TIME TRAVEL through the DSv2 read path. Two
    * committed appends (region rows, then nation rows) → three reads:
    * snapshot v1, snapshot v2, and the latest manifest — each reading
    * EXACTLY its manifest's file list, never a directory listing, so
    * v1 is byte-identical no matter how many later appends land (the
    * snapshot-isolation property object stores can't give a listing
    * reader). The oracle recomputes each snapshot's aggregate from the
    * source tables. */
  private val q393 = Q(
    "q393_sink_time_travel",
    """WITH a AS (
      |  SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS name FROM region),
      |b AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name FROM nation),
      |v1 AS (SELECT * FROM a),
      |v2 AS (SELECT * FROM a UNION ALL SELECT * FROM b)
      |SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(k) AS BIGINT) AS sum_k, min(name) AS min_name,
      |  max(name) AS max_name FROM v1
      |UNION ALL
      |SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT),
      |  min(name), max(name) FROM v2
      |UNION ALL
      |SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT),
      |  min(name), max(name) FROM v2
      |ORDER BY version""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val out = s"/tmp/graft_q393_${math.abs(dir.hashCode)}"
    val f = new java.io.File(out)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()
    write(Tables.load(s, dir, "region")
      .select(col("r_regionkey").cast("long").as("k"), col("r_name").as("name")))
    write(Tables.load(s, dir, "nation")
      .select(col("n_nationkey").cast("long").as("k"), col("n_name").as("name")))
    def readVersion(v: Option[Int]) = {
      val r = s.read.format("graft.sources.ManifestSource")
        .schema("k LONG, name STRING").option("path", out)
      v.fold(r)(n => r.option("version", n)).load()
    }
    Seq(Some(1) -> 1, Some(2) -> 2, None -> 3).map { case (v, label) =>
      readVersion(v).agg(
        count(lit(1)).cast("long").as("n_rows"),
        sum(col("k")).cast("long").as("sum_k"),
        min(col("name")).as("min_name"), max(col("name")).as("max_name"))
        .select(lit(label).as("version"), col("n_rows"), col("sum_k"),
          col("min_name"), col("max_name"))
    }.reduce(_.unionByName(_)).orderBy("version")
  }

  /** q397: the manifest sink tailed as a STREAM — each micro-batch is
    * the file diff between committed manifest versions (commits ARE
    * the change stream, the snapshot-tailing pattern). Two appends,
    * two AvailableNow drains sharing one checkpoint: the second drain
    * must process ONLY the second commit's files — the version offset
    * in the checkpoint gives exactly-once at file granularity across
    * restarts, with no directory listing anywhere. The final count
    * proves no re-read (35 would mean batch A was double-counted). */
  private val q397 = Q(
    "q397_manifest_stream_tail",
    """WITH allrows AS (
      |  SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS name FROM region
      |  UNION ALL
      |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name FROM nation)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  min(name) AS min_name, max(name) AS max_name
      |FROM allrows""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val base = new java.io.File(s"/tmp/graft_q397_${math.abs(dir.hashCode)}")
    if (base.exists()) {
      java.nio.file.Files.walk(base.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val src = s"$base/src"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", src).mode("append").save()
    def drain(): Unit = {
      val q = s.readStream.format("graft.sources.ManifestSource")
        .schema("k LONG, name STRING").option("path", src).load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    write(Tables.load(s, dir, "region")
      .select(col("r_regionkey").cast("long").as("k"), col("r_name").as("name")))
    drain()
    write(Tables.load(s, dir, "nation")
      .select(col("n_nationkey").cast("long").as("k"), col("n_name").as("name")))
    drain() // restart from the checkpointed version offset
    s.read.schema("k LONG, name STRING").parquet(sink)
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("k")).cast("long").as("sum_k"),
        min(col("name")).as("min_name"), max(col("name")).as("max_name"))
  }

  /** q398: manifest snapshot EXPIRY (the history-GC half of q393's time
    * travel). Four appends grow the version history to 4; expiry with
    * keepLast=2 deletes v1/v2 under the commit lock. v3, v4 and the
    * latest manifest still read exactly (appends carry every earlier
    * file forward, so expiry can never strand data), the expired v1
    * fails loudly like a truncate-expired version, and the expired
    * count is pinned. The oracle replays each surviving snapshot's
    * aggregate from cumulative key-mod quarters of nation. */
  private val q398 = Q(
    "q398_manifest_expire",
    """WITH n AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
      |  WHERE n_nationkey IS NOT NULL),
      |v3 AS (SELECT * FROM n WHERE k % 4 < 3),
      |v4 AS (SELECT * FROM n)
      |SELECT 'expired' AS which, CAST(2 AS BIGINT) AS n_rows,
      |  CAST(0 AS BIGINT) AS sum_k
      |UNION ALL
      |SELECT 'latest', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT)
      |FROM v4
      |UNION ALL
      |SELECT 'v1_gone', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'v3', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT) FROM v3
      |UNION ALL
      |SELECT 'v4', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT) FROM v4
      |ORDER BY which""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val out = s"/tmp/graft_q398_${math.abs(dir.hashCode)}"
    val f = new java.io.File(out)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val base = Tables.load(s, dir, "nation")
      .filter(col("n_nationkey").isNotNull)
      .select(col("n_nationkey").cast("long").as("k"))
    (0 until 4).foreach { i =>
      base.filter(col("k") % 4 === i).coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()
    }
    val nExpired =
      graft.sources.ManifestMaintenance.expireSnapshots(s, out, keepLast = 2)
    def readVersion(v: Option[Int]) = {
      val r = s.read.format("graft.sources.ManifestSource")
        .schema("k LONG").option("path", out)
      v.fold(r)(n => r.option("version", n)).load()
    }
    val v1Gone =
      try { readVersion(Some(1)).collect(); 0L }
      catch { case e: Exception =>
        def chain(t: Throwable): Seq[Throwable] =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
        if (chain(e).exists(_.isInstanceOf[java.io.FileNotFoundException])) 1L
        else throw e
      }
    import s.implicits._
    val probes = Seq(
      ("expired", nExpired.toLong, 0L), ("v1_gone", v1Gone, 0L))
      .toDF("which", "n_rows", "sum_k")
    Seq(Some(3) -> "v3", Some(4) -> "v4", None -> "latest").map {
      case (v, label) =>
        readVersion(v).agg(
          count(lit(1)).cast("long").as("n_rows"),
          sum(col("k")).cast("long").as("sum_k"))
          .select(lit(label).as("which"), col("n_rows"), col("sum_k"))
    }.reduce(_.unionByName(_))
      .unionByName(probes)
      .orderBy("which")
  }

  /** q401: manifest small-file COMPACTION + orphan cleanup — the
    * rewrite_data_files / remove_orphan_files pair that completes the
    * connector's maintenance story (q393 time travel, q397 tailing,
    * q398 snapshot expiry). Four appends → compact to ONE file (a pure
    * rewrite: checksum/row conservation asserted inside
    * [[graft.sources.ManifestMaintenance.compact]]); time travel to a
    * pre-compaction snapshot still reads exactly; orphan cleanup
    * before expiry removes NOTHING (history still references the old
    * files); expiry to the compaction version then lets cleanup
    * reclaim exactly the four rewritten files, after which the latest
    * snapshot still reads and the expired one fails loudly. */
  private val q401 = Q(
    "q401_manifest_compaction",
    """WITH n AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
      |  WHERE n_nationkey IS NOT NULL),
      |v2 AS (SELECT * FROM n WHERE k % 4 < 2)
      |SELECT 'expired' AS which, CAST(4 AS BIGINT) AS n_rows,
      |  CAST(0 AS BIGINT) AS sum_k
      |UNION ALL SELECT 'files_after', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL SELECT 'files_before', CAST(4 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'latest_postclean', CAST(count(*) AS BIGINT),
      |  CAST(sum(k) AS BIGINT) FROM n
      |UNION ALL
      |SELECT 'latest_postcompact', CAST(count(*) AS BIGINT),
      |  CAST(sum(k) AS BIGINT) FROM n
      |UNION ALL SELECT 'orphans_postexpire', CAST(4 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL SELECT 'orphans_preexpire', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL SELECT 'v2_gone', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'v2_snapshot', CAST(count(*) AS BIGINT),
      |  CAST(sum(k) AS BIGINT) FROM v2
      |ORDER BY which""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val out = s"/tmp/graft_q401_${math.abs(dir.hashCode)}"
    val f = new java.io.File(out)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val base = Tables.load(s, dir, "nation")
      .filter(col("n_nationkey").isNotNull)
      .select(col("n_nationkey").cast("long").as("k"))
    (0 until 4).foreach { i =>
      base.filter(col("k") % 4 === i).coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()
    }
    val (nBefore, nAfter) =
      graft.sources.ManifestMaintenance.compact(s, out, "k LONG")
    def readVersion(v: Option[Int]) = {
      val r = s.read.format("graft.sources.ManifestSource")
        .schema("k LONG").option("path", out)
      v.fold(r)(n => r.option("version", n)).load()
    }
    // aggregates materialize EAGERLY (first(), not a lazy plan): the
    // maintenance calls below DELETE the very snapshots these read, so
    // a lazy plan evaluated at the end would read post-expiry state
    def agg(label: String, df: org.apache.spark.sql.DataFrame): (String, Long, Long) = {
      val r = df.agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("k")).cast("long").as("sum_k")).first()
      (label, r.getLong(0), r.getLong(1))
    }
    val postCompact = agg("latest_postcompact", readVersion(None))
    val v2Snap = agg("v2_snapshot", readVersion(Some(2)))
    // history still pins every old file: cleanup may remove nothing yet
    val orphansPre = graft.sources.ManifestMaintenance.removeOrphans(s, out)
    val nExpired =
      graft.sources.ManifestMaintenance.expireSnapshots(s, out, keepLast = 1)
    val orphansPost = graft.sources.ManifestMaintenance.removeOrphans(s, out)
    val postClean = agg("latest_postclean", readVersion(None))
    val v2Gone =
      try { readVersion(Some(2)).collect(); 0L }
      catch { case e: Exception =>
        def chain(t: Throwable): Seq[Throwable] =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
        if (chain(e).exists(_.isInstanceOf[java.io.FileNotFoundException])) 1L
        else throw e
      }
    import s.implicits._
    (Seq(postCompact, v2Snap, postClean) ++ Seq(
      ("files_before", nBefore.toLong, 0L),
      ("files_after", nAfter.toLong, 0L),
      ("orphans_preexpire", orphansPre.toLong, 0L),
      ("expired", nExpired.toLong, 0L),
      ("orphans_postexpire", orphansPost.toLong, 0L),
      ("v2_gone", v2Gone, 0L)))
      .toDF("which", "n_rows", "sum_k")
      .orderBy("which")
  }

  /** q408: manifest row-level DELETE, merge-on-read — the lakehouse
    * verb the connector was missing (q393 time travel, q397 tailing,
    * q398 expiry, q401 compaction). Two appends; a predicate delete
    * records positional delete vectors (no data file rewritten);
    * the latest snapshot reads net of deletes while the pre-delete
    * snapshot still reads gross (MoR isolation); an overlapping
    * re-delete matches nothing (the matching scan itself reads through
    * the dvs, so positions stay unique); compaction then applies the
    * deletes physically under the net-of-deletes conservation guard
    * and the compacted snapshot reads identically. */
  private val q408 = Q(
    "q408_manifest_mor_delete",
    """WITH n AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
      |  WHERE n_nationkey IS NOT NULL),
      |surv AS (SELECT * FROM n WHERE k % 5 <> 0)
      |SELECT 'deleted' AS which,
      |  CAST((SELECT count(*) FROM n WHERE k % 5 = 0) AS BIGINT) AS n_rows,
      |  CAST(0 AS BIGINT) AS sum_k
      |UNION ALL SELECT 'files_after', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL SELECT 'files_before', CAST(2 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'latest', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT)
      |FROM surv
      |UNION ALL
      |SELECT 'postcompact', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT)
      |FROM surv
      |UNION ALL SELECT 'redelete', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'v2_snapshot', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT)
      |FROM n
      |ORDER BY which""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val out = s"/tmp/graft_q408_${math.abs(dir.hashCode)}"
    val f = new java.io.File(out)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val base = Tables.load(s, dir, "nation")
      .filter(col("n_nationkey").isNotNull)
      .select(col("n_nationkey").cast("long").as("k"))
    (0 until 2).foreach { i =>
      base.filter(col("k") % 2 === i).coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()
    }
    val nDeleted = graft.sources.ManifestMaintenance.delete(
      s, out, "k LONG", "k % 5 = 0")
    def readVersion(v: Option[Int]) = {
      val r = s.read.format("graft.sources.ManifestSource")
        .schema("k LONG").option("path", out)
      v.fold(r)(n => r.option("version", n)).load()
    }
    // aggregates materialize EAGERLY (q401 precedent): later
    // maintenance calls mutate the very snapshots these read
    def agg(label: String, df: org.apache.spark.sql.DataFrame): (String, Long, Long) = {
      val r = df.agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("k")).cast("long").as("sum_k")).first()
      (label, r.getLong(0), r.getLong(1))
    }
    val latest = agg("latest", readVersion(None))
    val v2 = agg("v2_snapshot", readVersion(Some(2)))
    val nRedelete = graft.sources.ManifestMaintenance.delete(
      s, out, "k LONG", "k % 5 = 0")
    val (nBefore, nAfter) =
      graft.sources.ManifestMaintenance.compact(s, out, "k LONG")
    val postCompact = agg("postcompact", readVersion(None))
    import s.implicits._
    (Seq(latest, v2, postCompact) ++ Seq(
      ("deleted", nDeleted, 0L),
      ("redelete", nRedelete, 0L),
      ("files_before", nBefore.toLong, 0L),
      ("files_after", nAfter.toLong, 0L)))
      .toDF("which", "n_rows", "sum_k")
      .orderBy("which")
  }

  /** q411: manifest UPSERT (MERGE INTO), merge-on-read — matched keys
    * supersede via delete vectors, unmatched keys insert, both
    * published as ONE atomic manifest version (readers never see a
    * half-merge). Complements q408's delete: together they are the
    * full MoR DML verb set. The pre-upsert snapshot still reads the
    * old values (time travel); compaction applies the supersedes
    * physically under the net-of-deletes conservation guard. */
  private val q411 = Q(
    "q411_manifest_upsert",
    """WITH n AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS v FROM nation
      |  WHERE n_nationkey IS NOT NULL),
      |up AS (
      |  SELECT k, 'U' || CAST(k AS VARCHAR) AS v FROM n WHERE k % 3 = 0
      |  UNION ALL
      |  SELECT k + 100, 'N' || CAST(k + 100 AS VARCHAR) FROM n WHERE k < 5),
      |fin AS (
      |  SELECT n.k, COALESCE(u.v, n.v) AS v
      |  FROM n LEFT JOIN up u ON u.k = n.k
      |  UNION ALL
      |  SELECT k, v FROM up WHERE k NOT IN (SELECT k FROM n))
      |SELECT 'latest' AS which, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(k) AS BIGINT) AS sum_k FROM fin
      |UNION ALL
      |SELECT 'latest_upd', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT)
      |FROM fin
      |WHERE v = 'U' || CAST(k AS VARCHAR) OR v = 'N' || CAST(k AS VARCHAR)
      |UNION ALL
      |SELECT 'postcompact', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT)
      |FROM fin
      |UNION ALL
      |SELECT 'pre', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT) FROM n
      |UNION ALL
      |SELECT 'superseded',
      |  CAST((SELECT count(*) FROM n WHERE k % 3 = 0) AS BIGINT),
      |  CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'upserted', CAST((SELECT count(*) FROM up) AS BIGINT),
      |  CAST(0 AS BIGINT)
      |ORDER BY which""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val out = s"/tmp/graft_q411_${math.abs(dir.hashCode)}"
    val f = new java.io.File(out)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val base = Tables.load(s, dir, "nation")
      .filter(col("n_nationkey").isNotNull)
      .select(col("n_nationkey").cast("long").as("k"),
        col("n_name").as("v"))
    base.coalesce(1).write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    val updates = base.filter(col("k") % 3 === 0)
      .select(col("k"), concat(lit("U"), col("k").cast("string")).as("v"))
      .unionByName(base.filter(col("k") < 5)
        .select((col("k") + 100).as("k"),
          concat(lit("N"), (col("k") + 100).cast("string")).as("v")))
    val (nSup, nUps) = graft.sources.ManifestMaintenance.upsert(
      s, out, "k LONG, v STRING", Seq("k"), updates)
    def readVersion(v: Option[Int]) = {
      val r = s.read.format("graft.sources.ManifestSource")
        .schema("k LONG, v STRING").option("path", out)
      v.fold(r)(n => r.option("version", n)).load()
    }
    def agg(label: String, df: org.apache.spark.sql.DataFrame): (String, Long, Long) = {
      val r = df.agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("k")).cast("long").as("sum_k")).first()
      (label, r.getLong(0), r.getLong(1))
    }
    val latest = agg("latest", readVersion(None))
    val latestUpd = agg("latest_upd", readVersion(None).filter(
      col("v") === concat(lit("U"), col("k").cast("string")) ||
        col("v") === concat(lit("N"), col("k").cast("string"))))
    val pre = agg("pre", readVersion(Some(1)))
    graft.sources.ManifestMaintenance.compact(s, out, "k LONG, v STRING")
    val postCompact = agg("postcompact", readVersion(None))
    import s.implicits._
    (Seq(latest, latestUpd, pre, postCompact) ++ Seq(
      ("superseded", nSup, 0L), ("upserted", nUps, 0L)))
      .toDF("which", "n_rows", "sum_k")
      .orderBy("which")
  }

  /** q412: CDC CHANGE FEED over the connector — every row the table
    * gained or lost across a version range, reconstructable:
    * `state(from) + inserts − deletes = state(to)`. The fixture drives
    * all four verb shapes through one range: append (v2), predicate
    * delete (v3 — dv rows materialize as full old rows via the
    * (file, offset) identity), upsert (v4 — update rows insert, the
    * superseded originals delete), compaction (v5 — a pure rewrite,
    * contributes NOTHING to the feed). The oracle reconstructs the
    * exact expected change rows from the same arithmetic. */
  private val q412 = Q(
    "q412_manifest_change_feed",
    """WITH n AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS v FROM nation
      |  WHERE n_nationkey IS NOT NULL)
      |SELECT op, version, k, v FROM (
      |  SELECT 'insert' AS op, CAST(2 AS BIGINT) AS version, k, v
      |  FROM n WHERE k % 2 = 1
      |  UNION ALL
      |  SELECT 'insert', CAST(4 AS BIGINT), k, 'U' || CAST(k AS VARCHAR)
      |  FROM n WHERE k % 3 = 0
      |  UNION ALL
      |  SELECT 'insert', CAST(4 AS BIGINT), CAST(200 AS BIGINT), 'N200'
      |  UNION ALL
      |  SELECT 'delete', CAST(3 AS BIGINT), k, v FROM n WHERE k % 5 = 0
      |  UNION ALL
      |  SELECT 'delete', CAST(4 AS BIGINT), k, v
      |  FROM n WHERE k % 3 = 0 AND k % 5 <> 0)
      |ORDER BY op, version, k""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val out = s"/tmp/graft_q412_${math.abs(dir.hashCode)}"
    val f = new java.io.File(out)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val base = Tables.load(s, dir, "nation")
      .filter(col("n_nationkey").isNotNull)
      .select(col("n_nationkey").cast("long").as("k"),
        col("n_name").as("v"))
    def append(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()
    append(base.filter(col("k") % 2 === 0)) // v1
    append(base.filter(col("k") % 2 === 1)) // v2
    graft.sources.ManifestMaintenance.delete( // v3
      s, out, "k LONG, v STRING", "k % 5 = 0")
    import s.implicits._
    val updates = base.filter(col("k") % 3 === 0)
      .select(col("k"), concat(lit("U"), col("k").cast("string")).as("v"))
      .unionByName(Seq((200L, "N200")).toDF("k", "v"))
    graft.sources.ManifestMaintenance.upsert( // v4
      s, out, "k LONG, v STRING", Seq("k"), updates)
    graft.sources.ManifestMaintenance.compact(s, out, "k LONG, v STRING") // v5
    graft.sources.ManifestMaintenance.changes(s, out, "k LONG, v STRING", 1L, 5L)
      .orderBy("op", "version", "k")
  }

  /** q413: per-file COLUMN STATS + scan-time FILE SKIPPING (zone maps —
    * the Delta/Iceberg data-skipping move): every sink commit records
    * min/max/null-count per column per file in the manifest, and the
    * reader prunes files whose stats PROVE no row can match the pushed
    * filters, before any file is opened. Four appends with disjoint
    * key ranges; a 4-key range predicate plans exactly ONE input
    * partition (each unsplit file is one partition — the planned
    * partition count is the honest observable), an impossible
    * predicate plans ZERO, and an IS NULL probe on a null-free column
    * plans zero too. At 100 TB this is the difference between a
    * time-range query opening every file and opening only the
    * overlapping ones. Results are pruning-independent by construction
    * (the same filters still run row-by-row in the reader) — the
    * oracle replays the aggregates straight from the parquet. */
  private val q413 = Q(
    "q413_manifest_file_skipping",
    """WITH n AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
      |  WHERE n_nationkey IS NOT NULL)
      |SELECT 'filtered' AS which,
      |  CAST((SELECT count(*) FROM n WHERE k BETWEEN 8 AND 11) AS BIGINT) AS n_rows,
      |  CAST((SELECT sum(k) FROM n WHERE k BETWEEN 8 AND 11) AS BIGINT) AS sum_k
      |UNION ALL SELECT 'files_planned', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL SELECT 'files_skipped', CAST(3 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'full', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT) FROM n
      |UNION ALL SELECT 'isnull_planned', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL SELECT 'impossible_planned', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |ORDER BY which""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val out = s"/tmp/graft_q413_${math.abs(dir.hashCode)}"
    val f = new java.io.File(out)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val base = Tables.load(s, dir, "nation")
      .filter(col("n_nationkey").isNotNull)
      .select(col("n_nationkey").cast("long").as("k"))
    // four files with DISJOINT key ranges (quartiles of 0..24)
    Seq((0L, 6L), (7L, 12L), (13L, 18L), (19L, 10000L)).foreach {
      case (lo, hi) =>
        base.filter(col("k") >= lo && col("k") <= hi).coalesce(1)
          .write.format("graft.sources.ManifestSink")
          .option("path", out).mode("append").save()
    }
    def read() = s.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", out).load()
    val filtered = read().filter(col("k") >= 8 && col("k") <= 11)
    val fAgg = filtered.agg(count(lit(1)).cast("long"),
      sum(col("k")).cast("long")).first()
    filtered.queryExecution.toRdd.getNumPartitions // force the scan build
    val (planned, cand) = // THIS scan's cell (per-scan identity)
      graft.sources.ManifestScanMetrics.filesOf(filtered, out)
    val skipped = cand - planned
    val isnullPlanned = read().filter(col("k").isNull)
      .queryExecution.toRdd.getNumPartitions.toLong
    val impossiblePlanned = read().filter(col("k") > 1000000L)
      .queryExecution.toRdd.getNumPartitions.toLong
    val full = read().agg(count(lit(1)).cast("long"),
      sum(col("k")).cast("long")).first()
    import s.implicits._
    Seq(
      ("filtered", fAgg.getLong(0), fAgg.getLong(1)),
      ("files_planned", planned, 0L),
      ("files_skipped", skipped, 0L),
      ("full", full.getLong(0), full.getLong(1)),
      ("isnull_planned", isnullPlanned, 0L),
      ("impossible_planned", impossiblePlanned, 0L))
      .toDF("which", "n_rows", "sum_k")
      .orderBy("which")
  }

  /** q414: SCHEMA EVOLUTION on the connector — every manifest entry
    * records the file's OWN column layout, and the reader maps columns
    * BY NAME: a column added later reads as NULL from older files, a
    * reordered read schema resolves positionally-independently, and no
    * old file is ever rewritten (the Iceberg column-mapping move; CSV
    * field order alone would silently mis-read evolved tables). The
    * stats pruner composes: an absent column is provably all-NULL, so
    * `IS NOT NULL` skips the whole old generation without opening it.
    * Compaction homogenizes the table to the current schema (rows
    * conserved; the checksum leg of the guard stands down across
    * layouts because re-rendering legitimately changes line hashes). */
  private val q414 = Q(
    "q414_manifest_schema_evolution",
    """WITH n AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name,
      |    CAST(n_regionkey AS BIGINT) AS reg
      |  FROM nation WHERE n_nationkey IS NOT NULL),
      |ev AS (
      |  SELECT k, name, CAST(NULL AS BIGINT) AS reg FROM n WHERE k % 2 = 0
      |  UNION ALL
      |  SELECT k, name, reg FROM n WHERE k % 2 = 1)
      |SELECT 'latest' AS which, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(k) AS BIGINT) AS sum_v FROM ev
      |UNION ALL
      |SELECT 'newgen_planned', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'nulls_reg', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT)
      |FROM ev WHERE reg IS NULL
      |UNION ALL
      |SELECT 'postcompact', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT)
      |FROM ev
      |UNION ALL
      |SELECT 'postcompact_sum_reg', CAST(count(*) AS BIGINT),
      |  CAST(sum(reg) AS BIGINT) FROM ev WHERE reg IS NOT NULL
      |UNION ALL
      |SELECT 'sum_reg', CAST(count(*) AS BIGINT), CAST(sum(reg) AS BIGINT)
      |FROM ev WHERE reg IS NOT NULL
      |ORDER BY which""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val out = s"/tmp/graft_q414_${math.abs(dir.hashCode)}"
    val f = new java.io.File(out)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val base = Tables.load(s, dir, "nation")
      .filter(col("n_nationkey").isNotNull)
      .select(col("n_nationkey").cast("long").as("k"),
        col("n_name").as("name"),
        col("n_regionkey").cast("long").as("reg"))
    // generation 1: (k, name) only — written before `reg` existed
    base.filter(col("k") % 2 === 0).select("k", "name").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    // generation 2: the evolved (k, name, reg) layout
    base.filter(col("k") % 2 === 1).coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    def read() = s.read.format("graft.sources.ManifestSource")
      .schema("k LONG, name STRING, reg LONG").option("path", out).load()
    def agg(label: String, df: org.apache.spark.sql.DataFrame,
        sumCol: String = "k"): (String, Long, Long) = {
      val r = df.agg(count(lit(1)).cast("long"),
        sum(col(sumCol)).cast("long")).first()
      (label, r.getLong(0), r.getLong(1))
    }
    val latest = agg("latest", read())
    val nullsReg = agg("nulls_reg", read().filter(col("reg").isNull))
    val sumReg = agg("sum_reg", read().filter(col("reg").isNotNull), "reg")
    // stats ∘ evolution: the gen-1 file provably has NO reg values, so
    // IS NOT NULL plans only the gen-2 file
    val newgenPlanned = read().filter(col("reg").isNotNull)
      .queryExecution.toRdd.getNumPartitions.toLong
    graft.sources.ManifestMaintenance.compact(
      s, out, "k LONG, name STRING, reg LONG")
    val postCompact = agg("postcompact", read())
    val postReg = agg("postcompact_sum_reg",
      read().filter(col("reg").isNotNull), "reg")
    import s.implicits._
    (Seq(latest, nullsReg, sumReg, postCompact, postReg) ++
      Seq(("newgen_planned", newgenPlanned, 0L)))
      .toDF("which", "n_rows", "sum_v")
      .orderBy("which")
  }

  /** q420: INCREMENTAL VIEW MAINTENANCE over the change feed — the
    * reason a table exposes CDC at all: a grouped aggregate (count,
    * sum) materialized at an old snapshot is brought to the current
    * snapshot by applying ONLY the feed's deltas (+insert / −delete per
    * group), never rescanning the table. The fixture drives an append,
    * a predicate delete, and an upsert through the version range, then
    * emits the MAINTAINED aggregate next to the RECOMPUTED one — the
    * oracle's single final-state replay can only match if
    * base + Σdeltas ≡ recompute, group by group (count-sum algebra:
    * sums and counts are self-inverse under insert/delete, which is
    * exactly why production IVM maintains sums/counts and derives avg).
    * At 100 TB the delta is proportional to the CHANGES, not the table:
    * one groupBy over the feed + a #groups-sized merge. */
  private val q420 = Q(
    "q420_incremental_view_maintenance",
    """WITH n AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS v FROM nation
      |  WHERE n_nationkey IS NOT NULL),
      |applied AS (
      |  SELECT k, CASE WHEN k % 3 = 0 THEN 'U' || CAST(k AS VARCHAR)
      |                 ELSE v END AS v
      |  FROM n WHERE k % 5 <> 0
      |  UNION ALL
      |  SELECT k + 300, 'N' || CAST(k + 300 AS VARCHAR)
      |  FROM n WHERE k < 6),
      |fin AS (
      |  SELECT k % 4 AS g, count(*) AS n_rows, sum(k) AS sum_k
      |  FROM applied GROUP BY 1)
      |SELECT CAST(g AS BIGINT) AS g,
      |  CAST(n_rows AS BIGINT) AS n_maintained,
      |  CAST(sum_k AS BIGINT) AS sum_maintained,
      |  CAST(n_rows AS BIGINT) AS n_recomputed,
      |  CAST(sum_k AS BIGINT) AS sum_recomputed
      |FROM fin ORDER BY g""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val out = s"/tmp/graft_q420_${math.abs(dir.hashCode)}"
    val f = new java.io.File(out)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val ddl = "k LONG, v STRING"
    val base = Tables.load(s, dir, "nation")
      .filter(col("n_nationkey").isNotNull)
      .select(col("n_nationkey").cast("long").as("k"),
        col("n_name").as("v"))
    def append(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()
    append(base.filter(col("k") % 2 === 0)) // v1: the materialization point
    def readVersion(v: Option[Long]) = {
      val r = s.read.format("graft.sources.ManifestSource")
        .schema(ddl).option("path", out)
      v.fold(r)(n => r.option("version", n)).load()
    }
    def grouped(df: org.apache.spark.sql.DataFrame) =
      df.groupBy((col("k") % 4).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("s"))
    // the MATERIALIZED view at v1 (collected eagerly: later verbs
    // mutate the table; #groups rows — view states are small by design)
    val baseAgg = grouped(readVersion(Some(1L))).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // the change verbs: append (v2), delete (v3), upsert (v4)
    append(base.filter(col("k") % 2 === 1))
    graft.sources.ManifestMaintenance.delete(s, out, ddl, "k % 5 = 0")
    val updates = base.filter(col("k") % 3 === 0 && col("k") % 5 =!= 0)
      .select(col("k"), concat(lit("U"), col("k").cast("string")).as("v"))
      .unionByName(base.filter(col("k") < 6)
        .select((col("k") + 300).as("k"),
          concat(lit("N"), (col("k") + 300).cast("string")).as("v")))
    graft.sources.ManifestMaintenance.upsert(s, out, ddl, Seq("k"), updates)
    val latestV = graft.sources.ManifestRead.latestVersion(out)
    // IVM: one groupBy over the FEED (±1 per op), merged into the view
    val delta = graft.sources.ManifestMaintenance
      .changes(s, out, ddl, 1L, latestV)
      .withColumn("sgn", when(col("op") === "insert", 1L).otherwise(-1L))
      .groupBy((col("k") % 4).as("g"))
      .agg(sum(col("sgn")).as("dn"), sum(col("sgn") * col("k")).as("ds"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val maintained = (baseAgg.keySet ++ delta.keySet).toSeq.sorted.map { g =>
      val (bn, bs) = baseAgg.getOrElse(g, (0L, 0L))
      val (dn, ds) = delta.getOrElse(g, (0L, 0L))
      (g, bn + dn, bs + ds)
    }.filter(t => t._2 != 0L || t._3 != 0L)
    // the proof: recompute from the latest snapshot and emit both
    val recomputed = grouped(readVersion(None)).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    import s.implicits._
    maintained.map { case (g, n, sm) =>
      val (rn, rs) = recomputed.getOrElse(g, (0L, 0L))
      (g, n, sm, rn, rs)
    }.toDF("g", "n_maintained", "sum_maintained",
      "n_recomputed", "sum_recomputed")
      .orderBy("g")
  }

  /** q422: AGGREGATE PUSHDOWN TO MANIFEST STATISTICS — a global
    * MIN/MAX/COUNT query answered from the per-file column stats
    * without opening ANY data file (the Parquet-footer / Delta
    * stats-query move; SupportsPushDownAggregates, partial-pushdown
    * contract so an unanswerable aggregate silently falls back to a
    * real scan). The fixture pins the whole answerable/fallback
    * boundary: stats answer the clean global aggregate (plan shows
    * ManifestAggScan, the metrics flag flips), a FILTERED aggregate
    * falls back (file-level stats can't answer row-level predicates),
    * pending delete vectors disable it (manifest stats are GROSS), and
    * compaction — which consumes the dvs — re-arms it. At 100 TB this
    * is the difference between a metadata read and a full table scan
    * for every dashboard count. */
  private val q422 = Q(
    "q422_manifest_stats_aggregate",
    """WITH n AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k,
      |    CASE WHEN n_nationkey % 4 = 0 THEN NULL ELSE n_name END AS v
      |  FROM nation WHERE n_nationkey IS NOT NULL),
      |surv AS (SELECT * FROM n WHERE k % 5 <> 0)
      |SELECT 'agg_from_stats' AS which, CAST(1 AS BIGINT) AS a,
      |  CAST(0 AS BIGINT) AS b
      |UNION ALL
      |SELECT 'counts', CAST(count(*) AS BIGINT), CAST(count(v) AS BIGINT)
      |FROM n
      |UNION ALL
      |SELECT 'filtered', CAST(min(k) AS BIGINT), CAST(count(*) AS BIGINT)
      |FROM n WHERE k > 10
      |UNION ALL SELECT 'filtered_from_stats', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'minmax_k', CAST(min(k) AS BIGINT), CAST(max(k) AS BIGINT)
      |FROM n
      |UNION ALL
      |SELECT 'postcompact', CAST(max(k) AS BIGINT), CAST(count(*) AS BIGINT)
      |FROM surv
      |UNION ALL SELECT 'postcompact_from_stats', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'postdelete', CAST(max(k) AS BIGINT), CAST(count(*) AS BIGINT)
      |FROM surv
      |UNION ALL SELECT 'postdelete_from_stats', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |ORDER BY which""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val out = s"/tmp/graft_q422_${math.abs(dir.hashCode)}"
    val f = new java.io.File(out)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val ddl = "k LONG, v STRING"
    val base = Tables.load(s, dir, "nation")
      .filter(col("n_nationkey").isNotNull)
      .select(col("n_nationkey").cast("long").as("k"),
        when(col("n_nationkey") % 4 === 0, lit(null))
          .otherwise(col("n_name")).as("v"))
    (0 until 2).foreach { i =>
      base.filter(col("k") % 2 === i).coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()
    }
    def tbl() = s.read.format("graft.sources.ManifestSource")
      .schema(ddl).option("path", out).load()
    def pushed(df: org.apache.spark.sql.DataFrame): Long = {
      graft.sources.ManifestScanMetrics.reset(out)
      df.collect() // evaluates; the scan build records the flag
      if (graft.sources.ManifestScanMetrics.aggFromStats(out)) 1L else 0L
    }
    val mm = tbl().agg(min(col("k")).as("a"), max(col("k")).as("b"))
    val mmPushed = pushed(mm)
    val mmR = mm.first()
    val cnt = tbl().agg(count(lit(1)).as("a"), count(col("v")).as("b"))
    val cntR = cnt.first()
    val flt = tbl().filter(col("k") > 10)
      .agg(min(col("k")).as("a"), count(lit(1)).as("b"))
    val fltPushed = pushed(flt)
    val fltR = flt.first()
    graft.sources.ManifestMaintenance.delete(s, out, ddl, "k % 5 = 0")
    val pd = tbl().agg(max(col("k")).as("a"), count(lit(1)).as("b"))
    val pdPushed = pushed(pd)
    val pdR = pd.first()
    graft.sources.ManifestMaintenance.compact(s, out, ddl)
    val pc = tbl().agg(max(col("k")).as("a"), count(lit(1)).as("b"))
    val pcPushed = pushed(pc)
    val pcR = pc.first()
    import s.implicits._
    Seq(
      ("agg_from_stats", mmPushed, 0L),
      ("counts", cntR.getLong(0), cntR.getLong(1)),
      ("filtered", fltR.getLong(0), fltR.getLong(1)),
      ("filtered_from_stats", fltPushed, 0L),
      ("minmax_k", mmR.getLong(0), mmR.getLong(1)),
      ("postcompact", pcR.getLong(0), pcR.getLong(1)),
      ("postcompact_from_stats", pcPushed, 0L),
      ("postdelete", pdR.getLong(0), pdR.getLong(1)),
      ("postdelete_from_stats", pdPushed, 0L))
      .toDF("which", "a", "b")
      .orderBy("which")
  }

  /** q423: per-file BLOOM index for STRING-EQUALITY file skipping —
    * the leg zone maps (q413) can't cover: string columns carry no
    * min/max (UTF-8 vs UTF-16 collation), so a string point-lookup
    * would open every file. Each sink commit now records a per-file
    * Bloom over each string column's values; the scan planner probes
    * it for pushed string equality and skips files that DEFINITELY
    * don't contain the value (a false positive only keeps a file
    * planned — never loses a row). The Iceberg/Delta bloom-column
    * move. Fixture: four disjoint-range files; a point lookup of one
    * nation's name plans exactly its own file, an absent value plans
    * zero. The planned counts are output rows, pruning-independent
    * values are oracle-replayed. */
  private val q423 = Q(
    "q423_manifest_bloom_skipping",
    """WITH n AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS v FROM nation
      |  WHERE n_nationkey IS NOT NULL),
      |probe AS (SELECT v FROM n WHERE k = 12)
      |SELECT 'full' AS which, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(k) AS BIGINT) AS sum_k FROM n
      |UNION ALL
      |SELECT 'hit', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT)
      |FROM n WHERE v = (SELECT v FROM probe)
      |UNION ALL SELECT 'hit_planned', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL SELECT 'miss_planned', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |ORDER BY which""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val out = s"/tmp/graft_q423_${math.abs(dir.hashCode)}"
    val f = new java.io.File(out)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val base = Tables.load(s, dir, "nation")
      .filter(col("n_nationkey").isNotNull)
      .select(col("n_nationkey").cast("long").as("k"),
        col("n_name").as("v"))
    Seq((0L, 6L), (7L, 12L), (13L, 18L), (19L, 10000L)).foreach {
      case (lo, hi) =>
        base.filter(col("k") >= lo && col("k") <= hi).coalesce(1)
          .write.format("graft.sources.ManifestSink")
          .option("path", out).mode("append").save()
    }
    // the point-lookup value: one driver-side row (metadata-bounded)
    val probe = base.filter(col("k") === 12L).select("v").first().getString(0)
    def read() = s.read.format("graft.sources.ManifestSource")
      .schema("k LONG, v STRING").option("path", out).load()
    val hit = read().filter(col("v") === probe)
    val hitAgg = hit.agg(count(lit(1)).cast("long"),
      coalesce(sum(col("k")), lit(0L)).cast("long")).first()
    val hitPlanned = hit.queryExecution.toRdd.getNumPartitions.toLong
    val missPlanned = read().filter(col("v") === "__absent_value__")
      .queryExecution.toRdd.getNumPartitions.toLong
    val full = read().agg(count(lit(1)).cast("long"),
      sum(col("k")).cast("long")).first()
    import s.implicits._
    Seq(
      ("full", full.getLong(0), full.getLong(1)),
      ("hit", hitAgg.getLong(0), hitAgg.getLong(1)),
      ("hit_planned", hitPlanned, 0L),
      ("miss_planned", missPlanned, 0L))
      .toDF("which", "n_rows", "sum_k")
      .orderBy("which")
  }

  /** q425: time travel from the SQL SURFACE — `FROM <name> VERSION AS
    * OF n` over a [[graft.sources.ManifestTables]]-registered manifest
    * table, parsed by Spark's own grammar and routed by the injected
    * [[graft.plans.DialectParser]] to the source's `version` option
    * (q393's capability, now reachable from `spark.sql`). Three
    * commits (doc_id mod 3 slices of `documents`), three versioned SQL
    * reads; the oracle replays each snapshot's aggregate as the
    * cumulative mod-bucket union. TIMESTAMP AS OF rides the same node
    * and is pinned by spec (commit instants aren't oracle-replayable). */
  private val q425 = Q(
    "q425_time_travel_sql",
    """WITH d AS (
      |  SELECT doc_id, lang, doc_id % 3 AS m FROM documents
      |  WHERE doc_id IS NOT NULL)
      |SELECT CAST(v.version AS INT) AS version,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(d.doc_id) AS BIGINT) AS sum_id,
      |  CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs
      |FROM (VALUES (1), (2), (3)) v(version) JOIN d ON d.m < v.version
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val out = s"/tmp/graft_q425_${math.abs(dir.hashCode)}"
    val f = new java.io.File(out)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val docs = Tables.load(s, dir, "documents")
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("lang"))
    (0 to 2).foreach { m =>
      docs.filter(col("doc_id") % 3 === m).coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()
    }
    graft.sources.ManifestTables.register(
      "mf_q425", out, "doc_id LONG, lang STRING")
    (1 to 3).map { v =>
      graft.plans.DialectParser.sql(s,
        s"""SELECT CAST($v AS INT) AS version,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
           |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
           |FROM mf_q425 VERSION AS OF $v""".stripMargin)
    }.reduce(_.unionByName(_)).orderBy("version")
  }

  /** q426: STRING-RANGE and PREFIX file skipping via the truncated
    * UTF-8 byte bounds the sink records per string column (the
    * Iceberg truncate-transform move) — closing the gap q423's Bloom
    * (equality-only) left. Four files sliced alphabetically; a range
    * probe and a LIKE-prefix probe each plan only the files whose
    * [slo, shi) envelope overlaps. The planned counts are
    * ORACLE-REPLAYED as per-slice bound arithmetic (keep iff
    * max >= lo AND min < hi — exact here because nation names are
    * ASCII and fit untruncated, so bounds are the true min/max; the
    * truncation/exclusive-bound path is pinned by spec on
    * multi-byte/surrogate strings). */
  private val q426 = Q(
    "q426_string_range_skipping",
    """WITH n AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS v FROM nation
      |  WHERE n_nationkey IS NOT NULL),
      |sl AS (
      |  SELECT s.lo, min(n.v) AS mn, max(n.v) AS mx
      |  FROM (VALUES ('A','F'), ('F','K'), ('K','R'), ('R','~')) s(lo, hi)
      |  JOIN n ON n.v >= s.lo AND n.v < s.hi GROUP BY 1)
      |SELECT 'full' AS which, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(k) AS BIGINT) AS sum_k FROM n
      |UNION ALL
      |SELECT 'prefix', CAST(count(*) AS BIGINT),
      |  CAST(COALESCE(sum(k), 0) AS BIGINT) FROM n WHERE v LIKE 'IN%'
      |UNION ALL
      |SELECT 'prefix_planned',
      |  CAST((SELECT count(*) FROM sl WHERE mx >= 'IN' AND mn < 'IO')
      |    AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'range', CAST(count(*) AS BIGINT),
      |  CAST(COALESCE(sum(k), 0) AS BIGINT)
      |FROM n WHERE v >= 'E' AND v < 'KE'
      |UNION ALL
      |SELECT 'range_planned',
      |  CAST((SELECT count(*) FROM sl WHERE mx >= 'E' AND mn < 'KE')
      |    AS BIGINT), CAST(0 AS BIGINT)
      |ORDER BY which""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions._
    val out = s"/tmp/graft_q426_${math.abs(dir.hashCode)}"
    val f = new java.io.File(out)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val base = Tables.load(s, dir, "nation")
      .filter(col("n_nationkey").isNotNull)
      .select(col("n_nationkey").cast("long").as("k"),
        col("n_name").as("v"))
    Seq(("A", "F"), ("F", "K"), ("K", "R"), ("R", "~")).foreach {
      case (lo, hi) =>
        val slice = base.filter(col("v") >= lo && col("v") < hi)
        if (slice.limit(1).count() > 0)
          slice.coalesce(1).write.format("graft.sources.ManifestSink")
            .option("path", out).mode("append").save()
    }
    def read() = s.read.format("graft.sources.ManifestSource")
      .schema("k LONG, v STRING").option("path", out).load()
    def measure(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val agg = df.agg(count(lit(1)).cast("long"),
        coalesce(sum(col("k")), lit(0L)).cast("long")).first()
      df.queryExecution.toRdd.getNumPartitions // force the scan build
      val (planned, _) = // THIS scan's cell (per-scan identity)
        graft.sources.ManifestScanMetrics.filesOf(df, out)
      (agg.getLong(0), agg.getLong(1), planned)
    }
    val full = read().agg(count(lit(1)).cast("long"),
      sum(col("k")).cast("long")).first()
    val (rRows, rSum, rPlanned) =
      measure(read().filter(col("v") >= "E" && col("v") < "KE"))
    val (pRows, pSum, pPlanned) =
      measure(read().filter(col("v").startsWith("IN")))
    import s.implicits._
    Seq(
      ("full", full.getLong(0), full.getLong(1)),
      ("prefix", pRows, pSum),
      ("prefix_planned", pPlanned, 0L),
      ("range", rRows, rSum),
      ("range_planned", rPlanned, 0L))
      .toDF("which", "n_rows", "sum_k")
      .orderBy("which")
  }

  val defs: Seq[Q] =
    Seq(q112, q127, q128, q129, q130, q148, q171, q172, q183, q184, q188,
      q194, q237, q255, q262, q270, q272, q393, q397, q398, q401, q408,
      q411, q412, q413, q414, q420, q422, q423, q425, q426)
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's read-only parquet tables (see TESTDATA.md /
  * FIXTURES.md). All queries take the sf directory as a parameter so the
  * same code runs at every scale factor — and, on a real cluster, against
  * any path (s3://, hdfs://) Spark's data sources resolve.
  *
  * Scale note: `spark.read.parquet` gives vectorized scans, predicate
  * pushdown and column pruning for free; at 100 TB the same call reads a
  * partitioned directory tree and Catalyst prunes partitions from query
  * predicates. Nothing here assumes local files.
  *
  * Schema memo: without a schema, every `spark.read.parquet` runs a Spark
  * job that reads the parquet footers. [[table]] keeps the schema Spark
  * inferred the first time, process-wide, one entry per table path, and
  * reads with it afterwards, which runs no job. The entry is keyed on the
  * table's [[fingerprint]] and on the session's explicitly set
  * `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` values, which
  * change what inference returns (`events()` sets `nanosAsLong`). A
  * rewritten table or a session with other parquet settings misses,
  * infers again and replaces the entry, so a stale schema is never
  * served. Entries live as long as the JVM: one small `StructType` per
  * table path read.
  */
object Tables {
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val parquetConfs = spark.conf.getAll.toSeq
      .filter { case (k, _) => k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") }
      .sorted
    val key = s"${fingerprint(spark, path)};${parquetConfs.mkString(",")}"
    schemas.get(path) match {
      case (`key`, schema) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemas.put(path, (key, df.schema))
        df
    }
  }

  /** The path, length and mtime of every file under `path`: what changes
    * when a table is rewritten in place. Keys the schema memo above and
    * `Dedup.shared`'s session memo.
    */
  private[graft] def fingerprint(s: SparkSession, path: String): String = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val files = dir.getFileSystem(s.sessionState.newHadoopConf()).listFiles(dir, true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}").toSeq.sorted.mkString(",")
  }

  /** `events.ts` has shipped in two physical forms across fixture
    * generations: TIMESTAMP(NANOS) (which Spark's microsecond TimestampType
    * refuses unless read as raw int64 via `nanosAsLong`) and plain
    * TIMESTAMP(MICROS) without UTC adjustment (which Spark reads as
    * TIMESTAMP_NTZ). The DuckDB oracle sees microsecond timestamps either
    * way, so cross-engine parity = normalize whatever we loaded to a
    * session-UTC TimestampType column (the session is pinned to UTC, so
    * NTZ↔LTZ is value-identical) and keep the full TimestampType surface
    * (windows, intervals, streaming watermarks) downstream.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // `nanosAsLong` only alters TIMESTAMP(NANOS) columns — on a micros
    // fixture it is inert, so setting it unconditionally is safe, and it
    // must stay set for the session because parquet readers re-consult the
    // session conf at ACTION time (ParquetFileFormat.buildReader copies it
    // into the task hadoopConf); unsetting after plan construction would
    // crash any not-yet-executed events scan of a nanos fixture.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // nanos fixture: integral `div` — a double division would lose
        // precision on 1.7e18-ns epoch values (> 2^53).
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ =>
        raw
    }
  }

  /** Fixture schema contract: expected column name → accepted Spark type
    * simpleStrings, per table, in order. Columns with several accepted
    * types are those whose physical encoding has drifted across fixture
    * generations (events.ts shipped as TIMESTAMP(NANOS) → read as bigint
    * under `nanosAsLong` — then as TIMESTAMP(MICROS) → TIMESTAMP_NTZ);
    * the loaders normalize all accepted forms. Round 4 lost 38 queries to
    * a silent fixture regeneration — this check turns the next one into
    * one readable message naming the drifted column instead.
    */
  private val tsLike = Set("bigint", "timestamp_ntz", "timestamp", "date")
  private val contract: Seq[(String, Seq[(String, Set[String])])] = Seq(
    "region" -> Seq("r_regionkey" -> Set("int"), "r_name" -> Set("string")),
    "nation" -> Seq("n_nationkey" -> Set("int"), "n_name" -> Set("string"),
      "n_regionkey" -> Set("int")),
    "customer" -> Seq("c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
      "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Seq("s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
      "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
    "part" -> Seq("p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
    "orders" -> Seq("o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      "o_orderdate" -> tsLike, "o_orderpriority" -> Set("string")),
    "lineitem" -> Seq("l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
      "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> tsLike),
    "events" -> Seq("event_id" -> Set("bigint"), "ts" -> tsLike,
      "user_id" -> Set("bigint"), "event_type" -> Set("string"),
      "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Seq("doc_id" -> Set("bigint"), "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> Set("bigint")),
    "embeddings" -> Seq("vec_id" -> Set("bigint"),
      "embedding" -> Set("array<float>"), "label" -> Set("int")))

  /** Returns one human-readable message per contract violation (empty =
    * fixtures match). Checked by SchemaContractSpec and printed loudly by
    * Verify at startup so a driver-side fixture regeneration surfaces as
    * a named drift, not as silently missing CORRECTNESS entries.
    */
  def schemaDrift(spark: SparkSession, sfDir: String): Seq[String] = {
    // `nanosAsLong` first so a nanos-generation events fixture loads at
    // all (inert for micros fixtures) — same lever `events()` uses.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    contract.flatMap { case (name, cols) =>
      try {
        val actual = table(spark, sfDir, name).schema
          .map(f => f.name -> f.dataType.simpleString).toMap
        val missing = cols.collect {
          case (c, _) if !actual.contains(c) => s"$name.$c: MISSING (expected one of ${cols.toMap.apply(c).mkString("/")})"
        }
        val drifted = cols.collect {
          case (c, ok) if actual.contains(c) && !ok(actual(c)) =>
            s"$name.$c: type ${actual(c)} not in accepted {${ok.mkString(", ")}}"
        }
        val extra = (actual.keySet -- cols.map(_._1)).toSeq.sorted
          .map(c => s"$name.$c: UNEXPECTED new column (${actual(c)})")
        missing ++ drifted ++ extra
      } catch {
        case e: Throwable => Seq(s"$name: unreadable at $sfDir (${e.getMessage})")
      }
    }
  }

  def region(spark: SparkSession, d: String): DataFrame    = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = table(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = table(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = table(spark, d, "lineitem")
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")
}

/** One named query: the Spark implementation plus (when SQL-expressible)
  * the ANSI SQL a DuckDB oracle runs over the same parquet tables.
  * Column names and row values must match the oracle exactly — see
  * `Sql.scala` for the cross-engine determinism helpers.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

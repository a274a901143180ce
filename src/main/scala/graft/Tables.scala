package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** One reader per table. Explicit schema: skips footer merging across
  * the (at 100 TB: many thousands of) files of a production table and
  * pins types so downstream plans never re-resolve.
  *
  * Column pruning and predicate pushdown happen downstream via Catalyst
  * — callers just `.select`/`.filter` and the parquet scan narrows
  * (verify with `.explain("formatted")`: ReadSchema / PushedFilters).
  */
object Tables {

  private def read(spark: SparkSession, dir: String, name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region", Schemas.region)
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation", Schemas.nation)
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier", Schemas.supplier)
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer", Schemas.customer)
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part", Schemas.part)
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders", Schemas.orders)
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem", Schemas.lineitem)
  /** Physical type of `ts` as Spark would read it, from ONE data file's
    * footer. `spark.read.parquet(p).schema` would start a job (Spark's
    * parallel schema merge) on every new table version; the footer read
    * and Spark's own parquet→Spark type converter, under the session's
    * conf (nanosAsLong included), give the same `ts` type on the driver
    * alone. Only `ts` is compared: the full schemas differ in
    * nullability. */
  private def footerTsType(spark: SparkSession, p: String): Option[DataType] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(p)
    val fs = root.getFileSystem(conf)
    // a data file: the path itself, or the first non-hidden file under
    // it (Spark's writers put _SUCCESS / .crc beside the part files)
    val files = fs.listFiles(root, true)
    val data = Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      .find(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .getOrElse(throw new IllegalStateException(s"no parquet data file under $p"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(data, conf))
    val schema = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(schema)
      .find(_.name == "ts").map(_.dataType)
  }

  /** events.ts has shipped in two physical shapes across testdata
    * generations: parquet TIMESTAMP(MICROS) (reads directly as
    * TimestampType) and nanosecond INT64 — either a plain int64 column
    * or TIMESTAMP(NANOS), which Spark 4 rejects (PARQUET_TYPE_ILLEGAL)
    * unless `spark.sql.legacy.parquet.nanosAsLong` maps it to LongType.
    * Hardcoding one unit silently shears the other by 1000× (the
    * round-5 regression: the testdata flipped ns→µs and `ts DIV 1000`
    * compressed every event into Jan 1970, 12 red oracle rows), so the
    * reader sniffs: read one data file's footer once per table version
    * and branch on the physical type of `ts`.
    *
    * The ns path converts via integer division — `ts DIV 1000` then
    * timestamp_micros — which is exact (generators emit µs-precision
    * values; double division would be lossy: 2024 epoch-ns ≈ 1.7e18 >
    * 2^53). The sniff result is a [[graft.api.ResultCache]] entry per
    * table version: one footer read on the driver per version, no job,
    * nothing per query.
    *
    * SESSION-WIDE SIDE EFFECT: sets spark.sql.legacy.parquet.nanosAsLong
    * for the whole session (the flag is read at scan planning, not
    * per-reader, and must be on BEFORE inference or a TIMESTAMP(NANOS)
    * footer fails instead of inferring LongType) — after the first
    * call, any OTHER TIMESTAMP(NANOS) parquet read in the session
    * yields Longs instead of failing. [[GraftSession]]'s profile sets
    * the flag at session build so behavior is order-independent; a
    * caller embedding this library copies that profile. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val f = new java.io.File(path)
    // memo key: canonical path (so relative/absolute spellings share an
    // entry) + the directory's lastModified (so regenerating the table
    // in place — Spark's write commits rename into the dir and bump its
    // mtime — invalidates the sniff instead of silently reusing a stale
    // unit, which would be the round-5 shear bug reintroduced for
    // long-lived sessions)
    val p = f.getCanonicalPath
    val kind = graft.api.ResultCache.getOrCompute[String](
      s"events-ts|$p|${f.lastModified}", _ => true) {
      footerTsType(spark, p) match {
        case Some(org.apache.spark.sql.types.TimestampType) => "us"
        case Some(org.apache.spark.sql.types.TimestampNTZType) => "ntz"
        case Some(org.apache.spark.sql.types.LongType) => "ns"
        case other => throw new IllegalStateException(
          s"events.ts at $p has unsupported physical type " +
            s"${other.map(_.toString).getOrElse("<no ts column>")} " +
            "(expected TIMESTAMP(MICROS), TIMESTAMP_NTZ(MICROS) or nanosecond INT64)")
      }
    }
    kind match {
      case "us" => read(spark, dir, "events", Schemas.events)
      // NTZ (isAdjustedToUTC=false, the current driver testdata): the
      // wall-clock digits ARE the values — the DuckDB oracle reads them
      // naively. Casting NTZ→TIMESTAMP re-interprets those digits in the
      // session timezone, which graft pins to UTC (Verify/Bench session
      // build; embedding callers must do the same), so the cast is an
      // exact µs-preserving relabel, not a shift.
      case "ntz" => spark.read.schema(Schemas.eventsNtz).parquet(path)
        .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      case "ns" => spark.read.schema(Schemas.eventsRaw).parquet(path)
        .withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents", Schemas.documents)
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings", Schemas.embeddings)
}

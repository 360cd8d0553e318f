package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types._

import scala.collection.immutable.ListMap

/** Typed loaders for the driver-generated testdata tables (see TESTDATA.md).
  *
  * Every operator reads through here so the scan layer stays in one place:
  * at 100 TB these become partitioned/bucketed catalog tables and this is
  * the only file that changes. Column pruning + predicate pushdown are
  * preserved because we hand back the raw `DataFrameReader` result and let
  * Catalyst prune from the final plan.
  *
  * Schemas come from the catalog, not from the data: [[Schemas]] declares
  * each table's columns as DDL, equal to what parquet schema inference
  * returns for the TESTDATA generator's files (its timestamps are
  * written without UTC adjustment, so they are `TIMESTAMP_NTZ`). A read
  * with a declared schema runs no Spark job; an inferring read runs one
  * per open. The one column whose type varies between generator versions,
  * `events.ts`, is decided from one data file's parquet footer, read on
  * the driver. Nothing is cached between opens: each call lists the
  * files again and sees what is on disk.
  */
object Tables {
  /** The declared schema of every TESTDATA table, by table name, in
    * TESTDATA order. */
  val Schemas: ListMap[String, StructType] = ListMap(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    // `ts` here is the TESTDATA generator's; [[events]] replaces it with
    // the type the file's footer declares
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  private def path(dir: String, name: String): String = s"$dir/$name.parquet"

  private def rd(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(Schemas(name)).parquet(path(dir, name))

  def region(spark: SparkSession, dir: String): DataFrame    = rd(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = rd(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = rd(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = rd(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = rd(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = rd(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = rd(spark, dir, "lineitem")

  /** The type parquet inference gives `events.ts`, from the footer of
    * one of its data files (a file, or the first data file of a
    * directory), read on the driver with no Spark job. */
  private[graft] def eventsTsType(spark: SparkSession, dir: String): DataType = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new Path(path(dir, "events"))
    val fs = p.getFileSystem(hadoopConf)
    val file =
      if (fs.getFileStatus(p).isFile) p
      else fs.listStatus(p).map(_.getPath)
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .minBy(_.getName)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, hadoopConf))
    val footer = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(footer)("ts").dataType
  }

  /** events.parquet's `ts` physical type varies by generator version:
    * TIMESTAMP(NANOS) (which the vectorized reader rejects — read as raw
    * int64 under `spark.sql.legacy.parquet.nanosAsLong`, which
    * GraftSession.configure sets, and rescale), TIMESTAMP_NTZ, or plain
    * microsecond TIMESTAMP. Branch on the file's footer so every
    * generation surfaces the same session-zone microsecond TimestampType. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val tsType = eventsTsType(spark, dir)
    val raw = spark.read.schema(StructType(Schemas("events").map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f)))
      .parquet(path(dir, "events"))
    tsType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = rd(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = rd(spark, dir, "embeddings")

  /** Open one table by name (the loaders above, by TESTDATA name). */
  def byName(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" => events(spark, dir)
    case _        => rd(spark, dir, name)
  }
}

package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All queries in [[SparkEntry]] take an `sfDir` (e.g. `/root/testdata/sf0.01`)
  * and read one parquet file per table. At cluster scale these would be
  * date-partitioned Parquet/Delta directories; the loader shape is identical
  * (`spark.read.parquet(path)`), so nothing here changes at 100 TB — filters
  * and projections in downstream plans push into the scan (PushedFilters /
  * ReadSchema), and partition pruning applies when the layout is partitioned.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[Any]), StructType]()

  /** `spark.read.parquet(path)` that infers the schema (one Spark job) only
    * the first time it sees the path's files: the schema is memoized under
    * the path, the (name, length, mtime) of its file or of its directory's
    * entries, and the session's parquet settings, so a rewritten file is
    * inferred again. For read-only inputs; a table rewritten in place by
    * every upsert (a sink) reads through its own path. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val files = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
    val key = (path, files.map(f => (f.getPath.getName, f.getLen,
      f.getModificationTime)).sortBy(_._1) ++
      spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted)
    Option(schemas.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemas.put(key, df.schema)
        df
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events.ts` is parquet timestamp[ns]. Spark 4 rejects NANOS timestamps
    * unless `spark.sql.legacy.parquet.nanosAsLong=true` (our sessions set
    * it), in which case the column arrives as LONG nanoseconds; DuckDB keeps
    * ns natively. Both floor toward negative infinity when converting to
    * epoch-millis, so all query logic works on a `ts_ms` LONG column — the
    * one representation that hash-compares identically across engines.
    * NOTE: ns epochs (~1.7e18) exceed double's 53-bit mantissa, so the
    * ns→ms conversion must be integer `div`, never a double divide.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    val tsMs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000")
      case _ => unixMillis(col("ts"))
    }
    raw.withColumn("ts_ms", tsMs)
  }

  /** unix_millis that tolerates TIMESTAMP_NTZ (parquet ns timestamps are read
    * as NTZ by Spark 4 by default; session TZ is UTC so the cast is exact). */
  def unixMillis(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unix_millis(c.cast("timestamp"))
}

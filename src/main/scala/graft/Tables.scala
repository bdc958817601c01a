package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver test corpus (TESTDATA.md): one parquet file per
  * table under a scale-factor directory. Reads are lazy DataFrames so
  * Catalyst can push filters/projections into the parquet scan — at 100 TB
  * the scan must only materialize the columns and row groups a query needs.
  */
object Tables {

  /** Parquet schema inference reads footers on the DRIVER on every
    * `spark.read.parquet` call — measured ~50 ms per call (r18
    * MicroBench: 85 ms scan-with-inference vs 34 ms with an explicit
    * schema). So the inferred schema is cached per path, stamped with
    * the path's modification time, and every later read passes it
    * explicitly; a file rewritten at the same path gets a new mtime
    * and is inferred afresh. Inference still runs on the session, so
    * session semantics (nanosAsLong, NTZ inference off) are baked into
    * the cached schema exactly as before.
    */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[String, (Long, org.apache.spark.sql.types.StructType)]

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = s"$sfDir/$name.parquet"
    val path = new org.apache.hadoop.fs.Path(p)
    val mtime = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(path).getModificationTime
    val sch = schemaCache.get(p) match {
      case Some((t, cached)) if t == mtime => cached
      case _ =>
        val inferred = spark.read.parquet(p).schema
        schemaCache.put(p, (mtime, inferred))
        inferred
    }
    spark.read.schema(sch).parquet(p)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's TimestampType
    * (µs) cannot hold; sessions set spark.sql.legacy.parquet.nanosAsLong
    * and this loader converts to µs via INTEGER division (ns values
    * exceed 2^53 — double math would corrupt them). Truncation matches
    * DuckDB's epoch_us() semantics.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture-table access (schemas: /root/repo/FIXTURES.md §B).
  *
  * Every loader is a plain distributed parquet scan — the reference's
  * driver-side `pd.read_csv` + `createDataFrame` ingest
  * (/root/reference/src/preprocessing_pipeline.py:258-264) caps input at
  * driver memory; here the scan is executor-side, so column pruning and
  * predicate pushdown reach the parquet reader and the pattern holds at
  * 100 TB unchanged.
  *
  * Every fixture read goes through [[parquet]], which infers a path's
  * schema once and then reads with `.schema(s)`: schema inference is a
  * one-task Spark job (it reads a footer), and at fixed-cost scale a
  * job's scheduling costs more than the footer: about 70 ms per read of
  * the sf1 lineitem against about 10 ms with the schema supplied
  * (`local[2]` on a 4-core host). The memo key is derived
  * from what the schema is inferred from: the session tag, the qualified
  * path, and the name, size and modification time of every leaf file
  * under it, from one driver-side listing. A rewrite or append therefore
  * changes the key and re-infers; a session never sees another's entry.
  * The same entry carries the path's row count ([[rowCount]]), so a size
  * switch routes on the files it will read, never on a stale count.
  */
object Tables {

  private type MetaKey = (String, String, Seq[(String, Long, Long)])

  /** What a listing-keyed entry knows about its files: the inferred
    * schema, and the row count once a caller has asked for it. The count
    * runs under the entry's own monitor; a count that throws leaves it
    * unset for the next caller. */
  private final class Meta(val schema: StructType) {
    private var rows = -1L
    def rowCount(read: => DataFrame): Long = synchronized {
      if (rows < 0) rows = read.count()
      rows
    }
  }

  /** Cleared past 64 entries: a rare full reset (re-infer once per live
    * path) beats tracking session and path lifecycles. */
  private val metas = new java.util.concurrent.ConcurrentHashMap[MetaKey, Meta]()

  /** The listing-keyed entry of an existing path, or None for a missing
    * one. */
  private def meta(spark: SparkSession, path: String): Option[Meta] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val qualified = fs.makeQualified(p)
    // plain `listStatus`, not `listFiles`: a located status copies the
    // permissions, which the local filesystem reads by forking a process
    // per file (about 5 ms each)
    def leaves(st: org.apache.hadoop.fs.FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    val key = (graft.sources.Sources.sessionTag(spark), qualified.toString,
      fs.listStatus(qualified).toSeq.flatMap(leaves).sortBy(_._1))
    val cached = metas.get(key)
    if (cached != null) Some(cached)
    else {
      val inferred = new Meta(spark.read.parquet(path).schema)
      if (metas.size > 64) metas.clear()
      val prior = metas.putIfAbsent(key, inferred)
      Some(if (prior != null) prior else inferred)
    }
  }

  /** A parquet read whose schema is inferred once per (session, path,
    * leaf-file listing). A missing path is left to Spark's own reader,
    * which reports it as usual. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    meta(spark, path).fold(spark.read.parquet(path))(
      m => spark.read.schema(m.schema).parquet(path))

  /** Rows of fixture table `name`, counted once per (session, path,
    * leaf-file listing): a size switch reads it instead of starting a
    * count job per call, and a rewritten table is counted afresh. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    val path = s"$dir/$name.parquet"
    meta(spark, path).fold(spark.read.parquet(path).count())(
      m => m.rowCount(spark.read.schema(m.schema).parquet(path)))
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** The events fixture has carried `ts` in three physical forms across
    * driver testdata generations: parquet nanosecond timestamps (read as
    * LongType under spark.sql.legacy.parquet.nanosAsLong, set in
    * GraftSession), naive microsecond timestamps (read as TIMESTAMP_NTZ —
    * no UTC-adjusted annotation), and plain TimestampType. Normalize all
    * three to a microsecond TimestampType here so every downstream operator
    * sees a plain timestamp. The NTZ cast reinterprets the naive wall-clock
    * in the session timezone — pinned to UTC in GraftSession — which is
    * byte-identical to how the DuckDB oracle reads the same column.
    *
    * The nanos→micros step MUST be integer division (`div`): `/` promotes
    * to double, whose 53-bit mantissa cannot hold an epoch-nanos value, so
    * values within ~100 ns of a microsecond boundary round UP and drift off
    * DuckDB's truncation by 1 µs (observed: …731999935 ns → …732000 µs).
    */
  /** Integer-exact nanos→TimestampType(µs) conversion (`div`, not `/`). */
  def nanosToTimestamp(ns: Column): Column =
    timestamp_micros(call_function("div", ns, lit(1000L)))

  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", nanosToTimestamp(col("ts")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
}

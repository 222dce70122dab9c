package graft.streaming

import graft.Tables
import graft.operators.Relational
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** q170 — STREAMING K-ANONYMITY GATE: q165's release gate kept live while
  * records are still arriving. Each micro-batch lands ITS OWN
  * quasi-identifier class counts under the tick's (ingest_batch)
  * partition; the cumulative audit sums the counts READ BACK from every
  * tick partition and runs the shared k sweep
  * ([[Relational.kAnonymitySweepFor]] — one implementation, two front
  * doors). Class counts are a sum-mergeable relation, so unlike the
  * doc_id-contiguity the shard export needs (q161), this twin is
  * SPLIT-INDEPENDENT: ANY partition of the table into micro-batches, in
  * any order, reproduces the batch audit exactly — which is why q170's
  * oracle is q165's SQL VERBATIM (the q133 one-oracle stream≡batch
  * discipline) and the spec additionally pins parity-vs-thirds sharding
  * convergence and replay idempotence.
  *
  * Exactly-once is the q93 layout: a tick OVERWRITES its own
  * ingest_batch partition (dynamic partition overwrite), so a
  * checkpoint-recovery replay rewrites identical files and the
  * cumulative sum never double-counts.
  *
  * Scale: per tick ONE map-side-combined count on the QI key over the
  * batch (class-sized output, never row-sized state); the audit reads
  * \|ticks × classes\| rows and re-aggregates on the QI key — index-
  * sized, compactable by the same fold-the-partitions argument as the
  * q133 reservoir (bottom-k there, sum here: both semilattices).
  */
object KAnonymityGateStream {

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def deleteDir(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(new org.apache.hadoop.fs.Path(path), true): Unit

  /** One tick's rows: the batch's QI class counts tagged with its id. */
  private def tickCounts(batch: DataFrame, batchId: Long): DataFrame =
    Relational.kAnonymityClassCounts(batch).withColumn("ingest_batch", lit(batchId))

  /** One exactly-once gate tick: this batch's QI class counts under its
    * own partition. Safe to re-run with the same batchId. */
  def gateTickXO(batch: DataFrame, batchId: Long, countsPath: String): Unit =
    tickCounts(batch, batchId)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(countsPath)

  /** The cumulative k-sweep audit over everything gated so far, computed
    * from the tick partitions READ BACK (the q155 round-trip contract). */
  def currentAudit(spark: SparkSession, countsPath: String,
                   ks: Seq[Int] = Seq(2, 5, 10, 20)): DataFrame =
    auditOf(spark.read.parquet(countsPath), ks)

  private def auditOf(counts: DataFrame, ks: Seq[Int]): DataFrame = {
    val merged = counts
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    Relational.kAnonymitySweepFor(merged, ks)
  }

  /** The foreachBatch wrapper: Spark's own batchId keys the idempotent
    * tick, so checkpoint-recovery replays rewrite their own partitions. */
  def streamingGate(customerStream: DataFrame,
                    countsPath: String): DataStreamWriter[Row] =
    customerStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      gateTickXO(batch, batchId, countsPath)
    }

  /** The registry fixture form: the customer table as three modulo ticks
    * (split-independence means ANY split works — thirds by custkey here),
    * then the cumulative audit. Oracle = q165's SQL verbatim. */
  def gateTicks(spark: SparkSession, dir: String,
                ks: Seq[Int] = Seq(2, 5, 10, 20)): DataFrame = {
    val cust = Tables.customer(spark, dir)
    // UUID-suffixed like indexStalenessAudit's scratch: a fixed name +
    // delete-then-write races concurrent sessions sharing the scratch root
    val countsPath = graft.sources.Sources.scratchDir(spark,
      s"stream_kanon_counts_${java.util.UUID.randomUUID.toString.take(8)}")
    deleteDir(spark, countsPath)
    for (r <- 0L until 3L)
      gateTickXO(cust.filter(col("c_custkey") % 3 === r), r, countsPath)
    // the read-back takes the schema the ticks just wrote: inferring it
    // would cost a job per call, and this fresh path is never read twice
    auditOf(spark.read.schema(tickCounts(cust, 0L).schema).parquet(countsPath), ks)
  }
}

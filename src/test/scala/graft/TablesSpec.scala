package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The parquet reader's schema memo: an unchanged path is inferred once
  * per session, and anything that changes its leaf files re-infers. */
class TablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_tables_$tag").toString + "/t.parquet"

  /** (jobs the read started, the DataFrame it returned) */
  private def read(path: String, session: org.apache.spark.sql.SparkSession = spark)
      : (Int, DataFrame) = {
    var df: DataFrame = null
    val jobs = TestSpark.jobsStartedBy { df = Tables.parquet(session, path) }
    (jobs, df)
  }

  test("parquet: the second read of an unchanged path starts no job") {
    val path = freshPath("unchanged")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(path)
    val (first, df1) = read(path)
    assert(first >= 1, "the first read infers the schema")
    val (second, df2) = read(path)
    assert(second == 0, s"an unchanged path re-inferred its schema ($second jobs)")
    assert(df2.schema == df1.schema)
    assert(df2.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    intercept[org.apache.spark.sql.AnalysisException](
      Tables.parquet(spark, path + "_missing"))
  }

  test("parquet: an overwrite with an extra column re-infers the schema") {
    val path = freshPath("overwrite")
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    read(path)
    assert(read(path)._1 == 0)
    Seq((2L, "b", 2.5)).toDF("id", "s", "x").write.mode("overwrite").parquet(path)
    val (jobs, df) = read(path)
    assert(jobs >= 1, "the rewritten path must re-infer")
    assert(df.columns.toSeq == Seq("id", "s", "x"))
    assert(df.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 2.5)))
  }

  test("parquet: an append re-infers the schema") {
    val path = freshPath("append")
    Seq(1L, 2L).toDF("id").write.parquet(path)
    read(path)
    assert(read(path)._1 == 0)
    Seq(3L).toDF("id").write.mode("append").parquet(path)
    val (jobs, df) = read(path)
    assert(jobs >= 1, "the appended path must re-infer")
    assert(df.as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(read(path)._1 == 0, "the appended path is memoized again")
  }

  test("rowCount: counted once per listing, afresh after a rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_count").toString
    Seq(1L, 2L).toDF("doc_id").write.parquet(s"$dir/documents.parquet")
    assert(Tables.rowCount(spark, dir, "documents") == 2L)
    assert(TestSpark.jobsStartedBy(Tables.rowCount(spark, dir, "documents")) == 0,
      "an unchanged table was counted again")
    Seq(1L, 2L, 3L).toDF("doc_id").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    assert(Tables.rowCount(spark, dir, "documents") == 3L)
  }

  test("parquet: two sessions keep separate entries") {
    val path = freshPath("sessions")
    Seq(1L).toDF("id").write.parquet(path)
    read(path)
    val other = spark.newSession()
    assert(read(path, other)._1 >= 1, "a second session must infer on its own")
    assert(read(path, other)._1 == 0)
    assert(read(path)._1 == 0, "the first session's entry survives the second's")
  }

  test("events: ts normalizes to a timestamp on memoized reads") {
    val sf001 = "/root/testdata/sf0.01"
    val raw = spark.read.parquet(s"$sf001/events.parquet")
    val expected = raw.schema("ts").dataType match {
      case TimestampNTZType => raw.select(col("event_id"), col("ts").cast(TimestampType))
      case LongType         => raw.select(col("event_id"), Tables.nanosToTimestamp(col("ts")))
      case _                => raw.select(col("event_id"), col("ts"))
    }
    val want = expected.as[(Long, java.sql.Timestamp)].collect().toMap
    for (_ <- 1 to 2) {
      val ev = Tables.events(spark, sf001)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select(col("event_id"), col("ts")).as[(Long, java.sql.Timestamp)]
        .collect().toMap == want)
    }
    // the nanos-as-long generation, through the same memo: integer `div`
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_nanos").toString
    Seq((1L, 1700000000731999935L)).toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    for (_ <- 1 to 2) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select(unix_micros(col("ts"))).as[Long].head() == 1700000000731999L)
    }
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites. */
object SparkSpec {
  // the suites have always run at 4 cores, independent of the host
  lazy val spark: SparkSession = Session.local(4)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = SparkSpec.sf

  /** DML frames of the binlog wire envelope the decode specs write with
    * `PbBinlogFile.write`: one U row per commit ts (pk = commit ts), routed
    * to table `route` through `event_type`, carrying the JSON `props`. */
  protected def wireDml(route: String, ids: Seq[Long], props: Column): DataFrame = {
    import spark.implicits._
    ids.toDF("commit_ts").select(
      col("commit_ts"), col("commit_ts").as("pk"), lit("U").as("op"),
      lit(route).as("event_type"),
      timestamp_micros(col("commit_ts") * 1000000L).as("ts"),
      col("commit_ts").cast("double").as("value"), props.as("props"),
      lit(null).cast("string").as("ddl_sql"))
  }

  protected def wireDml(route: String, ids: Seq[Long],
      props: Long => String): DataFrame =
    wireDml(route, ids, udf(props).apply(col("commit_ts")))

  /** The DDL frame of the same envelope: statement `sql` (may be null) at
    * commit ts `ts`. */
  protected def wireDdl(ts: Long, sql: String): DataFrame = {
    import spark.implicits._
    Seq(ts).toDF("commit_ts").select(
      col("commit_ts"), lit(-1L).as("pk"), lit("DDL").as("op"),
      lit("ddl").as("event_type"),
      timestamp_micros(col("commit_ts") * 1000000L).as("ts"),
      lit(null).cast("double").as("value"),
      lit(null).cast("string").as("props"),
      lit(sql).cast("string").as("ddl_sql"))
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{QueryDef, QueryModule, Seed, Tables}

/** Scans, projections, filters, and row-shaping — generalizing the
  * reference's manual projection (HdfsSink.java:86-97) and DDL filter
  * (HdfsSink.java:59-66). All plans here are a single parquet scan with
  * the projection/predicate pushed into the scan (Catalyst ColumnPruning +
  * PushDownPredicates) — verified via explain in the specs: the scan's
  * ReadSchema only lists selected columns, PushedFilters lists predicates.
  */
object Scans extends QueryModule {

  private def scanProject(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      .orderBy("l_orderkey", "l_linenumber")

  private def filterBasic(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .filter(
        col("o_orderstatus").isin("O", "F") &&
          col("o_totalprice").between(1000.0, 50000.0) &&
          (col("o_orderpriority").like("1%") || col("o_orderpriority").like("2%")) &&
          col("o_custkey").isNotNull)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderpriority"))
      .orderBy("o_orderkey")

  private def caseCast(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") > 100000.0, "high")
          .when(col("o_totalprice") > 10000.0, "mid")
          .otherwise("low").as("bucket"),
        col("o_orderkey").cast(StringType).as("key_str"),
        floor(col("o_totalprice")).as("price_floor"))
      .orderBy("o_orderkey")

  private def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame =
    // R3/R5 delimited-text encode: the row-format output line of the
    // reference sink (HdfsSink.java:35,101), kept as a column so the same
    // expression feeds the csv writer.
    Tables(spark, sfDir, "events")
      .select(
        col("event_id"),
        concat_ws(",", col("event_id"), col("user_id"), col("event_type")).as("line"))
      .orderBy("event_id")

  private def jdbcSnapshot(spark: SparkSession, sfDir: String): DataFrame =
    // R15 for real (reference README.md:31 + kafkaConfig.conf:13-16): bulk
    // import the source-of-truth table into a relational database, then
    // snapshot-read it back through Spark's partitioned JDBC source — a
    // genuine parallel range fetch over `event_id`. Embedded Derby (ships
    // in /opt/spark/jars) stands in for MySQL; the oracle checks the
    // round-trip against the original parquet.
    Sources.jdbcSnapshot(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 2).as("value"), col("ts"))
      .orderBy("event_id")

  override val defs: Map[String, QueryDef] = Map(
    "q_scan_project" -> QueryDef(scanProject, Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem ORDER BY l_orderkey, l_linenumber""")),
    "q_filter_basic" -> QueryDef(filterBasic, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM orders
      WHERE o_orderstatus IN ('O','F')
        AND o_totalprice BETWEEN 1000.0 AND 50000.0
        AND (o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%')
        AND o_custkey IS NOT NULL
      ORDER BY o_orderkey""")),
    "q_case_cast" -> QueryDef(caseCast, Some("""
      SELECT o_orderkey,
             CASE WHEN o_totalprice > 100000.0 THEN 'high'
                  WHEN o_totalprice > 10000.0 THEN 'mid'
                  ELSE 'low' END AS bucket,
             CAST(o_orderkey AS VARCHAR) AS key_str,
             CAST(floor(o_totalprice) AS BIGINT) AS price_floor
      FROM orders ORDER BY o_orderkey""")),
    "q_csv_roundtrip" -> QueryDef(csvRoundtrip, Some("""
      SELECT event_id, concat_ws(',', event_id, user_id, event_type) AS line
      FROM events ORDER BY event_id""")),
    "q_jdbc_snapshot" -> QueryDef(jdbcSnapshot, Some("""
      SELECT event_id, user_id, event_type, round(value, 2) AS value, ts
      FROM events ORDER BY event_id"""), Seq(Sources.DerbySeed)))
}

/** Source registry (R9/R15): config-driven source selection. JDBC in
  * production (partitioned fetch: partitionColumn, lowerBound, upperBound,
  * numPartitions sized so each partition is a bounded range scan); parquet
  * file-backed here.
  */
object Sources {
  def snapshot(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "events")

  // ---- embedded-Derby JDBC snapshot (R15) ------------------------------

  private val DerbyRoot = "/tmp/graft_derby"
  private val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  /** Per-fixture seed dir (core.Tables.fixtureTag over events), so a
    * fixture regenerated at the same path never serves the old import.
    */
  private[graft] def derbyDir(sfDir: String): java.io.File =
    new java.io.File(DerbyRoot, Tables.fixtureTag("v1", sfDir, "events"))

  private def derbyUrl(sfDir: String): String =
    s"jdbc:derby:${derbyDir(sfDir).getPath}/events_db"

  /** Bulk-import the events fixture into embedded Derby, once per
    * fixture per machine (marker-gated, so a crashed partial write is
    * redone). This is the reference's Sqoop full load (README.md:31)
    * expressed as Spark's JDBC batch writer.
    */
  private def seedDerby(spark: SparkSession, sfDir: String): Unit = {
    graft.core.Warehouse.ensureSeed(derbyDir(sfDir)) { _ =>
      Tables(spark, sfDir, "events")
        .write.format("jdbc")
        .option("url", derbyUrl(sfDir) + ";create=true")
        .option("dbtable", "events")
        .option("driver", DerbyDriver)
        .mode("overwrite").save()
    }
    ()
  }

  /** The Derby import runs once per fixture and persists under /tmp;
    * billing that one-time setup to q_jdbc_snapshot's timed run would
    * misstate the steady-state JDBC scan cost.
    */
  val DerbySeed: Seed = Seed("derby import", seedDerby)

  /** R15 end to end: seed (once), then a partitioned parallel JDBC read —
    * 8 concurrent range queries over `event_id`, exactly the shape of a
    * production MySQL snapshot import.
    */
  def jdbcSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    seedDerby(spark, sfDir)
    import org.apache.spark.sql.functions.{max, min}
    val b = Tables(spark, sfDir, "events")
      .agg(min("event_id").as("lo"), max("event_id").as("hi")).head()
    jdbc(spark, derbyUrl(sfDir), "events", "event_id",
      b.getLong(0), b.getLong(1) + 1, 8, driver = Some(DerbyDriver))
  }

  /** Partitioned JDBC read: each partition is a bounded range scan, so N
    * executors fetch concurrently (the single point where any JDBC source
    * plugs in; MySQL in the reference, Derby in the offline tests).
    */
  def jdbc(spark: SparkSession, url: String, table: String,
           partitionColumn: String, lower: Long, upper: Long, numPartitions: Int,
           driver: Option[String] = None): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lower.toString)
      .option("upperBound", upper.toString)
      .option("numPartitions", numPartitions.toString)
    driver.fold(r)(d => r.option("driver", d)).load()
  }

  /** Conf-driven variants (R9 feeding R1/R15): connection parameters come
    * from the HOCON file, mirroring the reference's
    * `Utility.parseConf("kafkaConfig.conf")` bootstrap.
    */
  def kafka(spark: SparkSession, conf: graft.core.Conf): DataFrame =
    kafka(spark, conf.getString("kafka.brokers"), conf.getString("kafka.topic"))

  /** The exact reader options the Spark Kafka connector contract requires,
    * shared by kafka() and KafkaPlanSpec: the spec pins key spelling and
    * conf plumbing even though the full path can't execute offline.
    */
  private[graft] def kafkaOptions(conf: graft.core.Conf): Map[String, String] =
    kafkaOptions(conf.getString("kafka.brokers"), conf.getString("kafka.topic"))

  private[graft] def kafkaOptions(brokers: String, topic: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> brokers,
      "subscribe" -> topic,
      "startingOffsets" -> "earliest")

  def jdbc(spark: SparkSession, conf: graft.core.Conf, lower: Long, upper: Long): DataFrame =
    jdbc(spark, conf.getString("jdbc.url"), conf.getString("jdbc.table"),
      conf.getString("jdbc.partition-column"), lower, upper,
      conf.getInt("jdbc.num-partitions", 8))

  /** Production Kafka source (R1, HdfsSink.java:47-55 + kafkaConfig.conf:
    * 1-6): value bytes cast to string, earliest offsets, one Spark input
    * partition per Kafka partition. Not exercisable offline (no broker +
    * no kafka connector jar in this environment); graft.stream.Streaming
    * uses the file source as the bounded stand-in with identical
    * downstream plans.
    */
  def kafka(spark: SparkSession, brokers: String, topic: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.readStream.format("kafka")
      .options(kafkaOptions(brokers, topic))
      .load()
      .select(col("value").cast("string").as("value"))
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ColumnFunctions.hash64

/** Streaming sources (SURVEY §2.1). Each returns a streaming DataFrame
  * ready for the transforms in graft.streaming. */
object StreamSources {

  /** Output contract of Spark's Kafka source (spark-sql-kafka-0-10,
    * documented in the Structured Streaming Kafka integration guide):
    * one row per consumer record. The mocked-source contract tests
    * (KafkaContractSpec) build streams of exactly this shape, so the
    * downstream pipeline is proven source-agnostic even where no
    * broker or connector exists. */
  val kafkaRecordSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("key", BinaryType), StructField("value", BinaryType),
      StructField("topic", StringType), StructField("partition", IntegerType),
      StructField("offset", LongType), StructField("timestamp", TimestampType),
      StructField("timestampType", IntegerType)))
  }

  /** Record → line projection shared by [[kafkaLines]] and any
    * contract-shaped mock: the consumer-record `value` bytes as a
    * utf-8 `line`, ready for the CSV parse step. */
  def kafkaRecordLines(records: DataFrame): DataFrame =
    records.select(col("value").cast("string").as("line"))

  /** Kafka source (reference hotItems/HotItems.scala:33-46:
    * FlinkKafkaConsumer("hot_items")). Emits the value as `line`, ready
    * for the CSV parse step. ENVIRONMENT NOTE (round 6): this sandbox
    * ships neither the spark-sql-kafka-0-10 connector nor any broker
    * artifact (no kafka jar in /opt/spark/jars or the offline resolver
    * cache, zero egress), so `.load()` here fails with MISSING
    * DATASOURCE — KafkaContractSpec probes for exactly that and drives
    * the identical downstream pipeline from a [[kafkaRecordSchema]]-
    * shaped mock instead; on a cluster with the connector on the
    * classpath this function is the only line that changes behavior.
    *
    * `format` defaults to the real connector; tests pass
    * `"kafka-test"` ([[KafkaTestProvider]], a DSv2 double that
    * validates these exact options and serves the contract schema) so
    * the WHOLE path through this function — format resolution, option
    * plumbing, micro-batch planning, the record→line projection —
    * runs E2E minus only connector resolution itself. */
  def kafkaLines(spark: SparkSession, brokers: String, topic: String,
                 startingOffsets: String = "earliest",
                 format: String = "kafka"): DataFrame =
    kafkaRecordLines(
      spark.readStream.format(format)
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", startingOffsets)
        .load())

  /** Socket text source (reference NetworkFlowTopNPage…scala:31:
    * socketTextStream("hadoop203", 7777)). */
  def socketLines(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
      .select(col("value").as("line"))

  private val behaviors = Seq("CLICK", "DOWNLOAD", "INSTALL", "UNINSTALL")
  private val channels = Seq("AppStore", "HuaweiStore", "XiaomiStore", "weibo", "wechat")

  /** Deterministic market-event generator — the reference's
    * SimulateMarketEvenSource.scala:10-41 (random uuid/behavior/channel
    * every 100 ms) rebuilt on the replayable rate-micro-batch source:
    * rowsPerBatch rows per trigger, fields derived from the row index
    * via the portable hash (seedable, reproducible — unlike the
    * reference's Random, so tests can golden-check it). */
  def marketEvents(spark: SparkSession, rowsPerBatch: Int = 100, seed: Int = 0): DataFrame = {
    val beh = array(behaviors.map(lit): _*)
    val chan = array(channels.map(lit): _*)
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("startTimestamp", 0L)
      .load()
      .select(
        concat(lit("user-"), pmod(hash64(col("value"), seed), lit(100000L))).as("userId"),
        element_at(beh, (pmod(hash64(col("value"), seed + 1), lit(behaviors.size.toLong)) + 1).cast("int")).as("behavior"),
        element_at(chan, (pmod(hash64(col("value"), seed + 2), lit(channels.size.toLong)) + 1).cast("int")).as("channel"),
        col("timestamp").as("ts"))
  }

  /** maxFilesPerTrigger < 1 → unthrottled; ≥ 1 caps files per
    * micro-batch (tests use 1 to force one batch per dropped file). */
  def userBehaviorStream(spark: SparkSession, dir: String,
                         maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(CsvSources.userBehaviorSchema)
    val withOpt = if (maxFilesPerTrigger >= 1)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString) else r
    withOpt.csv(dir).withColumn("ts", timestamp_seconds(col("timestamp")))
  }
}

package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import graft.meta.TableDef
import graft.streaming.Pipeline.BatchSink

/** Kafka output ≙ the reference's kafka plugin (`outputs/kafka/
  * kafka.go`): per-route topic, record partition/key from the PK
  * hash (`kafka.go:161-170`), payload in the `json` or Aliyun-Canal
  * format, and — the semantics that matter — **a delivery failure
  * fails the batch** (`kafka.go:79-94` treats a producer delivery
  * error as fatal; here the batch write throws, the streaming query
  * stops at the current checkpoint, and a restart replays the same
  * batch — at-least-once into Kafka, no silent drops).
  *
  * Transport is Spark's `kafka` batch writer (the right layering: a
  * distributed, codegen-formatted frame of (topic, partition, key,
  * value) rows goes straight from executors to brokers; no driver
  * funneling, no hand-rolled producer pool). The connector jar is an
  * external package — when it is absent, writing fails LOUDLY with
  * the standard missing-data-source error, which this sink lets
  * propagate (pinned by KafkaSinkSpec): a misconfigured deployment
  * must never look like a healthy one.
  *
  * Record assembly ([[records]]) is a pure plan, unit-tested without
  * a broker. The envelope re-built from the routed batch carries
  * `old = null`: the reference emits the pre-image only for updates,
  * and the batch, which the pipeline compacts to the last event per
  * key before this sink (it does not [[mergesByKey]]), no longer has
  * one — consumers needing full before-images subscribe the generic
  * envelope path (Formats.kafkaJson over the raw stream, verified by
  * cdc_kafka_json_format).
  */
final class KafkaSink(
    brokers: String,
    topicTemplate: String = "{db}.{table}",
    numPartitions: Int = 8, // ≙ PartitionNum, outputs/kafka/kafka.go:166
    format: String = "json",
    kafkaOptions: Map[String, String] = Map.empty) extends BatchSink {

  require(Set("json", "canal")(format),
    s"kafka format must be json|canal, got '$format'")

  def topicFor(t: TableDef): String =
    topicTemplate.replace("{db}", t.schema).replace("{table}", t.name)

  /** (topic, partition, key, value) record frame for one routed
    * batch — the full Kafka-facing plan, sans transport. */
  def records(batch: DataFrame, t: TableDef): DataFrame = {
    require(t.pkColumns.nonEmpty,
      s"kafka sink requires a primary key on ${t.schema}.${t.name}: " +
        "record key and partition derive from the pk hash " +
        "(outputs/kafka/kafka.go:161-170); route pk-less tables to a " +
        "lake/JDBC sink or add a key")
    val env = batch.select(
      lit(t.schema).as("db"), lit(t.name).as("table"), col("op"),
      col("ts"), col("pos"), col("seq"),
      map(t.columns.flatMap(c =>
        Seq(lit(c.name), col(c.name).cast("string"))): _*).as("after"),
      lit(null).cast(MapType(StringType, StringType)).as("before"))
    val keyed = Formats.withKafkaKey(env, t, numPartitions)
    val formatted = format match {
      case "canal" => Formats.canalJson(keyed, t,
        keep = Seq(col("key"), col("partition")))
      case _ => Formats.kafkaJson(keyed,
        keep = Seq(col("key"), col("partition")))
    }
    formatted.select(lit(topicFor(t)).as("topic"),
      col("partition"), col("key"), col("value"))
  }

  override def write(batch: DataFrame, t: TableDef, batchId: Long): Unit = {
    // record assembly OUTSIDE the delivery catch: a config/plan error
    // (pk-less table, missing metadata column) must surface as itself,
    // not be re-labeled a transport failure
    val recs = records(batch, t)
    try {
      recs.write.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .options(kafkaOptions)
        .save()
    } catch { case e: Throwable =>
      // fail the BATCH, with the route named — the checkpoint is not
      // advanced, so a restart redelivers this batch (≙ kafka.go:79-94)
      throw new IllegalStateException(
        s"kafka delivery failed for ${t.schema}.${t.name} (batch $batchId, " +
          s"topic ${topicFor(t)}): ${e.getMessage}", e)
    }
  }
}

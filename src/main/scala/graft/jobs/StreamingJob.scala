package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.stream.StreamingRevenue

/** The reference's streaming job
  * (services/streaming/streaming_sales_aggregator.py) as a runnable
  * application: Kafka JSON events → cleanse → watermarked sliding-window
  * revenue → append-mode parquet with checkpointing.
  *
  * Config via environment (the reference's knobs):
  *   STREAM_SOURCE           (kafka | file, default kafka)
  *   KAFKA_BOOTSTRAP_SERVERS (default localhost:9092)
  *   KAFKA_TOPIC             (default sales)
  *   STARTING_OFFSETS        (default latest)
  *   EVENTS_DIR              (file mode: JSON landing dir — pair with
  *                            gen.Replay's FileSink)
  *   OUTPUT_PATH / CHECKPOINT_DIR
  *   STREAM_TRIGGER_INTERVAL (default 30 seconds)
  *   SPARK_SHUFFLE_PARTITIONS (default 4 — small stateful job)
  *
  * Kafka mode fails fast when the connector is not on the classpath
  * (T8); file mode is the connector-free deployment.
  */
object StreamingJob {

  /** Decoded event source per STREAM_SOURCE; factored out of main so
    * tests can build it with an explicit env map. */
  def source(spark: SparkSession,
             env: Map[String, String]): org.apache.spark.sql.DataFrame =
    env.getOrElse("STREAM_SOURCE", "kafka") match {
      case "file" =>
        StreamingRevenue.fileJsonSource(spark,
          env.getOrElse("EVENTS_DIR", "/tmp/graft-stream/events"))
      case _ =>
        if (!StreamingRevenue.validateKafkaAvailable()) {
          System.err.println(
            "[stream] spark-sql-kafka connector not on classpath; aborting")
          sys.exit(2)
        }
        StreamingRevenue.decodeJson(StreamingRevenue.kafkaSource(spark,
          env.getOrElse("KAFKA_BOOTSTRAP_SERVERS", "localhost:9092"),
          env.getOrElse("KAFKA_TOPIC", "sales"),
          env.getOrElse("STARTING_OFFSETS", "latest")))
    }

  def main(args: Array[String]): Unit = {
    val env = sys.env
    val outPath = env.getOrElse("OUTPUT_PATH", "/tmp/graft-stream/agg")
    val ckpt = env.getOrElse("CHECKPOINT_DIR", "/tmp/graft-stream/ckpt")
    val trigger = env.getOrElse("STREAM_TRIGGER_INTERVAL", "30 seconds")
    val shuffle = env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "4")

    // a stateful stream's shuffle-partition count is fixed by its
    // checkpoint, so it stays the deployment's setting
    val spark = GraftSession.submitted("graft-streaming-revenue",
      "spark.sql.shuffle.partitions" -> shuffle)
    val agg = StreamingRevenue.pipeline(source(spark, env.toMap))
    val query = StreamingRevenue.sink(agg, outPath, ckpt, trigger).start()
    query.awaitTermination()
  }
}

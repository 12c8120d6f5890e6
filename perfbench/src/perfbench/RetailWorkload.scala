package perfbench

import java.nio.file.{Files, Paths}
import java.time.{LocalDate, LocalDateTime}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.gen.{EventJson, Replay, Retail}
import graft.io.{Sinks, Sources}
import graft.jobs.BatchPipeline
import graft.ops.{Aggregations, Cleansing, Serving}
import graft.stream.StreamingRevenue

/** Seeded retail inputs: `gen.Retail` transactions, each stamped with a
  * seed-drawn time of day, landed as event-time-ordered JSON files. */
object RetailData {
  val Start: LocalDate = LocalDate.of(2024, 1, 1)
  /** The shipped `StreamingJob.main` default for SPARK_SHUFFLE_PARTITIONS. */
  val StreamShufflePartitions = "4"

  final case class Event(ts: LocalDateTime, txn: Retail.Txn)

  def day(i: Int): LocalDate = Start.plusDays(i.toLong)

  /** The day's transactions in event-time order. `Retail` stamps every
    * row at midnight; the time of day comes from the seed. */
  def events(seed: Long, d: LocalDate, txPerDay: Int): Seq[Event] = {
    val rng = new scala.util.Random(seed * 1000003L ^ d.toEpochDay)
    Retail.dayRows(d, txPerDay, seed)
      .map(t => Event(d.atStartOfDay.plusSeconds(rng.nextInt(86400).toLong), t))
      .sortBy(e => (e.ts, e.txn.order_id))
  }

  def json(e: Event): String = {
    val t = e.txn
    EventJson.toJson(Map(
      "order_id" -> t.order_id, "order_date" -> t.order_date,
      "order_time" -> e.ts.toString.replace('T', ' '),
      "product" -> t.product, "quantity" -> t.quantity.toString,
      "unit_price" -> f"${t.unit_price}%.2f", "total_price" -> f"${t.amount}%.2f",
      "store" -> t.store_id), t.order_date).get
  }

  /** Replays the day's events, in order, through `gen.Replay`'s file
    * sink into `files` JSON files, then moves them into `landing` under
    * day-unique names (the stream source skips names it has seen).
    * Returns the bytes landed. */
  def land(h: Harness, evs: Seq[Event], d: LocalDate, landing: String, files: Int): Long = {
    val staging = h.dir(s"staging/$d")
    val sink = new Replay.FileSink(staging, batchSize = math.max(1, (evs.size + files - 1) / files))
    h.rec.span("Replay.run", "gen") {
      Replay.run(evs.map(json).toIndexedSeq, Replay.Config(ratePerSecond = 0, shuffle = false), sink.send)
      sink.flush()
    }
    Files.createDirectories(Paths.get(landing))
    // the source takes files oldest first and breaks modification-time
    // ties arbitrarily; distinct times keep the replay in event order
    val listing = Files.list(Paths.get(staging))
    val staged = try listing.iterator.asScala.toSeq.sortBy(_.toString) finally listing.close()
    val now = System.currentTimeMillis()
    staged.zipWithIndex.map { case (f, k) =>
      val to = Files.move(f, Paths.get(landing, s"$d-${f.getFileName}"))
      Files.setLastModifiedTime(to, java.nio.file.attribute.FileTime.fromMillis(now - staged.size + k))
      Files.size(to)
    }.sum
  }

  /** Writes the day's CSV through `gen.Retail` into its own directory. */
  def csv(h: Harness, d: LocalDate, txPerDay: Int): String = {
    val dir = h.dir(s"in/$d")
    h.rec.span("Retail.writeCsvDays", "gen") {
      Retail.writeCsvDays(h.spark, dir, d, 1, txPerDay, h.seed)
    }
    dir
  }

  def cents(x: Double): Long = math.round(x * 100)

  /** Drains everything landed so far with an AvailableNow trigger,
    * under the shipped streaming job's shuffle-partition setting. */
  def drain(h: Harness, landing: String, out: String, ckpt: String): StreamingQuery = {
    val spark = h.spark
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions)
    try h.rec.span("StreamingRevenue.drain", "stream") {
      val src = StreamingRevenue.fileJsonSource(spark, landing, maxFilesPerTrigger = 1)
      val q = StreamingRevenue.sinkAvailableNow(StreamingRevenue.pipeline(src), out, ckpt).start()
      h.rec.note("query_id", q.id.toString)
      q.awaitTermination()
      q
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The drain's closing watermark (epoch seconds), from its last
    * progress report. */
  def watermark(q: StreamingQuery): Long =
    java.time.Instant.parse(q.lastProgress.eventTime.get("watermark")).getEpochSecond

  def dropped(q: StreamingQuery): Long =
    q.recentProgress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum

  /** `Aggregations.slidingRevenue`'s window length, in seconds. */
  val WindowSec = 3600L

  def window(r: Row): (String, Long, Long, Long) =
    (r.getString(0), r.getLong(1), r.getLong(2), cents(r.getDouble(3)))

  /** The windows the watermark closed since `from`: those ending in
    * (from, wm], from `Aggregations.slidingRevenue` over the events
    * they can hold, in cents. */
  def closedWindows(spark: SparkSession, evs: Seq[Event], from: Long,
                    wm: Long): Set[(String, Long, Long, Long)] = {
    import spark.implicits._
    Aggregations.slidingRevenue(evs.map(e => (java.sql.Timestamp.valueOf(e.ts), e.txn.product, e.txn.amount))
        .filter(_._1.getTime / 1000 > from - WindowSec)
        .toDF("order_ts", "product", "line_amount"))
      .filter(col("window_end") > from && col("window_end") <= wm)
      .collect().map(window).toSet
  }

  /** The stream's output table: (product, start s, end s, cents). */
  def streamOutput(spark: SparkSession, out: String): Seq[(String, Long, Long, Long)] =
    spark.read.parquet(out)
      .select(col("product"), col("window_start").cast("long"),
        col("window_end").cast("long"), col("revenue"))
      .collect().map(window).toSeq
}

/** `retail`: each unit of work delivers one day of seeded transactions
  * through the paper's three parts, in order:
  *
  *  - ETL (one operation): `jobs.BatchPipeline.run` on the day's CSV
  *    (date-partitioned parquet plus KPI and daily CSVs) and an
  *    AvailableNow drain of the day's event-ordered JSON files through
  *    `StreamingRevenue.pipeline` (one micro-batch per file, state
  *    carried across days by the checkpoint). The store dashboard's
  *    table, which no shipped job writes, is built before it, untimed;
  *  - dashboard refresh (one operation per query, one client, closed
  *    loop): the reference dashboards' query mix over the gold tables as
  *    they now stand.
  *
  * Checks: the daily gold tables equal plain-Scala sums over the
  * generated transactions to the cent; every window the watermark has
  * closed equals `Aggregations.slidingRevenue` over the same events and
  * nothing was dropped as late; every dashboard response equals a
  * plain-Scala recompute over the collected gold tables. */
object RetailWorkload extends Workload {
  val TxPerDay = 100000
  val FilesPerDay = 2
  val WarmupDays = 1

  def settings(nproc: Int): Seq[(String, String)] = Seq(
    // what BatchPipeline.main applies; the stream job's shuffle-partition
    // setting is applied around each drain (RetailData.drain)
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic")

  private val landed = mutable.ArrayBuffer.empty[RetailData.Event]
  /** Stream windows checked so far, and the watermark they closed at. */
  private var closed = Set.empty[(String, Long, Long, Long)]
  private var closedAt = 0L
  private val batchMs = mutable.ArrayBuffer.empty[Long]
  private var dropped = 0L

  /** A response reduced to comparable values: money in cents, dates and
    * times as epoch numbers. */
  type Canon = Seq[Seq[Any]]

  private def canon(rows: Array[Row], cols: Seq[String]): Canon = rows.toSeq.map { r =>
    cols.map(c => r.get(r.fieldIndex(c)) match {
      case d: Double => RetailData.cents(d)
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case t: java.sql.Timestamp => t.getTime
      case x => x
    })
  }

  /** Gold rows: daily (product, epoch day, cents), store daily (store,
    * cents), windows (product, start ms, end ms, cents). */
  final case class Gold(daily: Seq[(String, Long, Long)], store: Seq[(String, Long)],
                        windows: Seq[(String, Long, Long, Long)])

  private def top(kv: Seq[(String, Long)], k: Int): Canon =
    kv.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy { case (key, c) => (-c, key) }
      .take(k).map { case (key, c) => Seq(key, c) }

  /** The dashboard mix: name, gold table, query, result columns, and
    * the plain-Scala expectation over the collected gold rows. */
  private val mix: Seq[(String, String, DataFrame => DataFrame, Seq[String], Gold => Canon)] = Seq(
    ("Serving.perDayRollup", "daily", Serving.perDayRollup(_), Seq("order_date", "daily_total"),
      g => g.daily.groupMapReduce(_._2)(_._3)(_ + _).toSeq.sorted.map(t => Seq(t._1, t._2))),
    ("Serving.topK.product", "daily", Serving.topK(_, "product", "total_amount", 5),
      Seq("product", "revenue"), g => top(g.daily.map(r => (r._1, r._3)), 5)),
    ("Serving.topK.store", "store_daily", Serving.topK(_, "store_id", "total_amount", 5),
      Seq("store_id", "revenue"), g => top(g.store, 5)),
    ("Serving.latestWindowLeaderboard", "windows",
      Serving.latestWindowLeaderboard(_, "window_end", "product", "revenue"),
      Seq("product", "revenue"), { g =>
        val latest = g.windows.map(_._3).max
        top(g.windows.filter(_._3 == latest).map(r => (r._1, r._4)), Int.MaxValue)
      }),
    ("Serving.windowHealth", "windows",
      Serving.windowHealth(_, "window_start", "window_end", "product", "revenue"),
      Seq("window_start", "window_end", "total_revenue", "product_count"),
      g => g.windows.groupBy(r => (r._2, r._3)).toSeq.sortBy { case ((s, e), _) => (-s, -e) }
        .take(96).map { case ((s, e), rs) => Seq(s, e, rs.map(_._4).sum, rs.map(_._1).distinct.size.toLong) }),
    ("Serving.summary", "windows",
      Serving.summary(_, "product", "window_start", "window_end", "window_end"),
      Seq("products", "windows", "latest"),
      g => Seq(Seq(g.windows.map(_._1).distinct.size.toLong,
        g.windows.map(r => (r._2, r._3)).distinct.size.toLong, g.windows.map(_._3).max))),
    ("Serving.sample", "daily",
      Serving.sample(_, 50)(("total_amount", false), ("order_date", true), ("product", true)),
      Seq("order_date", "product", "total_amount"),
      g => g.daily.sortBy(r => (-r._3, r._2, r._1)).take(50).map(r => Seq(r._2, r._1, r._3))))

  private def gold(h: Harness): Gold = {
    val read = (t: String) => h.spark.read.parquet(s"${h.work}/gold/$t").collect()
    Gold(
      read("daily").map(r => (r.getAs[String]("product"),
        r.getAs[java.sql.Date]("order_date").toLocalDate.toEpochDay,
        RetailData.cents(r.getAs[Double]("total_amount")))).toSeq,
      read("store_daily").map(r => (r.getAs[String]("store_id"),
        RetailData.cents(r.getAs[Double]("total_amount")))).toSeq,
      read("windows").map(r => (r.getAs[String]("product"),
        r.getAs[java.sql.Timestamp]("window_start").getTime,
        r.getAs[java.sql.Timestamp]("window_end").getTime,
        RetailData.cents(r.getAs[Double]("revenue")))).toSeq)
  }

  /** The ETL operation for day `i`; returns the gold tables it left,
    * collected, when its checks ran. */
  private def etl(h: Harness, i: Int): Option[Gold] = {
    val d = RetailData.day(i)
    val in = RetailData.csv(h, d, TxPerDay)
    val evs = RetailData.events(h.seed, d, TxPerDay)
    val inputBytes = h.written(in)._2 + RetailData.land(h, evs, d, s"${h.work}/landing", FilesPerDay)
    landed ++= evs
    val g = s"${h.work}/gold"
    var state: Option[Gold] = None

    // the store dashboard's table: no shipped job writes one, so it is
    // built here, untimed, from the same cleanse and daily aggregate
    h.rec.span("Sinks.partitionedParquet", "io") {
      Sinks.partitionedParquet(Aggregations.dailyRevenue(
        Cleansing.cleanseBatch(Sources.csvDir(h.spark, in)), keyCol = "store_id"), s"$g/store_daily")
    }

    h.op("etl", s"etl-$d") {
      h.rec.note("input_bytes", inputBytes)
      val ok = h.rec.span("BatchPipeline.run", "jobs") {
        BatchPipeline.run(h.spark, in, s"$g/daily", s"${h.work}/csv", waitTimeoutSec = 5)
      }
      (ok, RetailData.drain(h, s"${h.work}/landing", s"$g/windows", s"${h.work}/ckpt"))
    } { case (ok, q) =>
      val drops = RetailData.dropped(q)
      dropped += drops
      if (h.measuring) batchMs ++= q.recentProgress.map(_.durationMs.get("triggerExecution").longValue)
      val txns = landed.map(_.txn).toSeq
      val now = gold(h)
      state = Some(now)
      val dailyOk = now.daily.map(r => ((r._1, r._2), r._3)).toMap ==
        txns.groupMapReduce(t => (t.product, LocalDate.parse(t.order_date).toEpochDay))(
          t => RetailData.cents(t.amount))(_ + _)
      val storeOk = now.store.groupMapReduce(_._1)(_._2)(_ + _) ==
        txns.groupMapReduce(_.store_id)(t => RetailData.cents(t.amount))(_ + _)
      // every window the watermark has closed equals slidingRevenue over
      // the same events: the ones checked before, plus the newly closed
      val wm = RetailData.watermark(q)
      val want = closed ++ RetailData.closedWindows(h.spark, landed.toSeq, closedAt, wm)
      val got = RetailData.streamOutput(h.spark, s"$g/windows")
      val streamOk = got.size == want.size && got.toSet == want
      if (!streamOk) System.err.println(s"[perfbench] stream windows: got ${got.size} want " +
        s"${want.size}; missing ${(want -- got).take(3)}; extra ${(got.toSet -- want).take(3)}")
      closed = want
      closedAt = wm
      if (!(ok && dailyOk && storeOk && drops == 0 && streamOk))
        System.err.println(s"[perfbench] $d: batch ran=$ok daily=$dailyOk store=$storeOk " +
          s"dropped=$drops stream=$streamOk")
      ok && dailyOk && storeOk && drops == 0 && streamOk
    }
    state
  }

  /** One pass of the dashboard mix, each query an operation. */
  private def refresh(h: Harness, now: Gold): Unit =
    mix.foreach { case (name, table, query, cols, want) =>
      val expected = want(now)
      val path = s"${h.work}/gold/$table"
      h.op("query", name) {
        h.rec.note("input_bytes", h.written(path)._2)
        val df = h.rec.span("Sources.parquetDir", "io") { Sources.parquetDir(h.spark, path) }
        canon(h.rec.span(name, "ops") { query(df).collect() }, cols)
      }(_ == expected)
    }

  /** Set-up warms the JVM with one untimed day and three passes of the
    * dashboard mix. */
  def setup(h: Harness): Unit = {
    h.facts("tx_per_day") = TxPerDay
    h.facts("files_per_day") = FilesPerDay
    (0 until WarmupDays).foreach(i => etl(h, i).foreach(g => (0 until 3).foreach(_ => refresh(h, g))))
  }

  def measure(h: Harness, i: Int): Unit = etl(h, WarmupDays + i).foreach(refresh(h, _))

  /** A day, checks included, takes about as long as `run_seconds`; two
    * days keep the unit count, and so the median, from flipping
    * between one and two. */
  override def minUnits: Int = 2

  override def finish(h: Harness): Unit = {
    h.facts("stream_batch_ms") = batchMs.toSeq
    h.facts("dropped_by_watermark") = dropped
    val (files, bytes) = h.written(s"${h.work}/gold")
    h.facts("files_written") = files
    h.facts("bytes_written") = bytes
  }
}

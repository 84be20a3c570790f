package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, TimeMode}
import graft.model.{OrderEvent, ReceiptEvent, UserBehavior}
import graft.streaming.{LateSplit, OrderTimeoutStream, StreamingWindows,
  TopNProcessor, TxMatchStream}
import graft.streaming.LateSplit.Hit
import graft.streaming.TopNState.KeyedCount

/** The uba_stream workload: four reference jobs as concurrent streaming
  * queries in one session, on the RocksDB state store.
  *
  *  - hot_items: `StreamingWindows.slidingCount` (1 h / 5 min, 5 s
  *    disorder) then the `TopNMultiTimer` processor (top 3 per window);
  *  - hot_pages: `LateSplit.splitChained` (5 s disorder, 60 s lateness)
  *    then a 10 min / 1 min sliding count of the on-time rows;
  *  - order_timeout: `OrderTimeoutStream.detectTws` (15 min deadline);
  *  - tx_match: `TxMatchStream.detectTws` over pays and receipts.
  *
  * Phase 1 drains the backlog (events of phase 0) in fixed event-time
  * slices, each added once the previous one is committed by every query.
  * Phase 2 sends the rest open-loop: a generator thread adds each event at
  * its due time, whatever the queries are doing. Every output row carries
  * the id of the micro-batch emitting it; progress reports give each
  * batch's watermark, offsets and commit time, from which the reference
  * replay (perfbench/streamcheck.py) knows what each batch had to emit.
  */
object StreamBench {
  final case class Streams(behav: Seq[UserBehavior], pages: Seq[Hit],
      orders: Seq[OrderEvent], receipts: Seq[ReceiptEvent],
      phase: Map[String, Array[Int]], dueUs: Map[String, Array[Long]])

  private def readCsv(path: String): (Array[String], Array[Array[String]]) = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
      .asScala.toArray
    (lines.head.split(","), lines.tail.map(_.split(",", -1)))
  }

  def load(dir: String): Streams = {
    val phase = mutable.Map.empty[String, Array[Int]]
    val due = mutable.Map.empty[String, Array[Long]]
    def rows(name: String): Array[Map[String, String]] = {
      val (h, rs) = readCsv(s"$dir/$name.csv")
      val ms = rs.map(r => h.zip(r).toMap)
      phase(name) = ms.map(_("phase").toInt)
      due(name) = ms.map(_("due_us").toLong)
      ms
    }
    val behav = rows("behav").map(m => UserBehavior(m("user").toLong,
      m("item").toLong, m("category").toInt, m("behavior"),
      new Timestamp(m("ts_ms").toLong)))
    val pages = rows("pages").map(m => Hit(m("url"), m("ts_ms").toLong))
    val orders = rows("orders").map(m => OrderEvent(m("order_id").toLong,
      m("type"), m("tx"), new Timestamp(m("ts_ms").toLong)))
    val receipts = rows("receipts").map(m => ReceiptEvent(m("tx"),
      m("channel"), new Timestamp(m("ts_ms").toLong)))
    Streams(behav.toSeq, pages.toSeq, orders.toSeq, receipts.toSeq,
      phase.toMap, due.toMap)
  }

  def run(o: Opts): Map[String, Any] = {
    val cores = o.int("cores", 4)
    val drainOnly = o.flag("drain-only")
    val slices = o("slices").toInt
    val traced = o.flag("trace")
    val s = load(o("data"))
    val ckpt = s"${o("work")}/ckpt-${System.nanoTime()}"

    val setup0 = Clock.nowUs
    val spark = Session.build(cores, o("work"), Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.numRecentProgressUpdates" -> "100000"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // sources of `cores` partitions each, like a partitioned topic; a
    // source commits one query's offsets, so each query reads its own
    val behavS = MemoryStream[UserBehavior](cores)
    val pagesS = MemoryStream[Hit](cores)
    val ordersS = MemoryStream[OrderEvent](cores)
    val txOrdersS = MemoryStream[OrderEvent](cores)
    val receiptsS = MemoryStream[ReceiptEvent](cores)

    val hotItems = StreamingWindows.slidingCount(
        behavS.toDF().filter($"behavior" === "pv"), $"itemId", "ts",
        "60 minutes", "5 minutes", "5 seconds")
      .select(($"window_end" * 1000L).as("windowEnd"),
        $"key".cast("string").as("key"), $"cnt")
      .as[KeyedCount]
      .groupByKey(_.windowEnd)
      .transformWithState(new TopNProcessor(3, 1L), TimeMode.EventTime(),
        OutputMode.Append())
      .toDF()
    val tagged = LateSplit.splitChained(pagesS.toDS(), disorderMs = 5000,
      latenessMs = 60000, slackMs = 60000).toDF()
    val hotPages = StreamingWindows.slidingCountChained(
        tagged.filter($"tag" === "ontime"), $"key", "ts",
        "10 minutes", "1 minute")
      .select($"key", $"window_end", $"cnt")
    val orderTimeout = OrderTimeoutStream.detectTws(ordersS.toDS()).toDF()
    val txMatch = TxMatchStream.detectTws(
      txOrdersS.toDS().filter(_.eventType == "pay"), receiptsS.toDS()).toDF()

    val outputs = mutable.LinkedHashMap.empty[String, ConcurrentLinkedQueue[Seq[Any]]]
    def start(name: String, df: DataFrame): StreamingQuery = {
      val buf = new ConcurrentLinkedQueue[Seq[Any]]()
      outputs(name) = buf
      df.writeStream.queryName(name)
        .option("checkpointLocation", s"$ckpt/$name")
        .outputMode("append")
        .foreachBatch { (b: DataFrame, id: Long) =>
          b.collect().foreach(r => buf.add(id +: r.toSeq))
        }
        .start()
    }
    val queries = Seq("hot_items" -> hotItems, "hot_pages" -> hotPages,
      "order_timeout" -> orderTimeout, "tx_match" -> txMatch)
      .map { case (n, df) => n -> start(n, df) }.toMap
    val recorder = if (traced) Some(new Recorder(spark)) else None

    // chunks sent per stream: (offset index, first row, end row, sent time)
    val chunks = mutable.Map(Seq("behav", "pages", "orders", "receipts")
      .map(_ -> mutable.ArrayBuffer.empty[Seq[Long]]): _*)
    def send(name: String, from: Int, until: Int): Unit = if (until > from) {
      name match {
        case "behav" => behavS.addData(s.behav.slice(from, until))
        case "pages" => pagesS.addData(s.pages.slice(from, until))
        case "orders" =>
          ordersS.addData(s.orders.slice(from, until))
          txOrdersS.addData(s.orders.slice(from, until))
        case "receipts" => receiptsS.addData(s.receipts.slice(from, until))
      }
      val c = chunks(name)
      c += Seq(c.size.toLong, from.toLong, until.toLong, Clock.nowUs)
    }
    def awaitAll(): Unit = queries.values.foreach(_.processAllAvailable())

    // backlog: phase-0 rows. The first 5% prime the queries (set-up ends
    // when every query has committed them); the rest is drained in
    // `slices` equal slices of each stream
    val backlogEnd = chunks.keys.map(n => n -> s.phase(n).count(_ == 0)).toMap
    def bound(n: String, k: Int): Int = {
      val end = backlogEnd(n).toLong
      val prime = end / 20
      (if (k == 0) 0L else prime + (end - prime) * (k - 1) / slices).toInt
    }
    def sendSlice(k: Int): Unit = chunks.keys.toSeq.sorted.foreach { n =>
      send(n, bound(n, k), bound(n, k + 1))
    }
    sendSlice(0)
    awaitAll()
    val setupS = Clock.secondsSince(setup0)

    val drain = mutable.ArrayBuffer.empty[Map[String, Any]]
    def drainRange(from: Int, until: Int, rec: Option[Recorder]): Unit = {
      rec.foreach(_.register())
      val t0 = Clock.nowUs
      val rounds = (from until until).map { k =>
        val r0 = Clock.nowUs
        sendSlice(k)
        awaitAll()
        Clock.secondsSince(r0)
      }
      val t1 = Clock.nowUs
      val events = backlogEnd.keys.map(n => bound(n, until) - bound(n, from)).sum
      drain += Map("start_us" -> t0, "end_us" -> t1, "events" -> events,
        "rounds_s" -> rounds, "traced" -> rec.isDefined)
    }
    if (traced) {
      drainRange(1, 1 + slices / 2, None)
      drainRange(1 + slices / 2, slices + 1, recorder)
    } else drainRange(1, slices + 1, None)

    var openStart = 0L
    var openEnd = 0L
    val committedAtEnd = mutable.Map.empty[String, Seq[String]]
    if (!drainOnly) {
      // open loop: a generator thread adds each event at its due time
      val next = mutable.Map(backlogEnd.toSeq: _*)
      val total = chunks.keys.map(n => n -> s.phase(n).length).toMap
      openStart = Clock.nowUs
      val gen = new Thread(() => {
        var done = false
        while (!done) {
          val now = Clock.nowUs - openStart
          chunks.keys.toSeq.sorted.foreach { n =>
            val due = s.dueUs(n)
            var e = next(n)
            while (e < total(n) && due(e) <= now) e += 1
            send(n, next(n), e)
            next(n) = e
          }
          done = chunks.keys.forall(n => next(n) >= total(n))
          if (!done) {
            val soonest = chunks.keys.filter(n => next(n) < total(n))
              .map(n => s.dueUs(n)(next(n))).min
            val waitUs = soonest - (Clock.nowUs - openStart)
            if (waitUs > 1000) Thread.sleep(math.min(waitUs / 1000, 5))
          }
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      openEnd = Clock.nowUs
      queries.foreach { case (n, q) =>
        committedAtEnd(n) = Option(q.lastProgress).toSeq
          .flatMap(_.sources.map(x => s"${x.description}=${x.endOffset}"))
      }
      // let the queries finish what was sent; outputs of any batch after
      // the progress snapshot below are not compared
      awaitAll()
    }
    recorder.foreach(_.unregister())
    val reports = queries.map { case (n, q) => n -> q.recentProgress }
    queries.values.foreach(_.stop())
    val progress = reports.map { case (n, ps) => n -> ps.map(_.json).toList }
    val lastBatch = reports.map { case (n, ps) =>
      n -> (if (ps.isEmpty) -1L else ps.map(_.batchId).max) }
    val heapMb = Session.retainedHeapMb()
    spark.stop()
    Map("workload" -> "uba_stream", "setup_s" -> setupS, "cores" -> cores,
      "drain" -> drain.toList, "slices" -> slices,
      "open_start_us" -> openStart, "open_end_us" -> openEnd,
      "chunks" -> chunks.map { case (k, v) => k -> v.toList },
      "committed_at_open_end" -> committedAtEnd,
      "progress" -> progress,
      "outputs" -> outputs.map { case (k, v) =>
        k -> v.asScala.toList.filter(_.head.asInstanceOf[Long] <= lastBatch(k)) },
      "query_ids" -> queries.map { case (n, q) => n -> q.id.toString },
      "retained_heap_mb" -> heapMb,
      "trace" -> recorder.map(_.dump))
  }
}

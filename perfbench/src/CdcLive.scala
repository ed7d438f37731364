package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.ops.ReferenceQueries
import graft.sources.Sources
import graft.streaming.{Materializer, Sinks}
import graft.streaming.StatefulLatestState.KeyState

/** `cdc_live`: the reference pipeline under an open-loop load. A
  * snapshot of [[CdcLive.SnapshotRows]] `orders_info` rows (op "r") is
  * dropped first; then one generator thread writes [[CdcLive.Rate]]
  * Debezium envelopes per second as one landing file per
  * [[CdcLive.PeriodMs]], each moved atomically into the landing dir at
  * its due time. The engine is `Sources.envelopeFileStream` →
  * `Materializer.startUpsert` with back-to-back micro-batches; one
  * closed-loop dashboard client refreshes the README's three KQL texts
  * in turn, each over a fresh `Sinks.readLatest`.
  *
  * The reference's 30 s trigger is replaced by `ProcessingTime(0)` on
  * purpose: with a fixed 30 s wait, freshness would measure the trigger
  * setting, not the engine. */
object CdcLive {
  val Rate = 2000
  val PeriodMs = 100
  val SnapshotRows = 150000
  val SnapshotFiles = 15
  val DrainTimeoutMs = 60000L
  // event mix of the live phase; the rest are updates
  val ReplayShare = 0.08
  val InsertShare = 0.10
  val DeleteShare = 0.05

  val Cities: IndexedSeq[String] =
    IndexedSeq("New Delhi", "Seattle", "New York", "Austin", "Chicago", "Cleveland")
  val KqlTexts: Seq[String] =
    Seq(ReferenceQueries.kqlAvgText, ReferenceQueries.kqlTotalText, ReferenceQueries.kqlCountText)

  final case class Row(custid: Int, amount: Int, city: String)
  /** One landing-file line; `fresh` is false for a verbatim replay. */
  final case class Line(json: String, tsMs: Long, fresh: Boolean)

  /** Seeded source of change events plus the key→row model the final
    * snapshot must equal. lsn is global and increases per new event; a
    * replay re-emits an earlier line verbatim (same lsn). */
  final class Generator(seed: Long) {
    private val rnd = new java.util.Random(seed)
    private var lsn = 0L
    private var nextKey = 1
    private val keys = ArrayBuffer.empty[Int]
    private val slot = mutable.HashMap.empty[Int, Int]
    private val recent = new Array[Line](1024)
    private var emitted = 0L
    val model = mutable.HashMap.empty[Int, Row]

    private def row() = Row(rnd.nextInt(1000) + 1, rnd.nextInt(100) + 100, Cities(rnd.nextInt(Cities.size)))

    private def emit(op: String, key: Int, before: Option[Row], after: Option[Row], tsMs: Long): Line = {
      lsn += 1
      val l = Line(envelope(op, key, before, after, lsn, tsMs), tsMs, fresh = true)
      recent((emitted % recent.length).toInt) = l
      emitted += 1
      l
    }

    def insert(op: String, tsMs: Long): (Int, Line) = {
      val k = nextKey
      nextKey += 1
      val r = row()
      model(k) = r
      slot(k) = keys.size
      keys += k
      k -> emit(op, k, None, Some(r), tsMs)
    }

    def update(tsMs: Long): Line = {
      val k = keys(rnd.nextInt(keys.size))
      val r = row()
      val l = emit("u", k, model.get(k), Some(r), tsMs)
      model(k) = r
      l
    }

    def delete(tsMs: Long): Line = {
      val k = keys(rnd.nextInt(keys.size))
      val i = slot.remove(k).get
      val last = keys.remove(keys.size - 1)
      if (last != k) { keys(i) = last; slot(last) = i }
      emit("d", k, model.remove(k), None, tsMs)
    }

    def replay(): Line =
      recent(rnd.nextInt(math.min(emitted, recent.length.toLong).toInt)).copy(fresh = false)

    /** The next live event under the workload's mix. */
    def next(tsMs: Long): Line = {
      val x = rnd.nextDouble()
      if (x < ReplayShare && emitted > 0) replay()
      else if (x < ReplayShare + InsertShare || keys.isEmpty) insert("c", tsMs)._2
      else if (x < ReplayShare + InsertShare + DeleteShare) delete(tsMs)
      else update(tsMs)
    }
  }

  private def rowJson(k: Int, r: Row): String =
    s"""{"orderid":$k,"custid":${r.custid},"amount":${r.amount},"city":"${r.city}"}"""

  def envelope(op: String, key: Int, before: Option[Row], after: Option[Row],
               lsn: Long, tsMs: Long): String = {
    val b = before.map(rowJson(key, _)).getOrElse("null")
    val a = after.map(rowJson(key, _)).getOrElse("null")
    val snap = if (op == "r") "true" else "false"
    s"""{"schema":null,"payload":{"before":$b,"after":$a,""" +
      s""""source":{"version":"1.9.5","connector":"postgresql","name":"myserver","ts_ms":$tsMs,""" +
      s""""snapshot":"$snap","db":"inventory","schema":"inventory","table":"orders_info","txId":$lsn,"lsn":$lsn,"xmin":null},""" +
      s""""op":"$op","ts_ms":$tsMs,"transaction":null}}"""
  }

  /** Per-micro-batch progress, read through a StreamingQueryListener. */
  final case class Batch(id: Long, rows: Long, doneMs: Long, startMs: Long,
                         triggerMs: Long, addBatchMs: Long, getBatchMs: Long,
                         latestOffsetMs: Long, stateRows: Long, stateBytes: Long,
                         stateUpdateMs: Long, stateCommitMs: Long)

  /** The engine under test plus the harness around it: landing dir,
    * versioned sink table, checkpoint, and the progress log. */
  final class Pipeline(spark: SparkSession, work: String) {
    val landing: Path = Files.createDirectories(Paths.get(work, "landing"))
    val staging: Path = Files.createDirectories(Paths.get(work, "staging"))
    val table: String = Paths.get(work, "orders_latest").toString
    val batches = ArrayBuffer.empty[Batch]
    val ingested = new AtomicLong
    private var query: StreamingQuery = _

    private val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val d = p.durationMs
          def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
          val st = p.stateOperators.headOption
          val b = Batch(p.batchId, p.numInputRows, System.currentTimeMillis(),
            java.time.Instant.parse(p.timestamp).toEpochMilli,
            dur("triggerExecution"), dur("addBatch"), dur("getBatch"), dur("latestOffset"),
            st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
            st.map(_.allUpdatesTimeMs).getOrElse(0L), st.map(_.commitTimeMs).getOrElse(0L))
          batches.synchronized { batches += b }
          ingested.addAndGet(p.numInputRows)
        }
      }
    }

    /** maxFilesPerTrigger far above the files that arrive during one
      * batch, so the bound never sets the batch size. */
    def start(): Unit = {
      spark.streams.addListener(listener)
      val env = Sources.envelopeFileStream(spark, landing.toUri.toString, maxFilesPerTrigger = 100000)
      query = Materializer.startUpsert(env, table, Paths.get(work, "checkpoint").toString,
        Trigger.ProcessingTime(0))
    }

    /** Write `lines` to a staging file, to be moved into landing later. */
    def stage(name: String, lines: Iterable[Line]): Path = {
      val p = staging.resolve(name)
      Files.writeString(p, lines.iterator.map(_.json).mkString("", "\n", "\n"))
      p
    }

    def land(staged: Path): Unit =
      Files.move(staged, landing.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)

    def failure: Option[String] = Option(query).flatMap(_.exception).map(_.toString.take(300))

    def awaitIngested(n: Long, timeoutMs: Long): Boolean = {
      val end = System.currentTimeMillis() + timeoutMs
      while (ingested.get < n && System.currentTimeMillis() < end && failure.isEmpty) Thread.sleep(5)
      ingested.get >= n
    }

    def snapshot(): DataFrame = Sinks.readLatest(spark, table)

    def stop(): Unit = {
      if (query != null) { query.stop(); query.awaitTermination(30000) }
      spark.streams.removeListener(listener)
    }

    /** Keys whose row in the final snapshot differs from the model,
      * plus keys present on one side only. */
    def mismatches(model: collection.Map[Int, Row]): Long = {
      val got = snapshot().select("orderid", "custid", "amount", "city").collect()
        .map(r => r.getInt(0) -> Row(r.getInt(1), r.getInt(2), r.getString(3))).toMap
      (got.keySet ++ model.keySet).count(k => got.get(k) != model.get(k)).toLong
    }
  }

  private val VersionRe = "/v=(\\d+)/".r

  /** The snapshot version a frame from `Sinks.readLatest` reads. */
  def versionOf(snap: DataFrame): Long =
    snap.inputFiles.iterator.flatMap(f => VersionRe.findFirstMatchIn(f)).map(_.group(1).toLong)
      .nextOption().getOrElse(-1L)

  def contains(snap: DataFrame, key: Int): Boolean =
    !snap.filter(col("orderid") === key).limit(1).isEmpty

  /** The three README aggregates computed from the model, keyed like
    * the KQL outputs: city → (avg_sales, total, orders). */
  def modelAggregates(model: collection.Map[Int, Row]): Map[String, (Double, Long, Long)] =
    model.values.groupBy(_.city).map { case (c, rs) =>
      val total = rs.iterator.map(_.amount.toLong).sum
      c -> (total.toDouble / rs.size, total, rs.size.toLong)
    }

  /** Run the three KQL texts on `snap` and compare with the model. */
  def aggregateErrors(spark: SparkSession, snap: DataFrame,
                      model: collection.Map[Int, Row]): Seq[String] = {
    val exp = modelAggregates(model)
    def run(t: String) = graft.kql.KqlParser.run(t, Map("Orders" -> snap)).collect()
      .map(r => r.getAs[String]("city") -> r).toMap
    val avg = run(KqlTexts(0)).map { case (c, r) => c -> r.getAs[Any]("avg_sales").toString.toDouble }
    val tot = run(KqlTexts(1)).map { case (c, r) => c -> r.getAs[Any]("total").toString.toLong }
    val cnt = run(KqlTexts(2)).map { case (c, r) => c -> r.getAs[Any]("orders").toString.toLong }
    val errs = ArrayBuffer.empty[String]
    if (avg.keySet != exp.keySet || tot.keySet != exp.keySet || cnt.keySet != exp.keySet)
      errs += s"dashboard cities ${avg.keySet} != model ${exp.keySet}"
    else exp.foreach { case (c, (a, t, n)) =>
      if (math.abs(avg(c) - a) > 1e-9 * math.max(1.0, math.abs(a))) errs += s"avg_sales[$c] ${avg(c)} != $a"
      if (tot(c) != t) errs += s"total[$c] ${tot(c)} != $t"
      if (cnt(c) != n) errs += s"orders[$c] ${cnt(c)} != $n"
    }
    errs.toSeq
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, tr: Tracer,
          work: String, raw: Raw): Unit = {
    import PerfBench.forcedOp
    val gen = new Generator(seed)
    val errors = ArrayBuffer.empty[String]
    val pipe = new Pipeline(spark, work)

    // ---- set-up: stream start, staged snapshot, the tile queries warmed
    // on a one-row frame
    val bfTs = System.currentTimeMillis()
    val snapshotLines = (1 to SnapshotRows).map(_ => gen.insert("r", bfTs)._2)
    val staged = snapshotLines.grouped(SnapshotRows / SnapshotFiles).zipWithIndex
      .map { case (ls, i) => pipe.stage(f"snapshot-$i%03d.json", ls) }.toVector
    pipe.start()
    val warm = spark.createDataFrame(Seq(KeyState(1, 1L, deleted = false, 1, 100, "Seattle")))
    KqlTexts.foreach(t => forcedOp(new Tracer(false), 0, 0)(graft.kql.KqlParser.run(t, Map("Orders" -> warm))))
    raw.num("setup_s", Jvm.uptimeMs / 1000.0)

    // ---- backfill: drop the snapshot, wait until every line is committed
    val bf0 = System.nanoTime()
    staged.foreach(pipe.land)
    if (!pipe.awaitIngested(SnapshotRows, DrainTimeoutMs))
      errors += s"backfill: ${pipe.ingested.get} of $SnapshotRows lines ingested ${pipe.failure.getOrElse("")}"
    raw.num("backfill_events", SnapshotRows.toDouble)
    raw.num("backfill_s", (System.nanoTime() - bf0) / 1e9)
    val liveBatch0 = pipe.batches.synchronized(pipe.batches.map(_.id).maxOption.getOrElse(-1L))

    // ---- live phase: open-loop generator thread + closed-loop dashboard
    val exec = new ExecCounters
    if (tr.enabled) spark.sparkContext.addSparkListener(exec)
    exec.armed = true
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    val perFile = Rate * PeriodMs / 1000
    val nFiles = math.max(1, (seconds * 1000 / PeriodMs).toInt)
    val lines = ArrayBuffer.empty[(Long, Long, Boolean)] // global line index, ts_ms, fresh
    val files = ArrayBuffer.empty[(Long, Long, Long)]    // due ms, landed ms, lines landed so far
    @volatile var sentinelKey = -1
    @volatile var genError: Option[String] = None
    val t0 = System.currentTimeMillis()
    val genThread = new Thread(() => try {
      var lineIdx = SnapshotRows.toLong
      for (k <- 0 until nFiles) {
        val due = t0 + (k + 1L) * PeriodMs
        var now = System.currentTimeMillis()
        while (now < due) { Thread.sleep(due - now); now = System.currentTimeMillis() }
        val batch = (0 until perFile).map(i => gen.next(t0 + k.toLong * PeriodMs + i.toLong * PeriodMs / perFile))
        // the run ends with a sentinel insert: a fresh key whose
        // visibility proves every earlier line was applied, whatever
        // the last real event was
        val all = if (k == nFiles - 1) {
          val (key, l) = gen.insert("c", due)
          sentinelKey = key
          batch :+ l
        } else batch
        all.foreach { l => lines += ((lineIdx, l.tsMs, l.fresh)); lineIdx += 1 }
        pipe.land(pipe.stage(f"live-$k%06d.json", all))
        files += ((due, System.currentTimeMillis(), lineIdx))
      }
    } catch { case e: Throwable => genError = Some(e.toString) }, "cdc-generator")
    genThread.setDaemon(true)
    genThread.start()

    val reads = ArrayBuffer.empty[(Long, Long, Double)] // done ms, version, latency ms
    var readFailures = 0L
    var seen = false
    var op = 0L
    val hardEnd = t0 + (seconds * 1000).toLong + DrainTimeoutMs
    while (!seen && System.currentTimeMillis() < hardEnd && genError.isEmpty && pipe.failure.isEmpty) {
      val genDone = sentinelKey >= 0 && !genThread.isAlive
      op += 1
      val r0 = System.nanoTime()
      try {
        // a dashboard of three tiles, each resolving the latest snapshot
        // when it refreshes; the client refreshes them in turn
        val text = KqlTexts(((op - 1) % KqlTexts.size).toInt)
        val (snap, version) = tr("read", op) { root =>
          val (snap, version) = tr("sinks.read_latest", op, root) { _ =>
            val snap = pipe.snapshot()
            (snap, versionOf(snap))
          }
          forcedOp(tr, op, root)(graft.kql.KqlParser.run(text, Map("Orders" -> snap)))
          (snap, version)
        }
        reads += ((System.currentTimeMillis(), version, (System.nanoTime() - r0) / 1e6))
        if (genDone) seen = contains(snap, sentinelKey)
      } catch { case e: Exception =>
        readFailures += 1
        errors += s"dashboard read: ${e.toString.take(300)}"
      }
    }
    exec.armed = false
    val window = (System.currentTimeMillis() - t0) / 1000.0
    genThread.join(5000)
    genError.foreach(e => errors += s"generator: $e")
    pipe.failure.foreach(e => errors += s"stream: $e")
    if (!seen) errors += s"sentinel key $sentinelKey not visible within ${DrainTimeoutMs} ms of the window"

    // ---- checks: the final snapshot equals the generator's model, every
    // landed line was ingested once, the dashboard aggregates match
    val landed = SnapshotRows.toLong + lines.size
    pipe.awaitIngested(landed, 5000)
    if (pipe.ingested.get != landed) errors += s"ingested ${pipe.ingested.get} lines, landed $landed"
    val badKeys = if (seen) pipe.mismatches(gen.model) else gen.model.size.toLong
    if (badKeys > 0) errors += s"$badKeys keys differ from the generator model"
    val aggErrors = if (seen) aggregateErrors(spark, pipe.snapshot(), gen.model) else Seq("not checked")
    errors ++= aggErrors
    val snapshotFiles = if (seen) pipe.snapshot().inputFiles.length.toDouble else 0.0
    pipe.stop()

    val freshEvents = lines.count(_._3)
    raw.num("attempted", (SnapshotRows + freshEvents + reads.size + readFailures).toDouble)
    raw.num("failed", (readFailures + badKeys + aggErrors.size +
      (if (seen) 0 else freshEvents)).toDouble)
    raw.strs("errors", errors)
    raw.num("window_s", window)
    raw.num("completed", reads.size.toDouble)
    raw.nums("read_ms", reads.map(_._3))
    raw.rows("reads", reads.map(r => Seq(r._1, r._2, r._3)))
    raw.rows("lines", lines.map(l => Seq(l._1, l._2, l._3)))
    raw.rows("files", files.map(f => Seq(f._1, f._2, f._3)))
    raw.num("live_batch0", liveBatch0.toDouble)
    raw.rows("batches", pipe.batches.synchronized(pipe.batches.toVector).map(b => Seq(
      b.id, b.rows, b.doneMs, b.startMs, b.triggerMs, b.addBatchMs, b.getBatchMs,
      b.latestOffsetMs, b.stateRows, b.stateBytes, b.stateUpdateMs, b.stateCommitMs)))
    raw.num("jvm_gc_ms", (Jvm.gcMs - gc0).toDouble)
    raw.num("jvm_jit_ms", (Jvm.jitMs - jit0).toDouble)
    raw.num("exec_shuffle_write_bytes", exec.shuffleWriteBytes.get.toDouble)
    raw.num("exec_spill_bytes", exec.spillBytes.get.toDouble)
    raw.num("exec_tasks", exec.tasks.get.toDouble)
    raw.num("sink_live_bytes", versionBytes(pipe.table, liveBatch0).toDouble)
    raw.num("sink_snapshot_files", snapshotFiles)
    raw.spans(tr)
  }

  /** Bytes of every sink version written after batch `after`. */
  def versionBytes(table: String, after: Long): Long = {
    val dirs = Option(new java.io.File(table).listFiles()).toSeq.flatten
      .filter(d => d.getName.startsWith("v=") && d.getName.drop(2).toLong > after)
    dirs.flatMap(d => Option(d.listFiles()).toSeq.flatten).filter(_.isFile).map(_.length).sum
  }

  /** End-to-end check of the end-of-run rule on a small stream whose
    * last real event is a delete and which carries replays: the run
    * must still end (sentinel visible), and the snapshot must equal the
    * model exactly. Exits non-zero on failure. */
  def selfTest(spark: SparkSession, work: String): Unit = {
    val gen = new Generator(7)
    val pipe = new Pipeline(spark, work)
    pipe.start()
    val snap = (1 to 200).map(_ => gen.insert("r", 1L)._2)
    val live = (1 to 300).map(i => gen.next(i.toLong))
    val replays = live.count(!_.fresh)
    val lastDelete = gen.delete(301L)
    val (sentinel, sentinelLine) = gen.insert("c", 302L)
    pipe.land(pipe.stage("a.json", snap))
    pipe.land(pipe.stage("b.json", live :+ lastDelete))
    pipe.land(pipe.stage("c.json", Seq(sentinelLine)))
    val end = System.currentTimeMillis() + DrainTimeoutMs
    var seen = false
    while (!seen && System.currentTimeMillis() < end && pipe.failure.isEmpty) {
      seen = pipe.batches.synchronized(pipe.batches.nonEmpty) && contains(pipe.snapshot(), sentinel)
      if (!seen) Thread.sleep(20)
    }
    val checks = Seq(
      "generator mix contains replays" -> (replays > 0),
      "sentinel visible after a trailing delete" -> seen,
      "every landed line ingested once" -> pipe.awaitIngested(snap.size + live.size + 2L, 5000),
      "final snapshot equals the model" -> (seen && pipe.mismatches(gen.model) == 0),
      "dashboard aggregates equal the model" -> (seen && aggregateErrors(spark, pipe.snapshot(), gen.model).isEmpty))
    pipe.stop()
    checks.foreach { case (n, ok) => println(s"${if (ok) "ok  " else "FAIL"} $n") }
    if (!checks.forall(_._2)) sys.exit(1)
  }
}

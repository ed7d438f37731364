package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Engine side of the benchmark. `run.py` builds this together with the
  * engine sources and launches it once per run:
  *
  * {{{
  * PerfBench run  <workload> <seed> <seconds> <trace 0|1> <corpusDir> <workDir> <queryFile> <rawOut>
  * PerfBench record <corpusDir> <verifyOutDir> <queryNames,...> <out>
  * PerfBench selftest <workDir>
  * }}}
  *
  * A run writes raw samples, spans and counters to `rawOut` once, at the
  * end; `stats.py` turns them into the metrics. Everything the run
  * writes stays under `workDir`.
  */
object PerfBench {

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") =>
      val Array(_, workload, seed, seconds, trace, corpus, work, queryFile, out) = args
      val raw = new Raw
      val spark = session(work)
      try {
        workload match {
          case "cdc_live" =>
            CdcLive.run(spark, seed.toLong, seconds.toDouble, new Tracer(trace == "1"), work, raw)
          case _ =>
            QueryWorkload.run(spark, seed.toLong, seconds.toDouble, new Tracer(trace == "1"),
              corpus, readQueryFile(queryFile), raw)
        }
      } finally spark.stop()
      raw.num("peak_rss_mb", Jvm.peakRssMb)
      Files.writeString(Paths.get(out), raw.json)
    case Some("record") =>
      val Array(_, corpus, verifyOut, names, out) = args
      val spark = session(Files.createTempDirectory(Paths.get(out).toAbsolutePath.getParent, "rec").toString)
      try Files.writeString(Paths.get(out), Record.run(spark, corpus, verifyOut, names.split(",").toSeq))
      finally spark.stop()
    case Some("selftest") =>
      val spark = session(args(1))
      try CdcLive.selfTest(spark, args(1)) finally spark.stop()
    case _ =>
      System.err.println("usage: PerfBench run|record|selftest ...")
      sys.exit(2)
  }

  /** local[nproc] with shuffle partitions = nproc, and every directory
    * Spark writes (warehouse, which holds the Memo served tables, and
    * block-manager scratch) inside this run's own work dir: a run never
    * reuses what an earlier run built. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.Graft.sessionBuilder(cores, "perfbench")
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toUri.toString)
      .config("spark.local.dir", Paths.get(work, "local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** `name rows xor` per line; rows/xor are the oracle-confirmed
    * checksum the query's output must reproduce. */
  def readQueryFile(path: String): Seq[(String, Checksum)] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.trim.nonEmpty).map { l =>
      val Array(n, rows, xor) = l.trim.split("\\s+")
      n -> Checksum(rows.toLong, xor.toLong)
    }

  final case class Checksum(rows: Long, xor: Long) {
    override def toString = s"$rows:$xor"
  }

  /** Row count plus bit_xor(xxhash64(all columns)): order-independent,
    * so any partitioning gives the same value, and it computes every
    * output column of every row. Top-level float/double columns are
    * rounded to 9 decimals first, as the oracle comparison (tools/check.py
    * `canon`) rounds them, so last-ulp summation-order noise does not
    * flip the checksum. */
  def checksumFrame(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      f.dataType match {
        case DoubleType | FloatType => round(c, 9)
        case _ => c
      }
    }
    df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols: _*)), lit(0L)))
  }

  def readChecksum(forced: DataFrame): Checksum = {
    val r = forced.collect()(0)
    Checksum(r.getLong(0), r.getLong(1))
  }

  /** Build the frame, plan it, execute it — one span per layer under
    * the operation's root span. The same three calls run untraced. */
  def forcedOp(tr: Tracer, op: Long, parent: Long)(build: => DataFrame): Checksum = {
    val df = tr("query.build", op, parent)(_ => build)
    val forced = checksumFrame(df)
    tr("plan.plan", op, parent)(_ => forced.queryExecution.executedPlan)
    tr("exec.execute", op, parent)(_ => readChecksum(forced))
  }
}

/** Raw result of one run, serialized as one JSON object. */
final class Raw {
  private val fields = ArrayBuffer.empty[(String, String)]
  private def put(k: String, v: String): Unit = fields.synchronized { fields += k -> v }

  def num(k: String, v: Double): Unit = put(k, Raw.num(v))
  def nums(k: String, vs: Iterable[Double]): Unit = put(k, vs.map(Raw.num).mkString("[", ",", "]"))
  def rows(k: String, vs: Iterable[Iterable[Any]]): Unit =
    put(k, vs.map(_.map(Raw.any).mkString("[", ",", "]")).mkString("[", ",", "]"))
  def strs(k: String, vs: Iterable[String]): Unit = put(k, vs.map(Raw.str).mkString("[", ",", "]"))
  def spans(tr: Tracer): Unit =
    rows("spans", tr.all.map(s => Seq(s.id, s.parent, s.op, s.name, s.startNs, s.endNs)))

  def json: String = fields.synchronized {
    fields.map { case (k, v) => Raw.str(k) + ":" + v }.mkString("{", ",", "}")
  }
}

object Raw {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def any(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case b: Boolean => b.toString
    case n => n.toString
  }
}

/** `kql_interactive` and `llm_pipeline`: one closed-loop client runs
  * the workload's registered queries ([[graft.SparkEntry.queries]]) over
  * the committed corpus. Set-up runs every query [[QueryWorkload.WarmPasses]]
  * times (paying JIT, codegen and the [[graft.Memo]] served-table
  * builds); the timed window then runs seeded permutations of the same
  * queries back to back. */
object QueryWorkload {
  import PerfBench._

  /** Untimed passes before the window: the first pays class loading,
    * codegen and the Memo builds, the second most of the JIT warm-up. */
  val WarmPasses = 2

  def run(spark: SparkSession, seed: Long, seconds: Double, tr: Tracer,
          corpus: String, queries: Seq[(String, Checksum)], raw: Raw): Unit = {
    val registry = graft.SparkEntry.queries
    val missing = queries.map(_._1).filterNot(registry.contains)
    require(missing.isEmpty, s"unregistered queries: ${missing.mkString(", ")}")
    val errors = ArrayBuffer.empty[String]
    var attempted, failed = 0L

    def runOne(name: String, expected: Checksum, op: Long): Double = {
      val t0 = System.nanoTime()
      attempted += 1
      val got =
        try tr("op", op)(root => Some(forcedOp(tr, op, root)(registry(name)(spark, corpus))))
        catch { case e: Exception => errors += s"$name: ${e.toString.take(300)}"; None }
      val ms = (System.nanoTime() - t0) / 1e6
      got.foreach { c =>
        if (c != expected) errors += s"$name: checksum $c, expected $expected"
      }
      if (!got.contains(expected)) failed += 1
      ms
    }

    // set-up: WarmPasses passes in name order; the Memo builds land in
    // the first
    var memoBuildMs = 0.0
    var op = 0L
    val setupOps = ArrayBuffer.empty[Seq[Any]]
    for (_ <- 1 to WarmPasses; (name, exp) <- queries.sortBy(_._1)) {
      val before = graft.Memo.computeCount
      op += 1
      val ms = runOne(name, exp, -op)
      if (graft.Memo.computeCount != before) memoBuildMs += ms
      setupOps += Seq(name, ms)
    }
    raw.rows("setup_ops", setupOps)
    raw.num("setup_s", Jvm.uptimeMs / 1000.0)
    raw.num("memo_build_s", memoBuildMs / 1000.0)

    val exec = new ExecCounters
    if (tr.enabled) spark.sparkContext.addSparkListener(exec)
    exec.armed = true
    val memoWindow0 = graft.Memo.computeCount
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    val rnd = new scala.util.Random(seed)
    val lat = ArrayBuffer.empty[Double]
    val names = ArrayBuffer.empty[String]
    // whole passes, until at least `seconds` have passed: within a run
    // every query is timed equally often, and the seed only changes the
    // order
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      for ((name, exp) <- rnd.shuffle(queries)) {
        op += 1
        lat += runOne(name, exp, op)
        names += name
      }
    }
    val window = (System.nanoTime() - start) / 1e9
    exec.armed = false

    raw.num("window_s", window)
    raw.num("completed", lat.size.toDouble)
    raw.nums("op_ms", lat)
    raw.strs("op_names", names)
    raw.nums("read_ms", lat)
    raw.num("jvm_gc_ms", (Jvm.gcMs - gc0).toDouble)
    raw.num("jvm_jit_ms", (Jvm.jitMs - jit0).toDouble)
    raw.num("memo_window_builds", (graft.Memo.computeCount - memoWindow0).toDouble)
    raw.num("exec_shuffle_write_bytes", exec.shuffleWriteBytes.get.toDouble)
    raw.num("exec_spill_bytes", exec.spillBytes.get.toDouble)
    raw.num("exec_tasks", exec.tasks.get.toDouble)
    raw.num("attempted", attempted.toDouble)
    raw.num("failed", failed.toDouble)
    raw.strs("errors", errors)
    // spans of the timed window only (set-up ops carry negative ids)
    raw.rows("spans", tr.all.filter(_.op > 0).map(s =>
      Seq(s.id, s.parent, s.op, s.name, s.startNs, s.endNs)))
  }
}

/** Records the expected checksums: for each query, the checksum of the
  * parquet output `graft.Verify` wrote (the rows tools/check.py compared
  * against DuckDB) and of a direct run; both must agree. */
object Record {
  import PerfBench._

  def run(spark: SparkSession, corpus: String, verifyOut: String, names: Seq[String]): String = {
    val registry = graft.SparkEntry.queries
    names.map { n =>
      val fromOracle = readChecksum(checksumFrame(spark.read.parquet(s"$verifyOut/$n")))
      val direct = readChecksum(checksumFrame(registry(n)(spark, corpus)))
      require(fromOracle == direct, s"$n: verified output $fromOracle but direct run $direct")
      s"$n ${direct.rows} ${direct.xor}"
    }.mkString("", "\n", "\n")
  }
}

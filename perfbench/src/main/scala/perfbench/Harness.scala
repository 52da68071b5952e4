package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{GraftExtensions, NoForkLocalFileSystem, SparkEntry}

/** Runs one benchmark plan in one JVM and writes raw records, one JSON
  * object per line, for `run.py` to turn into metrics.
  *
  * The plan is a text file of `key value...` lines:
  *   cores N | records FILE
  *   setup FIXTURE_DIR STATE_DIR q1,q2,...   the cold and the warm pass
  *   pass 0|1 q1,q2,...                      one line per timed pass, 1 if traced
  *   check DUMP_DIR q1,q2,...                untimed correctness step
  *
  * Set-up starts the session with its private state directory (java.io.tmpdir,
  * spark.local.dir, warehouse) and runs one cold and one warm pass. The timed
  * passes follow. Each query is timed at three entry points: the
  * query function (`build`), `queryExecution.executedPlan` (`plan`) and the
  * `noop` write (`exec`). A traced pass has Spark and streaming listeners
  * attached.
  */
object Harness extends AdaptiveSparkPlanHelper {

  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  /** Wall clock in ms on the listener's time base, with sub-ms precision. */
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  final case class Plan(cores: Int, records: String, fixture: String, state: String,
                        setup: Seq[String], passes: Seq[(Boolean, Seq[String])],
                        checkDir: String, check: Seq[String])

  def parsePlan(lines: Seq[String]): Plan = {
    val kv = lines.map(_.trim).filter(_.nonEmpty).map(_.split(" ").toSeq)
    def line(k: String) = kv.find(_.head == k).getOrElse(sys.error(s"plan has no '$k' line"))
    def names(s: String) = s.split(",").toSeq.filter(_.nonEmpty)
    val setup = line("setup")
    val check = line("check")
    Plan(line("cores")(1).toInt, line("records")(1), setup(1), setup(2), names(setup(3)),
      kv.filter(_.head == "pass").map(l => (l(1) == "1", names(l(2)))), check(1), names(check(2)))
  }

  def main(args: Array[String]): Unit = {
    val plan = parsePlan(Files.readAllLines(Paths.get(args(0))).asScala.toSeq)
    val out = new Records(plan.records)
    try run(plan, out) finally out.close()
  }

  private def session(cores: Int, state: String): SparkSession = {
    // $state/tmp is also the JVM's java.io.tmpdir, where graft keeps its
    // persisted indexes and snapshot tables
    Seq("tmp", "local", "warehouse").foreach(d => new File(s"$state/$d").mkdirs())
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$state/local")
      .config("spark.sql.warehouse.dir", s"$state/warehouse")
      // the deployment settings Bench uses for a long-lived session
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  private def run(plan: Plan, out: Records): Unit = {
    val queries = SparkEntry.queries
    val t0 = System.nanoTime()
    val spark = session(plan.cores, plan.state)
    spark.sparkContext.setLogLevel("ERROR")
    val started = (System.nanoTime() - t0) / 1e9
    // the first warm pass still runs slower than later ones, so it is set-up too
    val coldS = runPass(spark, queries, plan.fixture, plan.setup, "setup", 0, traced = false, out)
    val warmS = runPass(spark, queries, plan.fixture, plan.setup, "setup", 1, traced = false, out)
    out.add(s"""{"k":"setup","session_s":$started,"cold_s":$coldS,"warm_s":$warmS}""")
    val recorder = new Recorder(out)
    val streams = new StreamRecorder(out)
    plan.passes.zipWithIndex.foreach { case ((traced, order), pass) =>
      if (traced) {
        spark.sparkContext.addSparkListener(recorder)
        spark.streams.addListener(streams)
      }
      val passS = runPass(spark, queries, plan.fixture, order, "timed", pass, traced, out)
      if (traced) {
        BenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
        spark.streams.removeListener(streams)
      }
      out.add(s"""{"k":"pass","pass":$pass,"traced":$traced,"s":$passS,"heap_mb":${retainedHeapMb()}}""")
    }
    // what the program leaves behind; Spark's shuffle scratch is not counted
    val diskMb = (du(new File(plan.state, "tmp")) + du(new File(plan.state, "warehouse"))) / 1048576.0
    out.add(s"""{"k":"end","disk_mb":$diskMb}""")
    plan.check.foreach(q => check(spark, queries(q), plan.fixture, q, plan.checkDir, out))
    spark.stop()
  }

  /** One pass over `order`; returns its wall seconds. A query that throws is
    * recorded as failed and the pass goes on. */
  private def runPass(spark: SparkSession, queries: Map[String, (SparkSession, String) => DataFrame],
                      fixture: String, order: Seq[String], phase: String, pass: Int,
                      traced: Boolean, out: Records): Double = {
    val start = System.nanoTime()
    order.foreach { q =>
      val t0 = nowMs()
      var t1, t2, t3 = Double.NaN
      var exchanges = -1
      val err = try {
        val df = queries(q)(spark, fixture)
        t1 = nowMs()
        val executed = df.queryExecution.executedPlan
        t2 = nowMs()
        df.write.format("noop").mode("overwrite").save()
        t3 = nowMs()
        // the planned tree, never executed itself, so the count repeats
        if (traced) exchanges = countExchanges(executed)
        ""
      } catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      if (t3.isNaN) t3 = nowMs()
      out.add(s"""{"k":"exec","phase":"$phase","pass":$pass,"traced":$traced,"q":${Records.str(q)},""" +
        s""""t0":$t0,"t1":${Records.num(t1)},"t2":${Records.num(t2)},"t3":$t3,""" +
        s""""exchanges":$exchanges,"err":${Records.str(err)}}""")
    }
    (System.nanoTime() - start) / 1e9
  }

  def countExchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: Exchange => e }.size

  /** Untimed correctness step for one query: dump a fresh execution as
    * parquet for the oracle gate. */
  private def check(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
                    fixture: String, q: String, dumpDir: String, out: Records): Unit =
    try fn(spark, fixture).coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$q")
    catch {
      case NonFatal(e) =>
        out.add(s"""{"k":"check","q":${Records.str(q)},"err":${Records.str(e.toString)}}""")
    }

  /** Heap in use after full collections, so only what is reachable counts.
    * Blocks the context cleaner has yet to drop may still be counted. */
  def retainedHeapMb(): Double = {
    (1 to 2).foreach(_ => System.gc())
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def du(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
}

/** Thread-safe sink for JSON-line records, written to disk at the end. */
final class Records(path: String) {
  private val lines = new ConcurrentLinkedQueue[String]()
  def add(line: String): Unit = lines.add(line)
  def close(): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try lines.asScala.foreach(w.println) finally w.close()
  }
}

object Records {
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Spark jobs, stages and tasks as the scheduler reports them. */
final class Recorder(out: Records) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    out.add(s"""{"k":"job","id":${e.jobId},"t":${e.time},"stages":[${e.stageIds.mkString(",")}]}""")
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    out.add(s"""{"k":"job_end","id":${e.jobId},"t":${e.time}}""")
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    out.add(s"""{"k":"stage","id":${s.stageId},"attempt":${s.attemptNumber()},""" +
      s""""t0":${s.submissionTime.getOrElse(0L)},"t1":${s.completionTime.getOrElse(0L)},""" +
      s""""tasks":${s.numTasks},"failed":${s.failureReason.isDefined}}""")
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    out.add(s"""{"k":"task","stage":${e.stageId},"t0":${i.launchTime},"t1":${i.finishTime},""" +
      s""""ok":${i.successful},"run_ms":${g(_.executorRunTime)},"cpu_ns":${g(_.executorCpuTime)},""" +
      s""""gc_ms":${g(_.jvmGCTime)},"deser_ms":${g(_.executorDeserializeTime)},""" +
      s""""sw":${g(_.shuffleWriteMetrics.bytesWritten)},"sr":${g(_.shuffleReadMetrics.totalBytesRead)},""" +
      s""""fw_ms":${g(_.shuffleReadMetrics.fetchWaitTime)},""" +
      s""""spill":${g(t => t.memoryBytesSpilled + t.diskBytesSpilled)},""" +
      s""""in":${g(_.inputMetrics.bytesRead)},"out":${g(_.outputMetrics.bytesWritten)}}""")
  }
}

/** Structured Streaming micro-batches, timed by the engine's own progress. */
final class StreamRecorder(out: Records) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val stateRows = p.stateOperators.map(_.numRowsTotal).sum
    val end = java.time.Instant.parse(p.timestamp).toEpochMilli + d("triggerExecution")
    out.add(s"""{"k":"batch","t1":$end,"dur_ms":${d("triggerExecution")},""" +
      s""""wal_ms":${d("walCommit")},"plan_ms":${d("queryPlanning")},"state_rows":$stateRows}""")
  }
}

/** Writes the declared queries, in declared order, as a JSON object mapping
  * each name to its DuckDB oracle SQL, or null for a rows-only query. */
object Catalog {
  def main(args: Array[String]): Unit = {
    val oracles = SparkEntry.oracleSql
    val body = SparkEntry.queries.keys.map { q =>
      s"${Records.str(q)}:${oracles.get(q).map(Records.str).getOrElse("null")}"
    }.mkString("{", ",\n", "}")
    Files.writeString(Paths.get(args(0)), body)
  }
}

package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.countDistinct
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.operators.{Merges, Profiles}
import graft.sources.Tables

/** JVM side of the benchmark. One process is one fresh JVM; it prints
  * `READY` once the session is built and warmed up (the parent times
  * spawn-to-READY as set-up), then runs the workload's query list
  * closed-loop from this single thread.
  *
  * A query is timed as build (the query function, up to the DataFrame it
  * returns) plus write (materializing every output column through the
  * `noop` sink). After the first and the last timed pass, each query's
  * result is written to parquet for the oracle by a second, untimed
  * execution of the same DataFrame. Traced passes register a
  * SparkListener and a QueryExecutionListener and keep every job, stage,
  * task and planning record in memory until the pass ends; untraced passes
  * register nothing.
  */
object Client {

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  // Epoch microseconds from a monotonic clock, comparable with the
  // epoch-millisecond times Spark puts on its listener events.
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  private def nowUs: Long = anchorMs * 1000 + (System.nanoTime() - anchorNs) / 1000

  /** GraftSession.local plus the warm-up SparkEntry.entry runs
    * (per-dataset summaries joined with catalog info). SparkEntry.entry
    * reads its table from a fixed path outside the benchmark's checkout, so
    * the same steps run here over the benchmark's copy of that table; the
    * runner stops if the body of SparkEntry.entry no longer matches them. */
  private def setup(cpus: String, warmDir: String): SparkSession = {
    val spark = GraftSession.local(cpus)
    val li = Tables.lineitem(spark, warmDir)
    val summaries = Profiles.summaries(li, "l_returnflag", "l_shipdate",
      "l_extendedprice", "l_discount", "l_orderkey")
    val info = li.groupBy("l_returnflag").agg(countDistinct("l_partkey").as("n_parts"))
    Merges.joinInfo(summaries, info, "l_returnflag").count()
    spark
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Everything a traced pass observes, as JSON lines. */
  final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
    val lines = new ConcurrentLinkedQueue[String]()
    val jobsStarted = new AtomicInteger()
    val jobsEnded = new AtomicInteger()
    val qeCallbacks = new AtomicInteger()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      lines.add(s"""{"ev":"job_start","job":${e.jobId},"t":${e.time},"group":${q(group)},""" +
        s""""stages":${e.stageIds.mkString("[", ",", "]")}}""")
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lines.add(s"""{"ev":"job_end","job":${e.jobId},"t":${e.time}}""")
      jobsEnded.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      lines.add(s"""{"ev":"stage","stage":${s.stageId},"attempt":${s.attemptNumber()},""" +
        s""""submit":${s.submissionTime.getOrElse(-1L)},"end":${s.completionTime.getOrElse(-1L)},""" +
        s""""tasks":${s.numTasks},"failed":${s.failureReason.isDefined}}""")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      def mv(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
      lines.add(s"""{"ev":"task","stage":${e.stageId},"launch":${i.launchTime},"finish":${i.finishTime},""" +
        s""""ok":${i.successful},"run_ms":${mv(_.executorRunTime)},"cpu_ns":${mv(_.executorCpuTime)},""" +
        s""""gc_ms":${mv(_.jvmGCTime)},"shuffle_w":${mv(_.shuffleWriteMetrics.bytesWritten)},""" +
        s""""shuffle_r":${mv(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead)},""" +
        s""""spill":${mv(t => t.diskBytesSpilled)},"in_bytes":${mv(_.inputMetrics.bytesRead)},""" +
        s""""in_rows":${mv(_.inputMetrics.recordsRead)},"out_bytes":${mv(_.outputMetrics.bytesWritten)},""" +
        s""""out_rows":${mv(_.outputMetrics.recordsWritten)}}""")
    }
    private def onQe(name: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val start = if (ph.isEmpty) -1L else ph.values.map(_.startTimeMs).min
      val ms = Seq("analysis", "optimization", "planning")
        .map(p => s""""$p":${ph.get(p).map(_.durationMs).getOrElse(0L)}""").mkString(",")
      lines.add(s"""{"ev":"qe","name":${q(name)},"t":$start,$ms}""")
      qeCallbacks.incrementAndGet()
    }
    override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = onQe(name, qe)
    override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = onQe(name, qe)

    def attach(): Unit = {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(this)
    }

    /** Waits until every job of the pass and every write's planning record
      * has been delivered, then detaches. */
    def detach(writes: Int): Unit = {
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline &&
        (qeCallbacks.get() < writes || jobsEnded.get() < jobsStarted.get())) Thread.sleep(5)
      Thread.sleep(50)
      spark.listenerManager.unregister(this)
      spark.sparkContext.removeSparkListener(this)
    }
  }

  /** Waits (at most 10 s) until the JIT compiler has been idle for 300 ms,
    * so that compilations queued by the warm-up do not compete with the
    * first timed pass for cores. */
  private def awaitJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      quiet = if (now - last <= 1) quiet + 1 else 0
      last = now
    }
  }

  /** Files and bytes under the store root (the JVM temp dir). */
  private def storeUsage(root: Path): (Long, Long) = {
    val files = Files.walk(root).iterator().asScala.filter(p => Files.isRegularFile(p)).toSeq
    (files.size.toLong, files.map(p => Files.size(p)).sum)
  }

  /** A fresh path holding hard links to the prepared input tables, so stores and
    * memos keyed by the dataset directory start empty for every pass. */
  private def linkCopy(src: Path, dst: Path): Unit = {
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.createLink(t, p)
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = arg(args, "cpus")
    val spark = setup(cpus, arg(args, "warm"))
    println("READY")
    System.out.flush()

    val data = Paths.get(arg(args, "data"))
    val out = Paths.get(arg(args, "out"))
    val names = Files.readAllLines(Paths.get(arg(args, "queries"))).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val job = arg(args, "job") == "1"
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val storeRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    val fns = SparkEntry.queries
    Files.createDirectories(out)

    val log = new PrintWriter(out.resolve("passes.jsonl").toFile, "UTF-8")
    val events = new PrintWriter(out.resolve("events.jsonl").toFile, "UTF-8")
    var qid = 0
    var writes = 0

    /** Runs one query: builds it and materializes it through the noop sink,
      * timing both. Returns the query's record, its timed microseconds and
      * its DataFrame (None if it threw). */
    def runQuery(name: String, dir: String, tag: Boolean): (String, Long, Option[DataFrame]) = {
      qid += 1
      val sc = spark.sparkContext
      if (tag) sc.setJobGroup(s"q$qid:build", name)
      val t0 = nowUs
      var err = ""
      var analysisMs = 0L
      var t1 = t0
      var t2 = t0
      var result: Option[DataFrame] = None
      try {
        val df: DataFrame = fns(name)(spark, dir)
        t1 = nowUs
        if (tag) analysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
        if (tag) sc.setJobGroup(s"q$qid:execute", name)
        writes += 1
        df.write.format("noop").mode("overwrite").save()
        t2 = nowUs
        if (tag) sc.clearJobGroup()
        result = Some(df)
      } catch {
        case e: Throwable =>
          val now = nowUs
          if (t1 == t0) t1 = now
          if (t2 == t0) t2 = now
          err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      } finally if (tag) sc.clearJobGroup()
      (s"""{"qid":$qid,"name":${q(name)},"build0":$t0,"build1":$t1,"exec1":$t2,""" +
        s""""analysis_ms":$analysisMs,"error":${q(err)}}""", t2 - t0, result)
    }

    /** Writes each result of a pass to `check/<pass>/<name>` and the
      * oracle SQL as it stands after the pass to `check/<pass>`, untimed.
      * Some oracles embed values a query computed (e.g. a trained rotation),
      * so the SQL is read after the queries ran. A dump that throws is left
      * out; the oracle check counts the missing dump as a failure. */
    def dump(pass: Int, results: Seq[(String, Option[DataFrame])]): Unit = {
      val dir = out.resolve("check").resolve(pass.toString)
      for ((name, df) <- results; d <- df)
        try d.write.mode("overwrite").parquet(dir.resolve(name).toString)
        catch { case _: Exception => () }
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("oracle_sql.json"), names.distinct
        .flatMap(n => SparkEntry.oracleSql.get(n).map(s => s"${q(n)}:${q(s)}")).mkString("{", ",", "}"))
    }

    // The first `warmups` passes warm the JVM up, untimed. Timed passes
    // follow: at least `passes` of them and at least `seconds` of timed
    // work. The results of the first and the last timed pass are dumped for
    // the oracle after the pass, untimed, so that a result that goes wrong
    // only after state was reused across passes is caught too. Without
    // `job`, every pass reads the same inputs, so memos built once serve
    // every pass. With `job`, each pass is a new job over a new path to the
    // inputs: the memos and stores, which are keyed by that path, start
    // empty. A traced run alternates
    // untraced and traced timed passes, at least three, so that it can
    // report its own overhead from passes after the first timed one.
    val warmups = arg(args, "warmups").toInt
    var timedUs = 0L
    var timedPasses = 0
    var pass = 0
    val minTimed = math.max(arg(args, "passes").toInt, if (traced) 3 else 1)
    while (timedPasses < minTimed || timedUs < seconds * 1e6) {
      val warmup = pass < warmups
      val dir = if (!job) data else {
        val d = out.resolve(s"pass$pass")
        linkCopy(data, d)
        d
      }
      val rec = if (traced && timedPasses % 2 == 1) Some(new Recorder(spark)) else None
      rec.foreach(_.attach())
      val (files0, bytes0) = storeUsage(storeRoot)
      writes = 0
      val p0 = nowUs
      val qs = names.map(n => runQuery(n, dir.toString, tag = rec.isDefined))
      val p1 = nowUs
      rec.foreach { r =>
        r.detach(writes)
        r.lines.asScala.foreach(events.println)
      }
      val (files1, bytes1) = storeUsage(storeRoot)
      log.println(s"""{"pass":$pass,"warmup":$warmup,"traced":${rec.isDefined},"t0":$p0,"t1":$p1,""" +
        s""""store_files":${files1 - files0},"store_bytes":${bytes1 - bytes0},""" +
        s""""queries":${qs.map(_._1).mkString("[", ",", "]")}}""")
      log.flush()
      if (pass == warmups - 1) awaitJit()
      if (!warmup) {
        timedUs += qs.map(_._2).sum
        timedPasses += 1
        if (timedPasses == 1 || (timedPasses >= minTimed && timedUs >= seconds * 1e6))
          dump(pass, names.zip(qs.map(_._3)))
      }
      pass += 1
    }
    // Live heap: what the heap pools held right after the last of a few
    // full collections (a pause between lets Spark's cleaner drop what the
    // previous collection released).
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    Files.writeString(out.resolve("run.json"), s"""{"heap_retained_bytes":$heap,"passes":$pass}""")
    log.close()
    events.close()
    spark.stop()
  }
}

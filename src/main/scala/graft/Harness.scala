package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal
import scala.util.{Failure, Success, Try}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Dev harness over the driver contract. Its parts — the session
  * ([[GraftSession.local]]), the warm-up ([[warmUp]]), the query selector
  * ([[select]]) and the timed region ([[run]]) — are the ones [[Bench]] and
  * [[Verify]] use, so every mode measures and plans the configuration the
  * bench measures.
  *
  * Usage: graft.Harness <mode> …
  *   micro <prefixes>                      time the selected queries in one
  *                                         fresh session; one JSON line
  *   jobs  <prefixes>                      the same, printing every Spark
  *                                         job each query runs
  *   plans <prefixes> [<outDir> <suffix>]  formatted physical plans, to
  *                                         stdout or <outDir>/<query>_<suffix>.txt
  *   synth <outDir> <copies>               salted <copies>× copy of the sf dir
  *   scale [<smoke>]                       known-answer scale smoke, see [[ScaleSmoke]]
  * <prefixes> is a comma list of query-name prefixes; a list that matches
  * no query fails.
  * Env: SPARK_GRAFT_SF_DIR (default [[DefaultSfDir]]),
  *      SPARK_GRAFT_CPUS (default 32).
  */
object Harness {

  /** The sf dir Bench and the dev modes read when SPARK_GRAFT_SF_DIR is unset. */
  val DefaultSfDir = "/root/testdata/sf0.1"

  type Query = (SparkSession, String) => DataFrame

  /** One query's timed region: wall seconds, and the action's result or
    * the error the build or the action threw. */
  final case class Outcome[A](name: String, sec: Double, result: Try[A])

  /** The queries whose names start with one of the comma-separated
    * `prefixes`, in name order; "" selects every query. */
  def select(prefixes: String): Seq[(String, Query)] = {
    val ps = prefixes.split(",", -1).toSeq
    val hit = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => ps.exists(name.startsWith) }
    require(hit.nonEmpty, s"no query name starts with any of '$prefixes'")
    hit
  }

  /** Warm codegen/JIT and the file-source paths once, so the first timed
    * query does not absorb session start-up. */
  def warmUp(spark: SparkSession): Unit =
    try SparkEntry.entry(spark).count()
    catch { case NonFatal(e) => System.err.println(s"[harness] warm-up failed: $e") }

  /** Time `body`; a throw is the outcome's failure, never a timing. Deep
    * Catalyst plans can overflow the stack, so that counts as a failed
    * query too. */
  def timed[A](name: String)(body: => A): Outcome[A] = {
    val t0 = System.nanoTime()
    val r = try Success(body)
      catch { case e @ (NonFatal(_) | _: StackOverflowError) => Failure(e) }
    Outcome(name, (System.nanoTime() - t0) / 1e9, r)
  }

  /** The timed region of one query: build plus `action`. */
  def run[A](spark: SparkSession, sfDir: String, q: (String, Query))(
      action: DataFrame => A): Outcome[A] = {
    spark.sparkContext.setJobDescription(q._1)
    timed(q._1)(action(q._2(spark, sfDir)))
  }

  /** Build, count and log every query in `qs`. */
  def countAll(spark: SparkSession, sfDir: String, qs: Seq[(String, Query)],
               tag: String): Seq[Outcome[Long]] =
    qs.map { q =>
      val o = run(spark, sfDir, q)(_.count())
      o.result match {
        case Success(n) => System.err.println(f"[$tag] ${o.name}%-28s ${o.sec}%8.2fs  rows=$n")
        case Failure(e) => System.err.println(s"[$tag] ${o.name} FAILED: $e")
      }
      o
    }

  /** Name → seconds of the outcomes that succeeded. */
  def timings(os: Seq[Outcome[_]]): Seq[(String, Double)] =
    os.collect { case o if o.result.isSuccess => o.name -> o.sec }

  def failed(os: Seq[Outcome[_]]): Seq[String] =
    os.collect { case o if o.result.isFailure => o.name }

  /** Locale-invariant fixed-point formatting: an `f"..."` interpolation
    * uses the DEFAULT locale, and a comma-decimal locale (de_DE, fr_FR…)
    * would emit `1,2345` — invalid JSON, and mis-parsed by the fork
    * parser's `[0-9.eE+-]+` value regex. */
  def num(v: Double, decimals: Int = 4): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f",
      java.lang.Double.valueOf(v))

  /** JSON array of names (query names carry no quotes or backslashes). */
  def jsonNames(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** Id offset between salted copies: far above any id in the sf tables. */
  val Salt = 1000000000L

  /** `copies` unions of `df` with `idCol` shifted by copy × [[Salt]]
    * (copy 0 keeps its ids). With `textCol`, copies after the first get a
    * per-copy suffix, so they stay near-dups instead of exact dups. */
  def salted(df: DataFrame, idCol: String, copies: Int,
             textCol: Option[String] = None): DataFrame =
    (0 until copies).map { i =>
      val d = df.withColumn(idCol, col(idCol) + lit(i * Salt))
      textCol.filter(_ => i > 0)
        .fold(d)(t => d.withColumn(t, concat(col(t), lit(s" c$i"))))
    }.reduce(_ union _)

  private def micro(spark: SparkSession, sfDir: String,
                    qs: Seq[(String, Query)]): Unit = {
    warmUp(spark)
    val out = countAll(spark, sfDir, qs, "micro")
    val ts = timings(out).map { case (n, sec) => "\"" + n + "\":" + num(sec) }
    println(s"""{"metric":"micro","queries":${ts.mkString("{", ",", "}")},""" +
      s""""failed":${jsonNames(failed(out))}}""")
  }

  private def jobs(spark: SparkSession, sfDir: String,
                   qs: Seq[(String, Query)]): Unit = {
    warmUp(spark)
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties.getProperty("spark.job.description")).getOrElse("")
        val cs = Option(j.properties.getProperty("callSite.short")).getOrElse("")
        val stages = j.stageInfos.map(si =>
          s"${si.name.takeWhile(_ != '\n').take(60)}(${si.numTasks})")
          .mkString(" <- ")
        starts.put(j.jobId,
          (System.nanoTime(), s"$cs | $desc | stages=${j.stageIds.size}: $stages"))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        // remove (not get): a dropped or raced start event must not NPE
        // the listener, and removing bounds the map
        Option(starts.remove(j.jobId)).foreach { case (t0, d) =>
          println(f"[job] ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3fs  $d")
        }
    })
    countAll(spark, sfDir, qs, "jobs")
    Thread.sleep(500) // the listener bus delivers the last job ends asynchronously
  }

  /** Formatted physical plan of each query, built in the timed region the
    * bench uses. Static explain under AQE prints `isFinalPlan=false`: the
    * shape (exchanges, join strategy, pushed filters, read schema) is what
    * these dumps pin, not runtime partition counts. */
  private[graft] def plans(spark: SparkSession, sfDir: String,
                           qs: Seq[(String, Query)],
                           out: Option[(String, String)]): Unit =
    qs.foreach { q =>
      System.err.println(s"[plans] ${q._1}")
      run(spark, sfDir, q)(_.queryExecution.explainString(FormattedMode)).result match {
        case Success(txt) => out match {
          case None => print(txt)
          case Some((dir, suffix)) =>
            Files.createDirectories(Paths.get(dir))
            Files.writeString(Paths.get(s"$dir/${q._1}_$suffix.txt"), txt)
        }
        case Failure(e) => System.err.println(s"[plans] ${q._1} FAILED: $e")
      }
    }

  /** A `copies`× scale dir for core-ratio timings (no oracle): the
    * documents, embeddings and events tables are salted copies written as
    * 32 files, so scans parallelize as a large table's would; the TPC-H
    * tables copy through once, so reference joins keep their meaning. */
  private def synth(spark: SparkSession, base: String, out: String,
                    copies: Int): Unit = {
    def write(df: DataFrame, name: String, n: Int): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[synth] $name x$n")
    }
    def read(name: String) = spark.read.parquet(s"$base/$name.parquet")
    Seq(("documents", "doc_id", Some("text")), ("embeddings", "vec_id", None),
        ("events", "event_id", None)).foreach { case (name, id, text) =>
      write(salted(read(name), id, copies, text).repartition(32), name, copies)
    }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach(n => write(read(n), n, 1))
  }

  private val Usage =
    "usage: graft.Harness micro <prefixes> | jobs <prefixes> | " +
      "plans <prefixes> [<outDir> <suffix>] | synth <outDir> <copies> | scale [<smoke>]"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)
    // built only after the arguments and the selection check out
    lazy val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    args.toList match {
      case List("micro", p) => val qs = select(p); micro(spark, sfDir, qs)
      case List("jobs", p) => val qs = select(p); jobs(spark, sfDir, qs)
      case List("plans", p) => val qs = select(p); plans(spark, sfDir, qs, None)
      case List("plans", p, dir, suffix) =>
        val qs = select(p); plans(spark, sfDir, qs, Some((dir, suffix)))
      case List("synth", out, copies) => val n = copies.toInt; synth(spark, sfDir, out, n)
      case "scale" :: name if name.size <= 1 =>
        val smoke = ScaleSmoke(name.headOption.getOrElse("10x")); smoke(spark, sfDir)
      case _ =>
        System.err.println(s"$Usage — got ${args.mkString(" ")}")
        sys.exit(2)
    }
    spark.stop()
  }
}

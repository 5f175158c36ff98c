package graft

/** Benchmark main. Emits TWO kinds of record:
  *
  * 1. stdout, LAST line (printed twice — last-occurrence parse wins, and
  *    a duplicate guards against log interleaving clipping one copy): a
  *    SLIM summary that fits any tail window,
  *    {"metric":"total","value":S,"unit":"sec","runs":N,"n":99,"sf":dir,
  *    "n_failed":0} (~150 bytes). Rounds 5–8 proved no single line
  *    carrying a 99-query map can survive a 2,000-byte tail capture: a
  *    full-name 99-query map has a ~2.5 KB floor, so the front of the
  *    line — including the opening `{"metric"` — was truncated off and
  *    the official record parsed null four rounds running, regardless of
  *    key order. The summary line carries only scalars; the per-query
  *    map moves to the committed artifact.
  *
  * 2. BENCH_LOCAL.json (repo root, committed, overwritten per run): the
  *    FULL record — same scalars plus "unstable", "failed" and the
  *    complete per-query map — pretty-printed one query per line so git
  *    diffs are readable. This is where per-query timings live now.
  *
  * The full record is ALSO printed to stdout once, BEFORE the summary
  * lines: the parent fork's parser (and any human) reads the per-query
  * map from there; if the tail window clips it, the summary line and the
  * committed artifact still carry everything.
  *
  * Round 15 adds a third stdout record between the two, for the
  * record-keeper's PER-QUERY visibility (round-14 VERDICT #1: PERF_r14
  * came back with per_query empty because the only lines carrying a
  * per-query map were long enough to be front-truncated by the tail
  * capture): `{"metric":"per_query",...,"mins":{...}}` — mins only, 4
  * decimals, ~5 KB, immediately before the slim summary lines so the
  * largest possible suffix of it lands inside any tail window and a
  * window ≥ ~6 KB keeps the whole line parseable.
  *
  * The stdout "queries" map (and "value" = its sum) is the per-query MIN
  * across the isolated forked runs — the standard noise-floor estimator.
  * Round 7 proved a trimmed median cannot survive 2/5 contended forks
  * (official q_e2e 7.54 s vs judge-fresh 2.85 s = 2.6× inflation);
  * the minimum of fresh isolated JVM runs is the honest "how fast is
  * this code" statistic under asymmetric (always-additive) host noise.
  * Trimmed medians and raw samples stay in the sidecar for spread
  * analysis.
  *
  * Raw per-run samples are NOT on the stdout line (round 6's line carried
  * them and the record-keeper's tail-capture truncated it mid-object —
  * an unparseable official record). They go to stderr and to a sidecar
  * file (SPARK_GRAFT_BENCH_SAMPLES, default
  * /tmp/graft_bench_samples.json) instead; the stdout line stays a few
  * KB so it survives any tail window.
  *
  * Isolation: repeat runs in ONE JVM proved invalid — accumulated session
  * state (persist/unpersist churn, ContextCleaner backlog, GC pressure)
  * inflated heavy queries 3–9× in round 5's medians vs a fresh single run
  * of the same code. So when SPARK_GRAFT_BENCH_RUNS > 1 (default 5) the
  * parent forks one FRESH child JVM per run (same classpath and JVM flags
  * as this process — `run / fork := true` in build.sbt makes both real)
  * and takes per-query TRIMMED medians across the isolated runs (drop
  * the min and max sample when ≥4 runs land, median of the rest — a
  * contended-window outlier run can no longer drag the median). Any
  * query whose max/min run ratio exceeds 2× is listed in "unstable"
  * (its median is host noise, not a measurement).
  * SPARK_GRAFT_BENCH_RUNS=1 runs inline, exactly the judge's fresh-run
  * cross-check.
  */
object Bench {
  import Harness.{jsonNames, num}

  /** One full pass over SparkEntry.queries in THIS JVM (fresh-session
    * semantics: callers must not reuse a session across passes). */
  private def runOnce(sfDir: String, cpus: String): Seq[Harness.Outcome[Long]] = {
    // the shared GraftSession builder: the measured configuration is the
    // shipped one
    val spark = GraftSession.local(cpus)
    Harness.warmUp(spark)
    val out = Harness.countAll(spark, sfDir, Harness.select(""), "bench")
    spark.stop()
    out
  }

  /** Queries whose max/min run ratio exceeds 2×. A 0.0 sample (skipped
    * run) gets a finite sentinel: a ratio of PositiveInfinity can't be
    * compared sanely; 999 > 2 so the query still lands in "unstable". */
  private def unstable(queries: Seq[(String, Double)],
                       samples: Map[String, Seq[Double]]): String =
    jsonNames(queries.map(_._1).filter { k =>
      val xs = samples(k)
      (if (xs.min > 0) xs.max / xs.min else if (xs.max == 0) 1.0 else 999.0) > 2.0
    })

  /** Sidecar JSON: raw per-run samples plus the trimmed medians the
    * stdout line no longer carries — written to the sidecar + stderr,
    * never to the stdout line (see the object scaladoc). */
  private def samplesJson(queries: Seq[(String, Double)],
                          samples: Map[String, Seq[Double]],
                          medians: Map[String, Double]): String = {
    val ss = queries.map { case (k, _) =>
      "\"" + k + "\":" + samples(k).map(num(_)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val ms = queries.map { case (k, _) =>
      "\"" + k + "\":" + num(medians(k))
    }.mkString("{", ",", "}")
    s"""{"samples":$ss,"medians":$ms}"""
  }

  /** The full record on one line. A query that threw is in "failed" and
    * in no timing: its elapsed time measures the exception, not the
    * query. */
  private def jsonLine(queries: Seq[(String, Double)],
                       samples: Map[String, Seq[Double]], runs: Int,
                       sfDir: String, failed: Seq[String]): String = {
    val qs = queries.map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val total = queries.map(_._2).sum
    // "queries" LAST — on the one-line form the per-query map ends the
    // line; the pretty form (BENCH_LOCAL.json) reuses the same fields.
    s"""{"metric":"total","value":${num(total)},"unit":"sec","runs":$runs,""" +
      s""""sf":"$sfDir","unstable":${unstable(queries, samples)},""" +
      s""""failed":${jsonNames(failed)},"queries":$qs}"""
  }

  /** Round-15 (VERDICT #1): a COMPACT per-query line the record-keeper's
    * tail capture can parse — mins only (the headline statistic), 4
    * decimals, ~5 KB for 173 queries, printed immediately before the
    * slim summary lines so it sits as close to the tail as possible.
    * The full record (unstable list, medians) stays in jsonLine /
    * BENCH_LOCAL.json; this line exists so PERF's per-query and scaling
    * comparisons see a complete, parseable JSON object even when the
    * earlier, longer lines are clipped. */
  private def perQueryLine(queries: Seq[(String, Double)], runs: Int,
                           sfDir: String): String = {
    val qs = queries.map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    // deliberately NO "queries" key here: forkOnce (and the driver's
    // total-line parse) identify the full record by that key, and this
    // line must never shadow it
    s"""{"metric":"per_query","unit":"sec","runs":$runs,""" +
      s""""n":${queries.size},"sf":"$sfDir","mins":$qs}"""
  }

  /** The slim summary that is the LAST stdout line: scalars only, ~150
    * bytes — guaranteed to fit the record-keeper's 2,000-byte tail window
    * whole (see the object scaladoc). Carries BOTH headline statistics:
    * "value" (per-query min across forks — the code-speed noise floor)
    * and "value_median" (per-query trimmed medians summed — the
    * expected-run statistic), so a reader of the round record can see
    * the fork variance without digging out the committed artifact.
    * Failed queries are only counted here ("n_failed"); their names are
    * on the full record. */
  private def summaryLine(queries: Seq[(String, Double)], runs: Int,
                          sfDir: String, medians: Map[String, Double],
                          nFailed: Int): String = {
    val total = queries.map(_._2).sum
    val medTotal = queries.map { case (k, _) => medians(k) }.sum
    s"""{"metric":"total","value":${num(total)},""" +
      s""""value_median":${num(medTotal)},"unit":"sec","runs":$runs,""" +
      s""""n":${queries.size},"sf":"$sfDir","n_failed":$nFailed}"""
  }

  /** Full record, pretty-printed one query per line, for the committed
    * BENCH_LOCAL.json artifact. Same fields as the one-line form, PLUS
    * the per-query trimmed medians ("medians", with "value_median" =
    * their sum): the min is the code-speed statistic (noise floor of
    * fresh isolated forks), the median the expected-run statistic —
    * committing both lets a reader separate them without re-running
    * (the raw samples stay in the sidecar). */
  private def prettyRecord(queries: Seq[(String, Double)],
                           samples: Map[String, Seq[Double]],
                           medians: Map[String, Double], runs: Int,
                           sfDir: String, failed: Seq[String]): String = {
    val total = queries.map(_._2).sum
    val medianTotal = queries.map { case (k, _) => medians(k) }.sum
    val qs = queries.map { case (k, v) => s"""    "$k": ${num(v)}""" }
      .mkString(",\n")
    val ms = queries.map { case (k, _) => s"""    "$k": ${num(medians(k))}""" }
      .mkString(",\n")
    s"""{
  "metric": "total",
  "value": ${num(total)},
  "value_median": ${num(medianTotal)},
  "unit": "sec",
  "runs": $runs,
  "n": ${queries.size},
  "sf": "$sfDir",
  "unstable": ${unstable(queries, samples)},
  "failed": ${jsonNames(failed)},
  "queries": {
$qs
  },
  "medians": {
$ms
  }
}
"""
  }

  /** Fork a fresh child JVM running one inline pass; returns its
    * per-query timings and failed queries parsed from the child's JSON
    * line. Propagates this JVM's flags (-Xmx, --add-opens, -D…) and
    * classpath verbatim. */
  private def forkOnce(run: Int, runs: Int): Option[(Map[String, Double], Seq[String])] = {
    import scala.jdk.CollectionConverters._
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")
    val pb = new ProcessBuilder(cmd.asJava)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
    pb.environment().put("SPARK_GRAFT_BENCH_RUNS", "1")
    // children must not clobber the parent's committed artifact
    pb.environment().put("SPARK_GRAFT_BENCH_LOCAL", "")
    System.err.println(s"[bench] forking isolated run $run/$runs")
    val p = pb.start()
    val outLines = scala.io.Source.fromInputStream(p.getInputStream)
      .getLines().toSeq
    val code = p.waitFor()
    // the child's LAST {"metric" line is the slim summary (no per-query
    // map) — parse the full-record line, the one carrying "queries"
    val json = outLines.reverseIterator.find(l =>
      l.startsWith("{\"metric\"") && l.contains("\"queries\""))
    if (code != 0 || json.isEmpty) {
      System.err.println(
        s"[bench] run $run FAILED (exit=$code, json=${json.isDefined}) — skipped")
      None
    } else {
      // parse the "queries" object of our own single-run format: names
      // never contain quotes/commas, values are plain doubles
      val q = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(json.get)
        .map(_.group(1)).getOrElse("")
      val pairs = "\"([^\"]+)\":([0-9.eE+-]+)".r.findAllMatchIn(q)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val failed = "\"failed\":\\[([^\\]]*)\\]".r.findFirstMatchIn(json.get)
        .toSeq.flatMap(m => "\"([^\"]+)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)))
      if (pairs.isEmpty) { System.err.println(s"[bench] run $run: empty parse — skipped"); None }
      else Some((pairs, failed))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Harness.DefaultSfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES",
      "/tmp/graft_bench_samples.json")
    // committed full-record artifact; "" disables (fork children). The
    // default resolves to the repo root when it exists so the artifact is
    // git-visible regardless of the caller's cwd.
    val localArtifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOCAL", {
      val root = java.nio.file.Paths.get("/root/repo")
      if (java.nio.file.Files.isDirectory(root)) "/root/repo/BENCH_LOCAL.json"
      else "BENCH_LOCAL.json"
    })
    // trimmed median (sidecar only): with ≥4 surviving runs drop the min
    // and max sample first — kept for spread analysis, no longer the
    // headline (2/5 contended forks defeat any median — scaladoc)
    def median(xs: Seq[Double]): Double = {
      val s0 = xs.sorted
      val s = if (s0.size >= 4) s0.slice(1, s0.size - 1) else s0
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def emit(mins: Seq[(String, Double)], bySample: Map[String, Seq[Double]],
             n: Int, failed: Seq[String]): Unit = {
      val meds = mins.map { case (k, _) => k -> median(bySample(k)) }.toMap
      val ss = samplesJson(mins, bySample, meds)
      System.err.println(s"[bench] sidecar: $ss")
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(sidecar), ss)
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] sidecar write failed: ${e.getMessage}") }
      if (localArtifact.nonEmpty) {
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get(localArtifact),
          prettyRecord(mins, bySample, meds, n, sfDir, failed))
        catch { case e: java.io.IOException =>
          System.err.println(s"[bench] BENCH_LOCAL write failed: ${e.getMessage}") }
      }
      // full record once (parent-fork parser + humans), then the compact
      // per-query mins line (the driver's per-query/scaling visibility —
      // VERDICT r14 #1), then the slim summary TWICE and LAST — the only
      // thing the tail window must keep (last occurrence wins downstream;
      // the duplicate survives one copy being clipped by interleaving)
      println(jsonLine(mins, bySample, n, sfDir, failed))
      println(perQueryLine(mins, n, sfDir))
      val slim = summaryLine(mins, n, sfDir, meds, failed.size)
      println(slim)
      println(slim)
    }
    if (runs <= 1) {
      val r = runOnce(sfDir, cpus)
      val ok = Harness.timings(r)
      emit(ok, ok.map { case (k, v) => k -> Seq(v) }.toMap, 1, Harness.failed(r))
    } else {
      val samples = (1 to runs).flatMap(forkOnce(_, runs))
      require(samples.nonEmpty, s"all $runs forked bench runs failed")
      // a query that threw in any run is failed: its other runs' timings
      // are left out with it
      val failed = samples.flatMap(_._2).distinct.sorted
      val names = (samples.head._1.keySet -- failed).toSeq.sorted
      val bySample = names.map(n => n -> samples.map(_._1(n))).toMap
      // headline: per-query MIN across the isolated forks (noise floor)
      val mins = names.map(n => n -> bySample(n).min)
      emit(mins, bySample, samples.size, failed)
    }
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name prefixes (local
    // iteration only — the driver's contract is exactly two args, and a
    // wrong arity must fail loudly, not as an index error)
    val (sfDir, outDir, only) = args match {
      case Array(sf, out)       => (sf, out, None)
      case Array(sf, out, filt) => (sf, out, Some(filt))
      case _ =>
        System.err.println(
          s"usage: graft.Verify <sfDir> <outDir> [namePrefix,...] — got ${args.length} args")
        sys.exit(2)
        return
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val selected = Harness.select(only.getOrElse(""))
    // the shared GraftSession harness builder (round-15 VERDICT #7):
    // verify runs under the SAME engine configs the bench measures, so
    // the oracle gate covers the measured configuration
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    selected.foreach { q =>
      System.err.println(s"[verify] running ${q._1}")
      Harness.run(spark, sfDir, q)(
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q._1}"))
        .result.failed.foreach(e =>
          System.err.println(s"[verify] ${q._1} failed: ${e.getMessage}"))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val names = selected.map(_._1).toSet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // a filtered dump is NOT a full correctness run: mark the outDir so a
    // driver (or human) pointed at it can't mistake the subset for the
    // complete suite — PARTIAL_RUN.txt lists every skipped query
    if (only.isEmpty) // a full run into a reused outDir clears a stale marker
      Files.deleteIfExists(Paths.get(s"$outDir/PARTIAL_RUN.txt"))
    only.foreach { filt =>
      val skipped = SparkEntry.queries.keys.toSeq.sorted.filterNot(names)
      System.err.println(
        s"[verify] PARTIAL run (filter=$filt): " +
          s"skipped ${skipped.size} queries — NOT a full correctness dump")
      Files.writeString(Paths.get(s"$outDir/PARTIAL_RUN.txt"),
        s"filter=$filt\nskipped:\n${skipped.mkString("\n")}\n")
    }
    spark.stop()
  }
}

package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check.py`).
  *
  * Run: `sbt "runMain graft.Verify <sfDir> <outDir> [query ...]"`. Names
  * given after the two directories select a subset through
  * [[Bench.selection]]; an unknown name exits with status 2 before the
  * session starts. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names = args.drop(2).toSeq
    val selected = Bench.selection(SparkEntry.queries, names) match {
      case Right(sel) => sel
      case Left(unknown) =>
        System.err.println(
          s"[verify] unknown queries: ${unknown.mkString(", ")}")
        sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shuffle partitions scale with DATA at big sf, same knob as Bench
    val spark = HarnessSession.builder(cpus,
      sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Cleanup(spark)
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[verify] memo: budget_bytes ${Memo.budget(spark)} " +
      s"pinned_bytes ${Memo.pinnedBytes(spark)} evictions ${Memo.evictions} " +
      s"rebuilds ${Memo.rebuilds} rebuild_sec ${Memo.rebuildSeconds}")
    spark.stop()
  }
}

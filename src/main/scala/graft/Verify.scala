package graft
import graft.core.Json.quote
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated query-name filter for local
    // single-query iteration (the Bench `only` convention). The driver
    // calls with two args — contract output unchanged.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    // a typo'd name would otherwise run an EMPTY sweep that exits 0 and
    // looks green — the exact silent-partial-sweep this main's failure
    // policy exists to prevent
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown queries ${unknown.toSeq.sorted.mkString(", ")} — " +
          "check SparkEntry.queries for the exact names")
    }
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // Failure policy ("no silent caps"): keep sweeping past a dead query
    // so one casualty doesn't hide the rest, but record every failure in
    // errors.json (name → message) inside the artifact dir and exit
    // nonzero at the end — a partial sweep must be machine-detectable
    // from the artifact alone, not only from a stderr line.
    val errs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .replaceAll("\\s+", " ").take(500)
        System.err.println(s"[verify] $name failed: $msg")
        errs.put(name, msg)
      }
      // drop per-query persisted frames (dedup signatures etc.) so cached
      // blocks don't accumulate across the 50+ query sweep
      spark.catalog.clearCache()
    }
    // the oracle map honors the same filter as the parquet dumps (r14,
    // ADVICE): an all-queries oracle_sql.json next to a filtered output
    // dir would make a local check.py replay report every unfiltered
    // query as a missing output instead of skipping it
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errs.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    if (errs.nonEmpty) {
      System.err.println(
        s"[verify] PARTIAL SWEEP: ${errs.size} of ${SparkEntry.queries.size} queries failed: ${errs.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}

package graftbench

/** Regenerates the golden digests the output checks compare against:
  * {{{
  * graftbench.Goldens query_mix <sf0.1 dir> <work dir>  # `name rows:hash` per query
  * graftbench.Goldens project_compile <work dir>         # `seed digest`
  * }}}
  * Each query is digested twice in one session, and a query whose two
  * digests differ is reported instead of printed. Only regenerate from a
  * commit whose query outputs pass tools/check.py (see the README). */
object Goldens {
  def main(args: Array[String]): Unit = {
    val what = args(0)
    val dir = args(1)
    val cfg = Main.Config(workload = what, data = dir,
      work = java.nio.file.Paths.get(args.last))
    java.nio.file.Files.createDirectories(cfg.work)
    val spark = Main.session(cfg)
    try what match {
      case "query_mix" =>
        val queries = graft.SparkEntry.queries
        QueryMix.names.foreach { q =>
          val t0 = System.nanoTime()
          val a = Digest.of(queries(q)(spark, dir))
          val t1 = System.nanoTime()
          queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          val b = Digest.of(queries(q)(spark, dir))
          System.err.println(f"[goldens] $q%-36s first ${(t1 - t0) / 1e9}%.2f s, noop ${(t2 - t1) / 1e9}%.2f s")
          if (a == b) println(s"$q $a")
          else System.err.println(s"[goldens] $q is not deterministic: $a then $b")
        }
      case "project_compile" =>
        println(s"${ProjectCompile.GoldenSeed} ${ProjectCompile.canonicalDigest(spark, cfg.work)}")
      case other => throw new IllegalArgumentException(s"no goldens for '$other'")
    } finally spark.stop()
  }
}

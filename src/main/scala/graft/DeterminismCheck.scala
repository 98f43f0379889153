package graft


/** Partitioning-determinism gate: every `SparkEntry.queries` entry is
  * executed twice — once at the production shuffle-partition count,
  * once at a deliberately awkward prime (changing both the exchange
  * fan-out and the task interleave) — and the two result sets must be
  * ROW-IDENTICAL (string-rendered, order as emitted; every query ends
  * in a total ORDER BY, so emitted order is part of the contract).
  *
  * This is the engine-side twin of the DuckDB oracle gate: the oracle
  * proves the VALUE is right, this proves the value does not depend on
  * HOW the cluster happened to partition — the property every md5
  * coin, struct-min tie rule, frame-ordered fold and rounded float
  * aggregate in the pack was designed for, checked wholesale instead
  * of per-op. A query whose float aggregation order leaks past its
  * rounding (or whose tie-break is incomplete) fails here by name
  * even though a single-configuration oracle run would pass.
  *
  * Usage: `sbt "runMain graft.DeterminismCheck [sfDir]"` (default
  * sf0.001 — result sizes are driver-collectable there). Prints one
  * PASS/FAIL line per query + a JSON summary; exits nonzero on any
  * mismatch. SPARK_GRAFT_DET_ONLY filters by prefix like the other
  * gates.
  */
object DeterminismCheck {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(Session.cpus(8), 32)

    val only = sys.env.get("SPARK_GRAFT_DET_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def selected(name: String) =
      only.forall(_.exists(p => name.startsWith(p)))

    def runAt(name: String, parts: Int): Seq[String] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val rows = SparkEntry.queries(name)(spark, sfDir)
          .collect().map(_.toString).toSeq
        rows
      } finally {
        Caching.release()
        spark.catalog.clearCache()
      }
    }

    var failed = List.empty[String]
    var passed = 0
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      if (selected(name)) {
        try {
          val a = runAt(name, 32)
          val b = runAt(name, 7)
          if (a == b) { passed += 1; println(s"PASS $name (${a.size} rows)") }
          else {
            failed ::= name
            val firstDiff = a.zip(b).indexWhere { case (x, y) => x != y }
            println(s"FAIL $name: rows ${a.size} vs ${b.size}, " +
              s"first diff at ${if (firstDiff < 0) "size" else firstDiff}: " +
              a.lift(firstDiff).getOrElse("-") + " vs " +
              b.lift(firstDiff).getOrElse("-"))
          }
        } catch {
          case e: Throwable =>
            failed ::= name
            println(s"FAIL $name: ${e.getMessage}")
        }
      }
    }
    println(s"""{"metric":"determinism","passed":$passed,""" +
      s""""failed":${failed.size},"failed_names":[${
        failed.sorted.map("\"" + _ + "\"").mkString(",")}]}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

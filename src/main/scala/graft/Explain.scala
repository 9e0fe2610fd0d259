package graft

/** Plan-evidence dump. EVERY declared query is explained at sf0.001:
  *
  *  - the full formatted physical plans go to `target/PLANS_full.md`
  *    (regenerable artifact — deliberately out of git; it was a
  *    13k-line per-round diff as PLANS.md);
  *  - a per-query summary table (exchanges, broadcasts, windows,
  *    top-k operator, pushdown, codegen spans) is written to
  *    `PLANS.md`, which stays reviewable in git. The load-bearing
  *    properties are ENFORCED by PlanShapeSpec — the table is the
  *    human-scale map, not the gate.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // fixed at 4 CPUs: PLANS.md's partition counts must not follow the host
    val spark = Session.local(4)
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")

    val full = new StringBuilder
    val rows = new StringBuilder
    for ((q, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val line = try {
        val p = fn(spark, d).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        full ++= s"==== $q ====\n$p\n"
        // one detail header `(N) <Op>` per physical node — count those,
        // not tree/reuse references
        def n(pat: String) = pat.r.findAllIn(p).length
        val exch = n("(?m)^\\(\\d+\\) Exchange$")
        val bc = n("(?m)^\\(\\d+\\) BroadcastExchange$")
        val win = n("(?m)^\\(\\d+\\) Window$")
        val topk = if (p.contains("TakeOrderedAndProject")) "TakeOrdered"
          else if (p.contains("TopKPerKey")) "TopKPerKey" else ""
        val push = p.contains("PushedFilters: [") &&
          !p.contains("PushedFilters: []")
        val wsc = "\\[codegen id : (\\d+)\\]".r.findAllMatchIn(p)
          .map(_.group(1).toInt).toSet.size
        val custom = Seq("GlobalIndex" -> "GlobalIndexExec",
            "TopKPerKey" -> "TopKPerKeyExec")
          .collect { case (k, v) if p.contains(k) => v }.mkString("+")
        s"| $q | $exch | $bc | $win | $topk | ${if (push) "y" else ""} | $wsc | $custom |"
      } catch { case e: Throwable =>
        s"| $q | — | — | — | — | — | — | ERROR ${e.getClass.getSimpleName} |"
      }
      rows ++= line + "\n"
      println(line)
    }

    val header =
      s"""# PLANS — per-query physical-plan summary (sf0.001, local[4])
         |
         |Generated by `sbt "runMain graft.Explain"`; the FULL formatted
         |plans for every query are written to `target/PLANS_full.md`
         |(regenerable artifact, not in git). The scale-critical plan
         |properties are enforced by PlanShapeSpec — pushed filters and
         |pruned read schemas on scans, broadcasts only on bounded sides
         |(visible BroadcastExchange on fact-table sides at sf0.001 is
         |size-based AQE, not a hint — see q3), TakeOrderedAndProject /
         |TopKPerKeyExec for every top-k, no unpartitioned windows, band-
         |bucketed candidate joins for the dedup family, the custom
         |GlobalIndexExec for global numbering. Columns: shuffle exchange
         |count, broadcast exchange count, window count (always key-
         |partitioned), top-k operator, filter pushdown reaches the scan,
         |WholeStageCodegen span count, custom Tungsten operators.
         |
         || query | exch | bcast | win | topk | push | wsc | custom |
         ||---|---|---|---|---|---|---|---|
         |""".stripMargin

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/PLANS_full.md"), full.toString)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLANS.md"), header + rows.toString)
    spark.stop()
  }
}

package graft

/** Catalog-wide PlanDoctor sweep (not part of the driver contract):
  * prints every finding at or above the requested severity for every
  * `SparkEntry` query — the command-line form of PlanAuditSpec's gate,
  * for iterating on a rule before pinning its allowlist in the spec.
  * Usage: `sbt "runMain graft.Doctor warn [queryName...]"`.
  *
  * Audits the plans of a [[GraftSession]] at `SPARK_GRAFT_CPUS`
  * (default 4, PlanAuditSpec's setting), so its findings are the gate's
  * findings, over the corpus at `SPARK_GRAFT_SF_DIR` (default sf0.01).
  */
object Doctor {
  def main(args: Array[String]): Unit = {
    val rank = Map("info" -> 0, "warn" -> 1, "error" -> 2)
    // the head is consumed as a severity ONLY when it parsed as one —
    // `runMain graft.Doctor q_cdc` sweeps just q_cdc at the default
    // severity instead of silently sweeping the whole catalog
    val sevGiven = args.headOption.exists(rank.contains)
    val min = rank(if (sevGiven) args.head else "warn")
    val only = (if (sevGiven) args.drop(1) else args).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession(GraftSession.cores(4))
    spark.sparkContext.setLogLevel("ERROR")
    // GRAFT_DOCTOR_JSON=<path>: additionally write every finding (at any
    // severity) as one JSON object per query — the committable round
    // artifact (tools/plandoctor_r<N>.json) the r19 advice asked for, so
    // rounds can DIFF findings instead of re-reading spec allowlists
    val jsonOut = sys.env.get("GRAFT_DOCTOR_JSON")
    val acc = scala.collection.mutable.ArrayBuffer.empty[String]
    def esc(s: String) =
      s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only(q._1))
      .foreach { case (name, fn) =>
        try {
          val fs = PlanDoctor.audit(fn(spark, sfDir))
          fs.filter(f => rank(f.severity) >= min)
            .foreach(f => println(s"DOCTOR $name -> $f"))
          fs.foreach(f => acc += s"""{"query":"${esc(name)}","severity":"${
            f.severity}","rule":"${esc(f.rule)}","detail":"${esc(f.detail)}"}""")
        } catch {
          case e: Exception =>
            println(s"DOCTOR $name -> AUDIT-FAIL ${e.getMessage}")
            acc += s"""{"query":"${esc(name)}","severity":"error","rule":"audit-fail","detail":"${esc(String.valueOf(e.getMessage))}"}"""
        }
      }
    jsonOut.foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        acc.mkString("[\n", ",\n", "\n]\n"))
      println(s"DOCTOR json -> $p (${acc.size} findings)")
    }
    println("DOCTOR done")
    spark.stop()
  }
}

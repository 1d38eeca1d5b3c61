package graft.plans

/** The program's one ledger walk. Every registered query, in name order,
  * is built ONCE, and that frame serves the run check and both plan
  * censuses: the three [[PlanAudit]] scale audits, then
  * [[RecomputeAudit.duplicates]] at `minCost = 2`, then execution
  * (`count`), then [[graft.Sessions.release]]. The release is audit
  * ISOLATION, not just memory hygiene: a frame one query persists during
  * construction (q268/q270/q273 cache shared components) is substituted
  * BY PLAN EQUALITY into every later query's optimized plan (q66 builds
  * the same quantized frame), hiding leaves behind InMemoryRelation and
  * silently changing that query's findings.
  *
  * The per-query pins in BenchContractSpec guard the historically weak
  * sites; this walk is how a NEW weak site in a NEW query gets noticed at
  * all. OperatorSpec's run check and AuditSweepSpec's two censuses read
  * one walk (SparkSuite.ledger); this main prints all three reports
  * (`sbt "runMain graft.plans.AuditSweep <sfDir>"`).
  *
  * Queries are built with lineage cuts ACTIVE — this audits the plan as
  * registered and executed. Iterative queries execute their bounded
  * sf0.001 loops during construction; that is the price of seeing the
  * real plan, and at the smoke scale it is cheap.
  */
object AuditSweep {
  final case class Finding(query: String, kind: String, detail: String)

  /** One query's pass: its scale-audit findings (one `build-error` finding
    * when it could not be built and audited), its duplicated subtrees of
    * cost ≥ 2, and its row count or the error that stopped it. */
  final case class Walked(query: String, findings: Seq[Finding],
      dups: Seq[RecomputeAudit.Dup], rows: Either[String, Long])

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName} " +
      String.valueOf(e.getMessage).linesIterator.take(1).mkString

  /** Any Throwable is caught: a broken query is reported by name and the
    * walk goes on. */
  def walk(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Seq[Walked] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        try {
          val df = fn(spark, sfDir)
          val findings = PlanAudit.suspectGlobalWindows(df)
            .map(w => Finding(name, "global-window", w.toString)) ++
            PlanAudit.sfProportionalBroadcasts(df)
              .map(b => Finding(name, "forced-broadcast", b.toString)) ++
            PlanAudit.unguardedHashBuilds(df)
              .map(b => Finding(name, "fixed-hash-build", b.toString))
          val dups = RecomputeAudit.duplicates(df, minCost = 2)
          Walked(name, findings, dups,
            try Right(df.count()) catch { case e: Throwable => Left(describe(e)) })
        } catch { case e: Throwable =>
          Walked(name, Seq(Finding(name, "build-error", describe(e))), Nil,
            Left(describe(e)))
        }
      } finally graft.Sessions.release(spark)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.local(graft.Sessions.cpus, "graft-audit-sweep")
    spark.sparkContext.setLogLevel("WARN")
    val walked = walk(spark, sfDir)
    walked.foreach { w =>
      w.rows.left.foreach(err => println(s"[run] ${w.query}: $err"))
      w.findings.foreach(f => println(s"[audit] ${w.query} ${f.kind}: ${f.detail}"))
      w.dups.foreach(d => println(s"[recompute] ${w.query}: ${d.occurrences}x " +
        s"${d.root} subtree with ${d.cost} shuffle-bearing ops " +
        s"[${RecomputeAudit.classify(w.query, d)}]"))
    }
    println(s"[ledger] ${walked.size} queries: " +
      s"${walked.count(_.rows.isLeft)} failed, " +
      s"${walked.count(_.rows == Right(0L))} returned 0 rows, " +
      s"${walked.map(_.findings.size).sum} audit findings, " +
      s"${walked.map(_.dups.size).sum} recompute findings (cost >=3 " +
      "unexamined ones fail AuditSweepSpec's census)")
    spark.stop()
  }
}

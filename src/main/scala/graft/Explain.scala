package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan of selected queries
  * (all by default). Usage: runMain graft.Explain [sfDir] [query ...]
  *
  * What to look for (the 100 TB checklist):
  *  - filters/projections reach the scan (PushedFilters / ReadSchema);
  *  - dimension joins say BroadcastHashJoin, fact-fact joins say
  *    SortMergeJoin/ShuffledHashJoin on the intended keys;
  *  - exchanges only where a shuffle is semantically required;
  *  - operators sit inside WholeStageCodegen spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // --nocut: build plans inside Checkpoints.withNoCut so the FULL
    // declarative tree — including subtrees normally executed eagerly
    // behind a localCheckpoint — is visible (the BenchContractSpec plan-
    // audit seam). Inspection-only: construction-time driver reads (loop
    // counts, head()) still execute, over uncut plans, so results built
    // in this mode must never be trusted, only printed.
    val (flags, rest) = args.partition(_ == "--nocut")
    val noCut = flags.nonEmpty
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (rest.length > 1) rest.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local(Sessions.cpus, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      if (n == "q04_pipeline")
        println("NOTE: q04 constructs eagerly (runs its warehouse/raw-zone " +
          "loads); the plan below is only the final read-back. Audit the " +
          "pipeline stages via ops.Pipeline.runTripPipeline directly.")
      def show(): Unit = SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      if (noCut) graft.ops.Checkpoints.withNoCut(show()) else show()
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** [[Sessions.release]] deletes the scratch dirs a query construction made
  * for itself (q04's warehouse, a stream's sink and checkpoint), and
  * leaves the staged inputs that later constructions reuse. */
class ScratchSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  /** The scratch dir a query's result is read back from. */
  private def rootOf(df: DataFrame): java.io.File = {
    val dirs = df.inputFiles.toSeq
      .map(f => new java.io.File(new java.net.URI(f)))
      .flatMap(f => Iterator.iterate(f)(_.getParentFile)
        .takeWhile(_ != null).find(_.getName.startsWith("graft-")))
      .distinct
    assert(dirs.size == 1, s"expected one scratch root, read from $dirs")
    dirs.head
  }

  /** Staged stream inputs in the temp dir (`graft-q125in<digits>`). */
  private def stagedQ125: Set[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .filter(_.matches("graft-q125in\\d+")).toSet

  test("release deletes q04's and q125's per-construction dirs; a second " +
    "q125 reuses its staged input and returns the same rows") {
    val q04 = ops.Pipeline.q04Pipeline(spark, SparkSuite.sf)
    assert(q04.count() > 0)
    val q125 = streaming.Streams.q125StreamDedup(spark, SparkSuite.sf)
    val rows = q125.collect().toSeq
    val made = Seq(rootOf(q04), rootOf(q125))
    assert(made.forall(_.isDirectory), s"no scratch dirs: $made")
    val staged = stagedQ125
    assert(staged.nonEmpty, "q125 staged no input")
    Sessions.release(spark)
    assert(made.forall(!_.exists),
      s"per-construction dirs survived release: ${made.filter(_.exists)}")
    val again = streaming.Streams.q125StreamDedup(spark, SparkSuite.sf)
    assert(again.collect().toSeq === rows)
    Sessions.release(spark)
    assert(stagedQ125 === staged,
      "the second q125 restaged its input instead of reusing it")
  }
}

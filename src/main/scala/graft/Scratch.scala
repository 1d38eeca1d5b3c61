package graft

import java.io.File
import java.nio.file.{Files, Path}

/** The program's one owner of scratch directories; one shutdown hook
  * deletes them all at JVM exit. A [[lasting]] dir is pointed at by a memo
  * or the session catalog (staged stream inputs, federated copies, the q18
  * bucketed tables, the co-purchase views). A [[perQuery]] dir holds one
  * query construction's own files (q04's warehouse, a stream's sink and
  * checkpoint): [[Sessions.release]] deletes it once the query has run. */
object Scratch {
  /** Live dirs; `true` marks a per-query one. */
  private val live = scala.collection.mutable.LinkedHashMap.empty[File, Boolean]

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    Scratch.synchronized(live.keys.toList).foreach(delete)))

  def lasting(prefix: String): Path = make(prefix, perQuery = false)

  def perQuery(prefix: String): Path = make(prefix, perQuery = true)

  private def make(prefix: String, perQuery: Boolean): Path = {
    val dir = Files.createTempDirectory(prefix)
    synchronized(live(dir.toFile) = perQuery)
    dir
  }

  /** Delete every per-query dir made so far. */
  def releaseQueryDirs(): Unit =
    synchronized {
      val done = live.collect { case (d, true) => d }.toList
      live --= done
      done
    }.foreach(delete)

  /** Delete `f` and everything under it. */
  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}

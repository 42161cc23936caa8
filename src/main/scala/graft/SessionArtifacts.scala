package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The driver's shared artifacts: checkpoints, layouts written to disk,
  * fitted models and guards that several queries of one session read
  * over one data dir. One owner keeps every lifecycle rule in one place:
  *
  *  - Key: (session UUID, dir, name). The UUID, unlike an identity hash,
  *    never aliases a new session to a dead one's entries after GC, so a
  *    `spark.newSession()` builds its own artifacts.
  *  - [[get]] builds an artifact once per key. Concurrent first callers
  *    wait for the one build and read its value. The build runs under the
  *    key's own lock, outside the map, so it may `get` another key.
  *  - [[publish]] is the producer's call (q11, q33, q52, q118, q119, q129
  *    and q133 compute fresh so their timings keep pricing the build). The
  *    new value becomes generation N; N-1 stays live, since a consumer may
  *    still hold a lazy plan on it (a released checkpoint cannot be
  *    recomputed), and N-2 is freed.
  *  - [[release]] frees every live generation of a key and drops it.
  *    Checkpoint-backed artifacts (LogicalRDD leaves) survive the
  *    `clearCache()` Bench and Verify issue between queries, so this and
  *    the N-2 rule are what free them.
  *  - An entry owns what its value holds (checkpoint blocks, directories,
  *    tables, an `MvCatalog` registration) and frees it through the `free`
  *    hook it was first built with. Directories also go at JVM exit
  *    ([[Bridge.tempDir]]).
  *  - Entries of stopped sessions are swept, and freed, on every `get`
  *    and `publish`.
  */
private[graft] object SessionArtifacts {
  private final class Entry(val session: SparkSession, val free: Any => Unit) {
    var gens: List[Any] = Nil // newest first, at most two
    def freeAll(): Unit = synchronized { gens.foreach(free); gens = Nil }
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Entry]()

  private def key(s: SparkSession, dir: String, name: String) =
    (Bridge.sessionUUID(s).getOrElse("ident-" + System.identityHashCode(s)),
      dir, name)

  private def entry[A](s: SparkSession, dir: String, name: String,
                       free: A => Unit): Entry = {
    // a stopped context already dropped its blocks and cannot run a
    // release job; its directories still go
    entries.values.removeIf { e =>
      e.session.sparkContext.isStopped && { scala.util.Try(e.freeAll()); true }
    }
    entries.computeIfAbsent(key(s, dir, name),
      _ => new Entry(s, free.asInstanceOf[Any => Unit]))
  }

  def get[A](s: SparkSession, dir: String, name: String,
             free: A => Unit = (_: A) => ())(build: => A): A = {
    val e = entry(s, dir, name, free)
    e.synchronized {
      if (e.gens.isEmpty) e.gens = List(build)
      e.gens.head.asInstanceOf[A]
    }
  }

  def publish[A](s: SparkSession, dir: String, name: String,
                 free: A => Unit = (_: A) => ())(value: A): A = {
    val e = entry(s, dir, name, free)
    val dropped = e.synchronized {
      val (keep, drop) = (value :: e.gens.filterNot(
        _.asInstanceOf[AnyRef] eq value.asInstanceOf[AnyRef])).splitAt(2)
      e.gens = keep
      drop
    }
    dropped.foreach(e.free)
    value
  }

  def release(s: SparkSession, dir: String, name: String): Unit =
    Option(entries.remove(key(s, dir, name))).foreach(_.freeAll())
}

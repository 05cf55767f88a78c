package graft.queries

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one store for what the query modules build once and serve from:
  * rollup stores, indexes, streaming replays, laid-out copies of the
  * fixture tables, trained codebooks — and the scratch dirs of
  * lifecycle queries that build fresh state per call.
  *
  * [[once]] memoizes a value per `(session, sf dir, name)`: the same key
  * returns the same artifact for the life of the session, so a repeated
  * query measures the serve path against an already-built artifact (the
  * deployment shape). The key carries no content fingerprint — the sf
  * dirs the queries read are immutable. [[tempDir]] creates a scratch
  * dir owned by the session. Both are released together: when the
  * session's `SparkContext` stops, one [[StopListener]] per context
  * deletes every dir the session owns and drops its keys.
  */
private[graft] object Artifacts {

  /** A memo slot: `build` runs at most once, outside the map's lock, so
    * a build may itself call [[once]] for another key. A build that
    * throws leaves the slot empty and the next caller retries. */
  private final class Slot(build: => Any) { lazy val value: Any = build }

  /** What one session owns: its memo slots and its scratch dirs. */
  private final class Owned {
    val slots = new ConcurrentHashMap[(String, String), Slot]()
    val dirs = new ConcurrentLinkedQueue[Path]()
  }

  private val sessions = new ConcurrentHashMap[SparkSession, Owned]()
  private val contexts = ConcurrentHashMap.newKeySet[SparkContext]()

  private def owned(s: SparkSession): Owned = {
    install(s.sparkContext)
    sessions.computeIfAbsent(s, _ => new Owned)
  }

  /** The value built by `build` for `(s, dir, name)`, built on first
    * use and reused for the life of the session. */
  def once[T](s: SparkSession, dir: String, name: String)(build: => T): T =
    owned(s).slots.computeIfAbsent((dir, name), _ => new Slot(build))
      .value.asInstanceOf[T]

  /** A fresh `java.io.tmpdir` dir named `prefix…`, deleted when the
    * session's context stops. */
  def tempDir(s: SparkSession, prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    owned(s).dirs.add(p)
    p.toString
  }

  /** Delete every dir `s` owns and forget its keys: the next [[once]]
    * for the same key builds again. This is what [[StopListener]] runs
    * for each session of a stopping context. */
  def close(s: SparkSession): Unit =
    Option(sessions.remove(s)).foreach(_.dirs.asScala.foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)))

  /** Closes the sessions of `sc` when the application ends. */
  private[graft] final class StopListener(sc: SparkContext)
      extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
      sessions.keySet.asScala.filter(_.sparkContext eq sc).foreach(close)
      contexts.remove(sc)
    }
  }

  /** Add the [[StopListener]] to `sc` (idempotent). */
  def install(sc: SparkContext): Unit =
    if (contexts.add(sc)) sc.addSparkListener(new StopListener(sc))
}

package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graft.Bridge

/** The engine's one memo registry: every value graft builds once and then
  * reuses across queries — persisted chain frames, fitted models, corpus
  * counts, table schemas, on-disk fixtures — lives here, keyed on
  * (session id, table dir, label). The key holds the session's UUID, never
  * the session object, so a memo cannot keep a session alive or hand one
  * session's frame to another.
  *
  * Reference parity: IndexR keeps its caches behind one owner per concern
  * (one ZK table manager, one segment pool — SURVEY §5) rather than one
  * private map per operator.
  *
  * What a value is decides its policy:
  *  - a DataFrame, or a tuple holding one, is unpersisted on release and
  *    counts as a chain for [[labels]] (a recount of a scalar is not a
  *    chain build worth cold-timing);
  *  - a [[TempDir]] is deleted on release;
  *  - anything else (a count, a schema) is just dropped.
  *
  * Release happens on [[invalidate]] and when the session's SparkContext
  * ends. At context end frames are dropped without an unpersist: their
  * blocks end with the context. Temp dirs still on disk at JVM exit are
  * deleted by one shutdown hook.
  *
  * Each key is built once: concurrent callers of a cold key wait on that
  * key's cell while one thread builds, and a build that throws caches
  * nothing. Only the key's own cell is locked during its build, so a build
  * may `get` other keys. A hit is one lock-free map lookup. */
object Memo {
  /** A temp directory owned by a memo value; deleted on release. */
  final class TempDir private[Memo] (val path: Path) {
    def resolve(child: String): String = path.resolve(child).toString
    // only the caller that takes the dir off the live set deletes it, so
    // context end and the exit hook never walk the same tree at once
    private[Memo] def delete(): Unit = if (liveDirs.remove(this)) {
      val walk = Files.walk(path)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  private val liveDirs = ConcurrentHashMap.newKeySet[TempDir]()
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => liveDirs.asScala.toSeq.foreach(_.delete())))

  /** A fresh temp directory for a fixture memo value. */
  def tempDir(prefix: String): TempDir = {
    exitHook
    val t = new TempDir(Files.createTempDirectory(prefix))
    liveDirs.add(t)
    t
  }

  private final case class Key(sid: String, dir: String, label: String)
  private object Unbuilt
  private def isBuilt(v: Any): Boolean = v.asInstanceOf[AnyRef] ne Unbuilt
  private final class Cell {
    @volatile var value: Any = Unbuilt
    var released = false // guarded by the cell's monitor
  }
  private val cells = new ConcurrentHashMap[Key, Cell]

  /** The value memoized under (session, dir, label); `build` makes it on a
    * miss. */
  def get[T](spark: SparkSession, dir: String, label: String)(build: => T): T = {
    val k = Key(Bridge.sessionId(spark), dir, label)
    val hit = cells.get(k)
    val v = if (hit == null) Unbuilt else hit.value
    if (isBuilt(v)) v.asInstanceOf[T]
    else {
      watch(spark.sparkContext, k.sid)
      buildOnce(k, build).asInstanceOf[T]
    }
  }

  @scala.annotation.tailrec
  private def buildOnce(k: Key, build: => Any): Any = {
    val c = cells.computeIfAbsent(k, _ => new Cell)
    val v = c.synchronized {
      // a cell released while this thread waited is gone from the map:
      // retry on a fresh one rather than build into an orphan
      if (c.released) Unbuilt
      else {
        if (!isBuilt(c.value)) c.value = build
        c.value
      }
    }
    if (isBuilt(v)) v else buildOnce(k, build)
  }

  /** Release every memo of (session, dir): frames unpersisted, fixture
    * dirs deleted, counts and schemas dropped. Call after rewriting a
    * table directory mid-session, or to time a chain build cold. */
  def invalidate(spark: SparkSession, dir: String): Unit = {
    val sid = Bridge.sessionId(spark)
    drop(k => k.sid == sid && k.dir == dir, unpersist = true)
  }

  /** The chain labels live for (session, dir): the memos whose value holds
    * a DataFrame. [[ColdDetect]] derives Bench's cold set from this. */
  def labels(spark: SparkSession, dir: String): Set[String] = {
    val sid = Bridge.sessionId(spark)
    cells.asScala.collect { case (k, c)
      if k.sid == sid && k.dir == dir && holdsFrame(c.value) => k.label
    }.toSet
  }

  private def holdsFrame(v: Any): Boolean = v match {
    case _: Dataset[_] => true
    case p: Product => p.productIterator.exists(holdsFrame)
    case _ => false
  }

  private def release(v: Any, unpersist: Boolean): Unit = v match {
    case d: Dataset[_] => if (unpersist) d.unpersist(blocking = false)
    case t: TempDir => t.delete()
    case p: Product => p.productIterator.foreach(release(_, unpersist))
    case _ => ()
  }

  private def drop(p: Key => Boolean, unpersist: Boolean): Unit =
    cells.keySet.asScala.filter(p).foreach { k =>
      val c = cells.remove(k)
      // the monitor waits out a build in flight, so its value is released
      // too instead of leaking from a cell no longer in the map
      if (c != null) c.synchronized {
        c.released = true
        release(c.value, unpersist)
      }
    }

  /** Releases the entries of every session that built a memo on one
    * SparkContext, when that context ends. One per context. */
  private[graft] final class ContextEnd extends SparkListener {
    private[graft] val sids = ConcurrentHashMap.newKeySet[String]()
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
      drop(k => sids.contains(k.sid), unpersist = false)
  }
  private val contexts = new java.util.WeakHashMap[SparkContext, ContextEnd]

  private def watch(sc: SparkContext, sid: String): Unit = contexts.synchronized {
    val end = contexts.computeIfAbsent(sc, _ => {
      val l = new ContextEnd
      sc.addSparkListener(l)
      l
    })
    end.sids.add(sid)
  }
}

package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The engine's one memo layer: the only code that decides how derived
  * state (trained codebooks, range statistics, feed stores, layouts,
  * analyzed catalogs, session clones) is keyed, built, stored and reused.
  *
  * Discipline. Derived state is an immutable block computed once per input
  * snapshot. Its [[Key]] names everything that decides its content: a
  * family, the dataset dir, the [[DatasetStamp]] of every input table
  * (file names, mtimes, sizes; taken by the key itself, so no caller can
  * leave one out) and any parameters. Code version is the [[epoch]]. A
  * rewritten input changes its stamp, so a stale entry is never served:
  * it is rebuilt. Losing any entry is safe, because every build is a pure
  * function of its key.
  *
  * Three forms, each with build-once-per-key semantics (concurrent first
  * callers wait for one build; a failed build is retried by the next
  * caller):
  *  - [[value]]: a value held in this JVM;
  *  - [[inContext]]: a value tied to one SparkContext, for state that
  *    lives in a session catalog (tables, databases, session clones).
  *    Entries of stopped contexts are dropped;
  *  - [[dir]]: a directory at `/tmp/graft_layout/<tag>/<family>`, reused
  *    by later JVMs. A marker written last beside it holds the epoch, the
  *    key and its stamps; a marker that differs, or is older than 24 h
  *    (some feeds plant wall-clock mtimes), makes the entry be deleted and
  *    rebuilt in place.
  *
  * Every family counts hits, builds and build seconds ([[counts]]);
  * `Bench` reports them in `bench_full.json`.
  */
object Memo {

  /** Memo key. Built only by [[Key.apply]], which stamps each named input
    * table; `and` adds parameters.
    */
  final class Key private[Memo] (
      val family: String, val sfDir: String,
      val stamps: Seq[String], val params: Seq[Any]) {
    def and(ps: Any*): Key = new Key(family, sfDir, stamps, params ++ ps)
    private def parts = (family, sfDir, stamps, params)
    override def equals(o: Any): Boolean = o match {
      case k: Key => k.parts == parts
      case _ => false
    }
    override def hashCode: Int = parts.##
    override def toString: String =
      (Seq(s"family=$family", s"sfDir=$sfDir") ++ stamps.map("stamp=" + _) ++
        params.map("param=" + _)).mkString("\n")
    /** Short digest of the whole key, for naming per-snapshot objects. */
    def digest: String = md5(toString).take(8)
  }

  object Key {
    def apply(family: String, sfDir: String, tables: String*): Key =
      new Key(family, sfDir, tables.map(t => s"$t=${DatasetStamp.stamp(sfDir, t)}"), Nil)
  }

  final case class Counts(hits: Long, builds: Long, buildSeconds: Double)

  private final class Counters {
    val hits, builds, buildNanos = new LongAdder
  }

  private val counters = new ConcurrentHashMap[String, Counters]()
  private def countersOf(family: String) = counters.computeIfAbsent(family, _ => new Counters)

  /** Hits, builds and build seconds per family, since JVM start. */
  def counts: Map[String, Counts] =
    counters.asScala.map { case (f, c) =>
      f -> Counts(c.hits.sum, c.builds.sum, c.buildNanos.sum / 1e9)
    }.toMap

  // outermost builds only, so a build inside a build is not charged twice
  private val outerBuildNanos = new AtomicLong
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  /** Seconds spent in builds since JVM start (nested builds counted once). */
  def buildSeconds: Double = outerBuildNanos.get / 1e9

  private def timed[V](family: String)(build: => V): V = {
    val d = depth.get
    depth.set(d + 1)
    val t0 = System.nanoTime()
    try build
    finally {
      val dt = System.nanoTime() - t0
      depth.set(d)
      if (d == 0) outerBuildNanos.addAndGet(dt)
      val c = countersOf(family)
      c.builds.increment()
      c.buildNanos.add(dt)
    }
  }

  /** One memo slot: `load` runs once, every later get counts a hit. */
  private final class Entry {
    @volatile private var done = false
    private var v: Any = _
    def get(family: String)(load: => Any): Any = {
      var loaded = false
      if (!done) synchronized {
        if (!done) { v = load; done = true; loaded = true }
      }
      if (!loaded) countersOf(family).hits.increment()
      v
    }
  }

  private val values = new ConcurrentHashMap[Key, Entry]()

  /** The value for `key`, built once per JVM. */
  def value[V](key: Key)(build: => V): V =
    values.computeIfAbsent(key, _ => new Entry)
      .get(key.family)(timed(key.family)(build)).asInstanceOf[V]

  // keyed by the SparkContext itself, never an identity hash (reusable
  // after GC); the values refer to their context, so stopped contexts are
  // swept explicitly instead of by weak keys
  private val contexts = new java.util.HashMap[SparkContext, ConcurrentHashMap[Key, Entry]]()

  /** The value for `key` under `spark`'s context, built once per context. */
  def inContext[V](spark: SparkSession, key: Key)(build: => V): V = {
    val m = contexts.synchronized {
      contexts.entrySet().removeIf(_.getKey.isStopped)
      contexts.computeIfAbsent(spark.sparkContext, _ => new ConcurrentHashMap[Key, Entry]())
    }
    m.computeIfAbsent(key, _ => new Entry)
      .get(key.family)(timed(key.family)(build)).asInstanceOf[V]
  }

  /** The directory entry for `key`: reused if a previous JVM left a
    * matching marker, else deleted and written by `write`, which gets the
    * (absent) entry path.
    */
  def dir(key: Key)(write: Path => Unit): Path =
    values.computeIfAbsent(key, _ => new Entry)
      .get(key.family)(reuseOrWrite(key, write)).asInstanceOf[Path]

  private val Root = Paths.get("/tmp/graft_layout")
  private val MaxAgeMs = 24L * 3600 * 1000

  /** `<sanitized basename>_<md5(sfDir) prefix>`: one dataset, one tag. */
  def tag(sfDir: String): String =
    Option(Paths.get(sfDir).getFileName).fold("")(_.toString)
      .replaceAll("[^a-zA-Z0-9]", "_") + "_" + md5(sfDir).take(12)

  /** Where the entry of (`sfDir`, `family`) lives, in every form. */
  def path(sfDir: String, family: String): Path = Root.resolve(tag(sfDir)).resolve(family)

  /** The entry path of `key`, emptied: for an [[inContext]] build that
    * writes the files its catalog objects point at.
    */
  def emptyPath(key: Key): Path = {
    val d = path(key.sfDir, key.family)
    if (Files.exists(d)) Fs.deleteRecursively(d)
    d
  }

  private[graft] def marker(key: Key): Path = {
    val d = path(key.sfDir, key.family)
    d.resolveSibling(d.getFileName.toString + ".memo")
  }

  private def reuseOrWrite(key: Key, write: Path => Unit): Path = {
    val d = path(key.sfDir, key.family)
    val m = marker(key)
    val text = s"epoch=$epoch\n$key\n"
    val fresh = Files.isRegularFile(m) && Files.isDirectory(d) &&
      !key.stamps.exists(_.endsWith("=unstat")) &&
      new String(Files.readAllBytes(m), UTF_8) == text &&
      System.currentTimeMillis() - Files.getLastModifiedTime(m).toMillis < MaxAgeMs
    if (fresh) countersOf(key.family).hits.increment()
    else timed(key.family) {
      Files.deleteIfExists(m)
      emptyPath(key)
      Files.createDirectories(d.getParent)
      write(d)
      Files.write(m, text.getBytes(UTF_8))
    }
    d
  }

  /** Drops the in-JVM slot of `key` (a directory entry stays on disk). */
  private[graft] def forget(key: Key): Unit = values.remove(key)

  /** Code version: a digest of graft's compiled classes and the Spark
    * version, taken once per JVM. If the classes cannot be read it is
    * unique to this JVM, so nothing on disk is reused.
    */
  lazy val epoch: String =
    try {
      val loc = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      val md = MessageDigest.getInstance("MD5")
      if (Files.isDirectory(loc)) {
        val s = Files.walk(loc)
        try s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => loc.relativize(f).toString -> f).toSeq.sortBy(_._1)
          .foreach { case (rel, f) => md.update(rel.getBytes(UTF_8)); md.update(Files.readAllBytes(f)) }
        finally s.close()
      } else md.update(Files.readAllBytes(loc))
      md.update(org.apache.spark.SPARK_VERSION.getBytes(UTF_8))
      md.digest().map(b => f"$b%02x").mkString
    } catch { case NonFatal(_) => "jvm-" + java.util.UUID.randomUUID() }

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString
}

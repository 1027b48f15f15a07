package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.DynamicVariable

/** One declared stored index: a value built from a dataset dir's
  * tables — a parquet table under a temp dir ([[Stored.table]]) or an
  * in-memory model — plus the stored indexes its build reads.
  *
  * Built at most once per `(name, dir)`: each dir has its own cell,
  * and callers racing for one cell wait on its lock while the first
  * builds. A build may read its deps (their cells have their own
  * locks, and the declarations are acyclic). A build that throws
  * leaves the cell unbuilt, so the next call retries.
  */
final class Stored[A] private (val name: String, val deps: Seq[Stored[_]],
                               build: (SparkSession, String) => A) {
  require(!deps.contains(null), s"$name: declare its deps before it")

  private final class Cell { @volatile var value: Option[A] = None }
  private val cells = new ConcurrentHashMap[String, Cell]()

  def apply(s: SparkSession, dir: String): A = {
    Stored.recorder.value.foreach(_.add(this))
    val c = cells.computeIfAbsent(dir, _ => new Cell)
    c.value.getOrElse(c.synchronized {
      c.value.getOrElse { val a = build(s, dir); c.value = Some(a); a }
    })
  }

  /** The value already built for `dir`, if any; never builds. */
  def get(dir: String): Option[A] = Option(cells.get(dir)).flatMap(_.value)
}

object Stored {

  def apply[A](name: String, deps: Stored[_]*)(
      build: (SparkSession, String) => A): Stored[A] =
    new Stored(name, deps, build)

  /** A stored table: `write(s, dir, path)` fills a fresh temp dir, and
    * the value is its path.
    */
  def table(name: String, deps: Stored[_]*)(
      write: (SparkSession, String, String) => Unit): Stored[String] =
    apply(name, deps: _*) { (s, dir) =>
      val p = tempDir("graft" + name.stripPrefix("_build"))
      write(s, dir, p)
      p
    }

  /** Every dep before its reader, ties broken by name. */
  def order(all: Seq[Stored[_]]): Seq[Stored[_]] = {
    @scala.annotation.tailrec
    def go(done: Vector[Stored[_]], rest: Seq[Stored[_]]): Vector[Stored[_]] =
      if (rest.isEmpty) done
      else rest.filter(_.deps.forall(done.contains)).minByOption(_.name) match {
        case Some(next) => go(done :+ next, rest.filterNot(_ eq next))
        case None => throw new IllegalArgumentException(
          "cyclic or unlisted deps: " + rest.map(_.name).mkString(", "))
      }
    go(Vector.empty, all)
  }

  /** `uses` plus everything their builds read, transitively. */
  def closure(uses: Iterable[Stored[_]]): Set[Stored[_]] =
    uses.iterator.flatMap(u => closure(u.deps) + u).toSet

  private val recorder =
    new DynamicVariable[Option[java.util.Set[Stored[_]]]](None)

  /** `body`'s result and every stored index it read. */
  def recording[T](body: => T): (T, Set[Stored[_]]) = {
    val seen = ConcurrentHashMap.newKeySet[Stored[_]]()
    val out = recorder.withValue(Some(seen))(body)
    (out, seen.asScala.toSet)
  }

  /** Every dir [[tempDir]] made — the stored tables' and the specs'
    * scratch dirs — deleted by one shutdown hook. The stored streams
    * are corpus-scale (the postings tables run to several times the
    * raw text), so orphaning them per bench JVM — a sweep runs several
    * SFs plus reruns — accumulates multi-GB /tmp garbage; the hook
    * bounds live disk to the running JVMs' sets. Spec dirs keep clear
    * of the `graft_spec_` prefix, which `StoredSpec` reads as its own
    * test-local stored tables'.
    */
  private val dirs = new ConcurrentLinkedQueue[java.io.File]()

  private lazy val cleanup: Unit = Runtime.getRuntime
    .addShutdownHook(new Thread(() => dirs.forEach(f => rm(f))))

  private def rm(f: java.io.File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(rm)
    f.delete(): Unit
  }

  /** A fresh temp dir named `prefix…`, deleted at JVM exit. */
  private[graft] def tempDir(prefix: String): String = {
    cleanup
    val p = java.nio.file.Files.createTempDirectory(prefix).toFile
    dirs.add(p)
    p.toString
  }

  private[graft] def tempDirs: Seq[String] =
    dirs.asScala.map(_.toString).toSeq
}

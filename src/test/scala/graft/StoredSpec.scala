package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The stored-index registry: once-only builds under concurrency,
  * retry after a failed build, and the derived build order. The
  * entries here are test-local counting builds, so no corpus is read.
  */
class StoredSpec extends AnyFunSuite {

  private val threads = 8

  /** Runs `call(i)` on `threads` threads released together. */
  private def race[A](call: Int => A): Seq[A] = {
    val barrier = new CyclicBarrier(threads)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      (0 until threads)
        .map(i => pool.submit(() => { barrier.await(); call(i) }))
        .map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow(): Unit
  }

  private def dirsOf(st: Stored[_]): Seq[String] = {
    val prefix = "graft" + st.name.stripPrefix("_build")
    Stored.tempDirs.filter(d => new java.io.File(d).getName.startsWith(prefix))
  }

  test("threads racing on one entry and dir build it once, into one temp dir") {
    val n = new AtomicInteger
    val st = Stored.table("_build_spec_once") { (_, _, _) =>
      n.incrementAndGet()
      Thread.sleep(50)
    }
    val paths = race(_ => st(null, "dir_a"))
    assert(n.get == 1)
    assert(paths.distinct == Seq(paths.head))
    assert(dirsOf(st) == Seq(paths.head))
    assert(st.get("dir_a") == Some(paths.head))
    // another dir is another cell
    assert(st.get("dir_b").isEmpty)
    st(null, "dir_b")
    assert(n.get == 2 && dirsOf(st).size == 2)
  }

  test("a build that reads its dependency: one build each under a race") {
    val nDep = new AtomicInteger
    val nTop = new AtomicInteger
    val dep = Stored("_build_spec_dep") { (_, _) =>
      nDep.incrementAndGet()
      Thread.sleep(50)
      7
    }
    val top = Stored.table("_build_spec_top", dep) { (s, dir, _) =>
      dep(s, dir)
      nTop.incrementAndGet()
      Thread.sleep(50)
    }
    // half the threads enter through the dependent, half directly
    race(i => if (i % 2 == 0) top(null, "dir_a") else dep(null, "dir_a"))
    assert(nDep.get == 1)
    assert(nTop.get == 1)
    assert(dirsOf(top).size == 1)
  }

  test("a build that throws stays unbuilt and the next call retries") {
    val n = new AtomicInteger
    val st = Stored("_build_spec_retry") { (_, _) =>
      if (n.incrementAndGet() == 1) throw new IllegalStateException("boom")
      42
    }
    intercept[IllegalStateException](st(null, "dir_a"))
    assert(st.get("dir_a").isEmpty)
    assert(st(null, "dir_a") == 42)
    assert(st(null, "dir_a") == 42)
    assert(n.get == 2)
  }

  test("order puts every dependency first and breaks ties by name") {
    val c = Stored("c") { (_, _) => () }
    val a = Stored("a", c) { (_, _) => () }
    val b = Stored("b") { (_, _) => () }
    val d = Stored("d", a, b) { (_, _) => () }
    assert(Stored.order(Seq(d, c, b, a)).map(_.name) == Seq("b", "c", "a", "d"))
    assert(Stored.closure(Seq(d)) == Set(a, b, c, d))
    intercept[IllegalArgumentException](Stored.order(Seq(a)))
  }

  test("SparkEntry.buildOrder lists every build once, each after its deps") {
    val pos = SparkEntry.buildOrder.zipWithIndex.toMap
    assert(SparkEntry.buildOrder.size == pos.size)
    assert(pos.keySet == SparkEntry.builds.keySet)
    for (st <- SparkEntry.stored; dep <- st.deps)
      assert(pos(dep.name) < pos(st.name),
        s"${dep.name} must build before ${st.name}")
    // every buildDeps entry names a build and is closed under deps
    val byName = SparkEntry.stored.map(st => st.name -> st).toMap
    for ((q, ds) <- SparkEntry.buildDeps; d <- ds) {
      assert(byName.contains(d), s"$q: unknown build $d")
      assert(byName(d).deps.forall(x => ds.contains(x.name)), s"$q: $d")
    }
  }
}

package graft

import java.io.File
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The [[ProcessCache]] contract: path spelling, one write per path,
  * per-path (not global) locking, nested `once`, retry after a failed
  * write, and deletion of every handed-out path at JVM exit. */
class ProcessCacheSpec extends AnyFunSuite {
  private val pid = ProcessHandle.current().pid()
  private def slug(dir: String) = dir.replaceAll("[^A-Za-z0-9]", "_")

  private def thread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.start()
    t
  }

  test("incstate and sigma paths keep their literal spellings") {
    val dir = "/data/sf0.01"
    assert(ProcessCache.path("incstate", s"centinc_sig_$dir") ==
      s"${sys.props("java.io.tmpdir")}/graft_incstate_" + pid + "_" +
        "centinc_sig" + "_" + slug(dir))
    assert(ProcessCache.path("sigma", dir) ==
      s"${sys.props("java.io.tmpdir")}/graft_sigma_" + pid + "_" + slug(dir))
  }

  test("8 threads on one key run the write once, and all see it finished") {
    val writes = new AtomicInteger
    val done = new java.util.concurrent.atomic.AtomicBoolean
    val start = new CountDownLatch(1)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val ts = (1 to 8).map(_ => thread {
      start.await()
      val p = ProcessCache.once("pcspec_one", "k") { _ =>
        writes.incrementAndGet()
        Thread.sleep(200)
        done.set(true)
      }
      seen.add(p -> done.get)
    })
    start.countDown()
    ts.foreach(_.join(60000))
    assert(writes.get == 1)
    assert(seen.size == 8)
    assert(seen.toArray.toSeq.forall(_ == (ProcessCache.path("pcspec_one", "k") -> true)))
  }

  test("writes to two different keys proceed together") {
    val aEntered = new CountDownLatch(1)
    val released = new CountDownLatch(1)
    @volatile var aSawRelease = false
    val a = thread {
      ProcessCache.once("pcspec_two", "a") { _ =>
        aEntered.countDown()
        aSawRelease = released.await(30, TimeUnit.SECONDS)
      }
    }
    assert(aEntered.await(30, TimeUnit.SECONDS))
    // under one global lock this call would wait for a's write, which in
    // turn waits 30 s for this write's release
    ProcessCache.once("pcspec_two", "b") { _ => released.countDown() }
    a.join(60000)
    assert(aSawRelease, "key a's write never saw key b's write run")
  }

  test("a write may call once for another key") {
    var inner = ""
    val outer = ProcessCache.once("pcspec_nest", "outer") { _ =>
      inner = ProcessCache.once("pcspec_nest", "inner")(_ => ())
    }
    assert(inner == ProcessCache.path("pcspec_nest", "inner"))
    assert(outer == ProcessCache.path("pcspec_nest", "outer"))
  }

  test("a throwing write publishes nothing, and the next call retries") {
    val writes = new AtomicInteger
    val e = intercept[IllegalStateException] {
      ProcessCache.once("pcspec_retry", "k") { _ =>
        writes.incrementAndGet()
        throw new IllegalStateException("first write fails")
      }
    }
    assert(e.getMessage == "first write fails")
    ProcessCache.once("pcspec_retry", "k")(_ => writes.incrementAndGet())
    ProcessCache.once("pcspec_retry", "k")(_ => writes.incrementAndGet())
    assert(writes.get == 2)
  }

  test("paths and their sibling entries are deleted when the JVM exits") {
    val tmp = java.nio.file.Files.createTempDirectory("pcspec_exit").toFile
    try {
      val child = new ProcessBuilder(
        s"${sys.props("java.home")}/bin/java", "-cp", sys.props("java.class.path"),
        s"-Djava.io.tmpdir=$tmp", "graft.ProcessCacheExitMain")
        .redirectErrorStream(true).start()
      val out = new java.io.BufferedReader(
        new java.io.InputStreamReader(child.getInputStream))
      val p = new File(out.readLine())
      val sibling = new File(p.getPath + "_x")
      assert(p.getParentFile == tmp)
      assert(p.isDirectory && sibling.isDirectory, "the child did not create its state")
      child.getOutputStream.close() // lets the child exit
      assert(child.waitFor(60, TimeUnit.SECONDS))
      assert(child.exitValue == 0)
      assert(!p.exists && !sibling.exists, s"left behind: ${tmp.list.mkString(", ")}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }
}

/** Child-JVM side of the exit-cleanup test: writes one cached path plus
  * a `_x` sibling, prints the path, and exits when stdin closes. */
object ProcessCacheExitMain {
  def main(args: Array[String]): Unit = {
    val p = ProcessCache.once("pcspec_exit", "k")(p => new File(p).mkdirs())
    new File(p + "_x").mkdirs()
    println(p)
    System.out.flush()
    while (System.in.read() >= 0) {}
  }
}

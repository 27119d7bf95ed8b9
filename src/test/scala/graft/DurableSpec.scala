package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.util.{Durable, TempDirs}

class DurableSpec extends AnyFunSuite {

  private def tmpRoot(prefix: String): Path =
    TempDirs.track(Files.createTempDirectory(prefix))

  test("withDirLock + write: concurrent locked increments lose no update") {
    val root = tmpRoot("durable_counter_")
    val counter = root.resolve("counter")
    Durable.write(counter, "0".getBytes(UTF_8))
    val threads = 8
    val perThread = 200
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val done = (1 to threads).map(_ => pool.submit(new Runnable {
        def run(): Unit = (1 to perThread).foreach { _ =>
          Durable.withDirLock(root) {
            val n = new String(Files.readAllBytes(counter), UTF_8).toLong
            Durable.write(counter, (n + 1).toString.getBytes(UTF_8))
          }
        }
      }))
      done.foreach(_.get())
    } finally pool.shutdown()
    assert(new String(Files.readAllBytes(counter), UTF_8).toLong ===
      threads.toLong * perThread)
  }

  test("withDirLock nests on a second root without throwing") {
    val outer = tmpRoot("durable_outer_")
    val inner = tmpRoot("durable_inner_")
    val got = Durable.withDirLock(outer) {
      Durable.withDirLock(inner) { 42 }
    }
    assert(got === 42)
    assert(Files.exists(outer.resolve(".lock")) && Files.exists(inner.resolve(".lock")))
  }

  test("write replaces the content and leaves no temp sibling behind") {
    val root = tmpRoot("durable_write_")
    val target = root.resolve("state.props")
    Durable.write(target, "old\n".getBytes(UTF_8))
    Durable.write(target, "new\n".getBytes(UTF_8))
    assert(new String(Files.readAllBytes(target), UTF_8) === "new\n")
    assert(root.toFile.list().toSeq === Seq("state.props"))
  }
}

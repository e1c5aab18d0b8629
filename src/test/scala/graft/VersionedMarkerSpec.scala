package graft

import java.io.File
import java.nio.file.Files
import java.util.ConcurrentModificationException
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

/** Commit markers and manifest chunks appear whole or not at all: a reader
  * that lists a marker can always parse it and every chunk it names.
  */
class VersionedMarkerSpec extends AnyFunSuite {

  test("a marker with no manifests, files or data field raises an error naming the file") {
    val root = Files.createTempDirectory("graft-marker-empty").toFile
    val commits = new File(root, "_commits")
    assert(commits.mkdirs())
    val marker = new File(commits, "v0.json")
    Files.write(marker.toPath, Array.emptyByteArray)
    val e = intercept[IllegalStateException](Versioned.manifest(root.getAbsolutePath, 0L))
    assert(e.getMessage.contains(marker.toString), e.getMessage)
  }

  test("racing committers never expose a marker or chunk a reader cannot parse") {
    val root = Files.createTempDirectory("graft-marker-race").toFile.getAbsolutePath
    val writers = 4
    val perWriter = 150
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val writing = new AtomicBoolean(true)
    val pool = Executors.newFixedThreadPool(2 * writers)
    // every marker names the same empty-delta chunk, so writers also race
    // that chunk's creation (the content-addressed dedupe case)
    def commitNext(): Unit = {
      var done = false
      while (!done) {
        val next = Versioned.latestVersion(root) + 1
        try { Versioned.writeMarker(root, next, Nil); done = true }
        catch { case _: ConcurrentModificationException => () }
      }
    }
    def readLatest(): Unit = {
      val v = Versioned.latestVersion(root)
      if (v >= 0) assert(Versioned.manifest(root, v).isEmpty)
    }
    try {
      val readers = (1 to writers).map { _ =>
        pool.submit(new Runnable {
          override def run(): Unit =
            while (writing.get() && failures.isEmpty)
              try readLatest() catch { case t: Throwable => failures.add(t) }
        })
      }
      val committers = (1 to writers).map { _ =>
        pool.submit(new Runnable {
          override def run(): Unit =
            try (1 to perWriter).foreach(_ => commitNext())
            catch { case t: Throwable => failures.add(t) }
        })
      }
      committers.foreach(_.get(120, TimeUnit.SECONDS))
      writing.set(false)
      readers.foreach(_.get(120, TimeUnit.SECONDS))
    } finally {
      writing.set(false)
      pool.shutdown()
    }
    assert(failures.isEmpty, failures.toArray.mkString("\n"))
    assert(Versioned.history(root) === (0L until (writers * perWriter).toLong))
    // the temp files of the publish are gone
    assert(new File(root, "_commits").list().forall(_.startsWith("v")))
    assert(new File(root, "_manifests").list().toSeq.length === 1)
  }
}

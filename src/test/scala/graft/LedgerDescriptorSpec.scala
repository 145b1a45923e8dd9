package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Ledger, Position}

/** Every ledger read closes the file it opened: a read that leaves its
  * descriptor to a GC holds one per call, and every settle reads twice. */
class LedgerDescriptorSpec extends AnyFunSuite {

  private val fdDir = Paths.get("/proc/self/fd")

  private def openOn(file: java.nio.file.Path): Int = {
    val links = Files.list(fdDir)
    try links.iterator().asScala.count { l =>
      try Files.readSymbolicLink(l) == file
      catch { case _: java.io.IOException => false } // the listing's own descriptor
    }
    finally links.close()
  }

  test("no descriptor is left on ledger.jsonl after entries, committedHead or settle") {
    assume(Files.isDirectory(fdDir), "needs /proc/self/fd")
    val dir = Files.createTempDirectory("graft_ledger_fd")
    val l = Ledger.at(dir.toString)
    val file = dir.toRealPath().resolve("ledger.jsonl")
    l.settle("r", "root", "h0", Some(Position.Cursor("ts", 0L)))(_ =>
      ("""{"rows":0}""", true))
    (1 to 20).foreach { i =>
      l.entries()
      assert(openOn(file) == 0, s"entries() #$i left a descriptor")
      l.committedHead("r", "root")
      assert(openOn(file) == 0, s"committedHead #$i left a descriptor")
      l.settle("r", "root", s"h$i", Some(Position.Cursor("ts", i.toLong)))(_ =>
        ("""{"rows":0}""", true))
      assert(openOn(file) == 0, s"settle #$i left a descriptor")
    }
  }
}

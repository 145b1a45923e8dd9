package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.contract.{ContractPolicy, RowRule}
import graft.core.{Descriptor, GraftError, Ledger, Position}
import graft.run.Runner
import graft.streaming.DrainEpoch

/** `Ledger.settle` is the one settle step: replay identity, proposal,
  * delivery, receipt verdict and commit. These guard its two outcomes
  * that must append nothing — a replay and a failed verdict's commit —
  * and what the runners built on it inherit. */
class SettleSpec extends SparkSpec {

  private val Receipt1 = """{"destination":"parquet:/d","rows":1,"content_hash":"7"}"""

  test("a failed verdict throws the one Destination error, commits nothing, leaves one dangling proposal") {
    val l = Ledger.at(tmpDir())
    val e = intercept[GraftError.Destination] {
      l.settle("r", "root", "h1", Some(Position.Cursor("ts", 1L))) { head =>
        assert(head.isEmpty)
        (Receipt1, false)
      }
    }
    assert(e.getMessage == "receipt verification failed — refusing to commit")
    assert(l.committedHead("r", "root").isEmpty)
    assert(l.danglingProposals().map(e => (e.packageHash, e.state)) == Seq(("h1", "proposed")))
    assert(l.entries().size == 1)
  }

  test("a replayed committed hash returns the prior entry, skips delivery and appends nothing") {
    val l = Ledger.at(tmpDir())
    val first = l.settle("r", "root", "h1", Some(Position.Cursor("ts", 1L)))(_ => (Receipt1, true))
    assert(!first.duplicate && first.entry.state == "committed" && first.entry.receipt.contains(Receipt1))
    // the next settle is handed the committed head; h1 is then no longer the head
    val second = l.settle("r", "root", "h2", Some(Position.Cursor("ts", 2L))) { head =>
      assert(head.contains(first.entry))
      (Receipt1, true)
    }
    assert(!second.duplicate)
    val before = l.entries()
    val replay = l.settle("r", "root", "h1", Some(Position.Cursor("ts", 9L))) { _ =>
      fail("a replayed package must not be delivered")
    }
    assert(replay.duplicate && replay.entry == first.entry)
    assert(l.entries() == before)
  }

  private def events(k: Int): DataFrame =
    spark.range(400).select(
      (col("id") * 31 + k).as("event_id"),
      timestamp_seconds(col("id") * 600 / 400 + 1700000000L + k * 300L).as("ts"),
      (col("id") * 1.5).as("value"))

  test("a re-run of DrainEpoch.drain replays: same epoch results and frontiers, no ledger entry") {
    val out = tmpDir()
    val ledger = Ledger.at(out)
    val batches = (0 until 3).map(events)
    val watermarks = batches.map(b =>
      new Timestamp(b.agg(max(col("ts"))).head().getTimestamp(0).getTime - 300000L))
    def drain() = DrainEpoch.drain(spark,
      DrainEpoch.Config("rerun", "ts", graceMs = 180000L, lagMs = 1000L, maxEpochs = 10),
      batches, watermarks, out, ledger)
    val first = drain()
    assert(first.size == 4 && first.exists(_.recaptured > 0)) // 3 epochs + the carryover flush
    assert(first.forall(_.frontierUs.isDefined))
    val entries = ledger.entries()
    assert(entries.count(_.state == "committed") == first.size)
    assert(drain() == first)
    assert(ledger.entries() == entries)
  }

  test("an Append whose prior committed receipt lacks rows or content_hash fails and commits nothing") {
    val base = tmpDir()
    val ledger = Ledger.at(base)
    val scope = Descriptor.ScopeKey.Root.render
    ledger.propose("bare", scope, "h0", None)
    ledger.commit("bare", scope, "h0", "{}")
    val cfg = Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = "bare", schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("event_id"), cursor = None,
        disposition = Descriptor.Disposition.Append),
      policy = ContractPolicy(Seq(RowRule.Range("value_range", "value", 0, 600))))
    val e = intercept[GraftError.State](
      Runner.run(spark, cfg, events(0), s"$base/pkg", s"$base/dest", ledger))
    assert(e.getMessage.contains("rows or content_hash"))
    assert(ledger.committedHead("bare", scope).map(_.packageHash).contains("h0"))
    assert(ledger.entries().count(_.state == "committed") == 1)
    // refused before landing: the destination was never written
    assert(!Files.exists(Paths.get(s"$base/dest")))
  }
}

package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import graft.core.CanonicalJson._

/** Append-only checkpoint ledger with one committed head per scope
  * (cdf: VISION.md:830-852; crates/cdf-kernel/src/checkpoint.rs;
  * SQLite store crates/cdf-state-sqlite/ — here a single-writer JSONL
  * file with atomic append + fsync, which preserves the semantics the
  * reference gets from SQLite's partial unique index: typed,
  * queryable, append-only transitions).
  *
  * Transition lattice per (resource, scope):
  *   proposed → committed (only via a verified receipt)
  *   proposed → abandoned
  * `commit` without a matching proposal, or double-commit of the same
  * proposal, is an error. Replay of an already-committed package hash
  * is acknowledged as duplicate (idempotent), not re-committed
  * (cdf conformance "replay identity, duplicate: true").
  */
final class Ledger(path: Path) {

  sealed trait State
  case object Proposed extends State
  case object Committed extends State
  case object Abandoned extends State

  final case class Entry(
      seq: Long,
      resource: String,
      scope: String,
      state: String,
      packageHash: String,
      position: Option[String],
      receipt: Option[String])

  private def renderEntry(e: Entry): String =
    render(JObj.of(
      "seq" -> JInt(e.seq),
      "resource" -> JStr(e.resource),
      "scope" -> JStr(e.scope),
      "state" -> JStr(e.state),
      "package_hash" -> JStr(e.packageHash),
      "position" -> e.position.map(JStr(_): J).getOrElse(JNull),
      "receipt" -> e.receipt.map(JStr(_): J).getOrElse(JNull)))

  def entries(): Seq[Entry] =
    if (!Files.exists(path)) Vector.empty
    else {
      scala.jdk.CollectionConverters.IteratorHasAsScala(
        Files.lines(path, StandardCharsets.UTF_8).iterator()).asScala
        .filter(_.nonEmpty)
        .map { l =>
          // structural parse (full unescape incl. \n \r \t \uXXXX),
          // symmetric with renderEntry/CanonicalJson.esc — receipts and
          // positions containing control characters round-trip exactly
          val f = objFields(parse(l))
          def str(k: String): String = f(k) match {
            case JStr(v) => v
            case other => throw new IllegalArgumentException(s"ledger field $k: $other")
          }
          def optStr(k: String): Option[String] = f.get(k) match {
            case Some(JStr(v)) => Some(v)
            case Some(JNull) | None => None
            case Some(other) => throw new IllegalArgumentException(s"ledger field $k: $other")
          }
          def long(k: String): Long = f(k) match {
            case JInt(v) => v
            case other => throw new IllegalArgumentException(s"ledger field $k: $other")
          }
          Entry(long("seq"), str("resource"), str("scope"), str("state"),
            str("package_hash"), optStr("position"), optStr("receipt"))
        }.toVector
    }

  private def append(e: Entry): Entry = synchronized {
    Files.createDirectories(path.getParent)
    Files.write(path, (renderEntry(e) + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND, StandardOpenOption.SYNC)
    e
  }

  private def nextSeq(all: Seq[Entry] = entries()): Long =
    all.lastOption.map(_.seq + 1).getOrElse(0L)

  def propose(resource: String, scope: String, packageHash: String,
      position: Option[Position]): Entry = synchronized {
    append(Entry(nextSeq(), resource, scope, "proposed", packageHash,
      position.map(p => render(p.toJson)), None))
  }

  /** The ONLY path to `committed` — requires a verified receipt
    * (cdf VISION.md:854-856). Idempotent on package hash. */
  def commit(resource: String, scope: String, packageHash: String,
      receiptJson: String): Entry = synchronized {
    // one parse of the ledger serves both the scope scan and the next seq
    val all = entries()
    val es = all.filter(e => e.resource == resource && e.scope == scope)
    if (es.exists(e => e.state == "committed" && e.packageHash == packageHash)) {
      // replay identity: duplicate commit acknowledged, not re-recorded
      es.reverse.find(e => e.state == "committed" && e.packageHash == packageHash).get
    } else {
      require(es.exists(e => e.state == "proposed" && e.packageHash == packageHash),
        s"commit without proposal: $resource/$scope/$packageHash")
      append(Entry(nextSeq(all), resource, scope, "committed", packageHash,
        es.reverse.collectFirst {
          case e if e.packageHash == packageHash && e.position.isDefined => e.position.get
        }, Some(receiptJson)))
    }
  }

  def abandon(resource: String, scope: String, packageHash: String): Entry = synchronized {
    append(Entry(nextSeq(), resource, scope, "abandoned", packageHash, None, None))
  }

  /** Rewind the scope to an earlier committed package: append-only (the
    * history of the later commits stays queryable), but the head — and
    * therefore the resume position — becomes the rewound-to entry.
    * Rewinding to a hash never committed in this scope is a State error. */
  def rewind(resource: String, scope: String, toPackageHash: String): Entry = synchronized {
    val all = entries()
    val target = all.find(e => e.resource == resource && e.scope == scope &&
      e.state == "committed" && e.packageHash == toPackageHash)
    require(target.isDefined, s"rewind target never committed: $resource/$scope/$toPackageHash")
    append(Entry(nextSeq(all), resource, scope, "rewound", toPackageHash,
      target.get.position, target.get.receipt))
  }

  /** One committed head per scope: the latest committed entry, unless a
    * later rewind redirects the head to an earlier package. */
  def committedHead(resource: String, scope: String): Option[Entry] = {
    val es = entries().filter(e => e.resource == resource && e.scope == scope)
    es.reverse.collectFirst {
      case e if e.state == "rewound" =>
        es.filter(x => x.state == "committed" && x.packageHash == e.packageHash).last
      case e if e.state == "committed" => e
    }
  }

  /** Resume position = head's recorded position (typed). */
  def resumePosition(resource: String, scope: String): Option[Position] =
    committedHead(resource, scope).flatMap(_.position).map(Position.fromJson)

  /** Dangling proposals (crash between propose and commit/abandon) —
    * the crash-matrix recovery input (cdf VISION.md:798-812). */
  def danglingProposals(): Seq[Entry] = {
    val es = entries()
    val settled = es.filter(e => e.state == "committed" || e.state == "abandoned")
      .map(e => (e.resource, e.scope, e.packageHash)).toSet
    es.filter(e => e.state == "proposed" &&
      !settled((e.resource, e.scope, e.packageHash)))
  }
}

object Ledger {
  def at(dir: String): Ledger = new Ledger(Paths.get(dir, "ledger.jsonl"))
}

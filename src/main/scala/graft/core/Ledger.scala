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
  * `commit` without a matching proposal is an error. Replay of an
  * already-committed package hash is acknowledged as duplicate
  * (idempotent), not re-committed (cdf conformance "replay identity,
  * duplicate: true").
  *
  * Outside this class, main code reaches `propose` and `commit` only
  * through [[settle]], the one settle step every runner delivers its
  * packages through.
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

  /** Outcome of [[settle]]: the package's committed entry, and whether
    * it was committed before the call (replay identity). */
  final class Settled(val entry: Entry, val duplicate: Boolean)

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
      // closed here, not at a GC: every settle reads the ledger twice
      val lines = Files.lines(path, StandardCharsets.UTF_8)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(lines.iterator()).asScala
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
      finally lines.close()
    }

  private def append(e: Entry): Entry = synchronized {
    Files.createDirectories(path.getParent)
    Files.write(path, (renderEntry(e) + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND, StandardOpenOption.SYNC)
    e
  }

  private def nextSeq(all: Seq[Entry] = entries()): Long =
    all.lastOption.map(_.seq + 1).getOrElse(0L)

  private def scoped(all: Seq[Entry], resource: String, scope: String): Seq[Entry] =
    all.filter(e => e.resource == resource && e.scope == scope)

  /** The latest committed entry of `packageHash` among one scope's entries. */
  private def committedIn(es: Seq[Entry], packageHash: String): Option[Entry] =
    es.findLast(e => e.state == "committed" && e.packageHash == packageHash)

  /** One scope's committed head: the latest committed entry, unless a
    * later rewind redirects the head to an earlier package. */
  private def headOf(es: Seq[Entry]): Option[Entry] =
    es.reverse.collectFirst {
      case e if e.state == "rewound" => committedIn(es, e.packageHash).get
      case e if e.state == "committed" => e
    }

  private def proposeAt(seq: Long, resource: String, scope: String, packageHash: String,
      position: Option[Position]): Entry =
    append(Entry(seq, resource, scope, "proposed", packageHash,
      position.map(p => render(p.toJson)), None))

  def propose(resource: String, scope: String, packageHash: String,
      position: Option[Position]): Entry = synchronized {
    proposeAt(nextSeq(), resource, scope, packageHash, position)
  }

  /** The ONLY path to `committed` — requires a verified receipt
    * (cdf VISION.md:854-856). Idempotent on package hash. */
  def commit(resource: String, scope: String, packageHash: String,
      receiptJson: String): Entry = synchronized {
    // one parse of the ledger serves both the scope scan and the next seq
    val all = entries()
    val es = scoped(all, resource, scope)
    // replay identity: duplicate commit acknowledged, not re-recorded
    committedIn(es, packageHash).getOrElse {
      require(es.exists(e => e.state == "proposed" && e.packageHash == packageHash),
        s"commit without proposal: $resource/$scope/$packageHash")
      append(Entry(nextSeq(all), resource, scope, "committed", packageHash,
        es.reverse.collectFirst {
          case e if e.packageHash == packageHash && e.position.isDefined => e.position.get
        }, Some(receiptJson)))
    }
  }

  /** The one settle step: package → destination receipt → commit (cdf
    * SURVEY §3.1 step 5, VISION.md:854-856). One synchronized read of the
    * ledger does three things: the replay check (a package already
    * committed anywhere in the scope's history returns that entry and
    * appends nothing), the committed-head lookup, and the `proposed`
    * append at `position`. `deliver(head)` then lands the package and
    * returns its receipt JSON and whether that receipt verified. A failed
    * verdict throws [[GraftError.Destination]], leaving the proposal
    * dangling; a verified receipt is committed. Two ledger parses in all. */
  def settle(resource: String, scope: String, packageHash: String, position: Option[Position])(
      deliver: Option[Entry] => (String, Boolean)): Settled = {
    val proposed = synchronized {
      val all = entries()
      val es = scoped(all, resource, scope)
      committedIn(es, packageHash).toLeft {
        proposeAt(nextSeq(all), resource, scope, packageHash, position)
        headOf(es)
      }
    }
    proposed match {
      case Left(prior) => new Settled(prior, duplicate = true)
      case Right(head) =>
        val (receipt, verified) = deliver(head)
        if (!verified) throw GraftError.Destination(
          "receipt verification failed — refusing to commit", transient = false)
        new Settled(commit(resource, scope, packageHash, receipt), duplicate = false)
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
    val target = committedIn(scoped(all, resource, scope), toPackageHash)
    require(target.isDefined, s"rewind target never committed: $resource/$scope/$toPackageHash")
    append(Entry(nextSeq(all), resource, scope, "rewound", toPackageHash,
      target.get.position, target.get.receipt))
  }

  /** One committed head per scope: the latest committed entry, unless a
    * later rewind redirects the head to an earlier package. */
  def committedHead(resource: String, scope: String): Option[Entry] =
    headOf(scoped(entries(), resource, scope))

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

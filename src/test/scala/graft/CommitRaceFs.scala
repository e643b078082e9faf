package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}

/** `file://` semantics under a `racefs://` scheme whose lakehouse commit
  * renames (a staged `_log/_tmp-*` dir into a `_log/vNNNNNNNNNN` slot) a
  * spec can interfere with, once, from test code:
  *
  *  - [[CommitRaceFs.Race]] runs a second writer's commit just before the
  *    rename, so the rename finds the slot taken;
  *  - [[CommitRaceFs.Ambiguous]] applies the rename, runs its callback on
  *    the landed version dir, and then reports `FileAlreadyExistsException`
  *    (an HDFS rename whose reply was lost).
  *
  * Call [[CommitRaceFs.register]] once on the Hadoop conf. */
class CommitRaceFs extends RawLocalFileSystem {
  override def getScheme: String = "racefs"
  override def getUri: URI = URI.create("racefs:///")
}

object CommitRaceFs {
  sealed trait Interference
  final case class Race(otherWriter: () => Unit) extends Interference
  final case class Ambiguous(landed: Path => Unit) extends Interference

  private val next = new AtomicReference[Option[Interference]](None)

  /** Arms `i` for the next version-slot rename. */
  def arm(i: Interference): Unit = next.set(Some(i))

  /** Drops an interference that has not fired. */
  def disarm(): Unit = next.set(None)

  private[graft] def take(): Option[Interference] = next.getAndSet(None)

  def register(conf: Configuration): Unit = {
    conf.set("fs.racefs.impl", classOf[CommitRaceFs].getName)
    conf.set("fs.AbstractFileSystem.racefs.impl",
      classOf[CommitRaceAbstractFs].getName)
  }

  private val Slot = "^v\\d{10}$".r
  private[graft] def isSlot(p: Path): Boolean =
    Slot.findFirstIn(p.getName).isDefined
}

/** The `FileContext` binding for `racefs://` (commit renames run through
  * `FileContext`, which resolves `AbstractFileSystem` impls). */
class CommitRaceAbstractFs(uri: URI, conf: Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      uri, new CommitRaceFs, conf, "racefs", false) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    (if (CommitRaceFs.isSlot(dst)) CommitRaceFs.take() else None) match {
      case Some(CommitRaceFs.Race(otherWriter)) =>
        otherWriter()
        super.renameInternal(src, dst, overwrite)
      case Some(CommitRaceFs.Ambiguous(landed)) =>
        super.renameInternal(src, dst, overwrite)
        landed(dst)
        throw new FileAlreadyExistsException(s"rename reply lost: $dst")
      case None => super.renameInternal(src, dst, overwrite)
    }
}

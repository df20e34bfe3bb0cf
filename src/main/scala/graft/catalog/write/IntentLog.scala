package graft.catalog.write

import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import org.apache.spark.internal.Logging

import graft.catalog.{DvMeta, GraftIO, MetaStore, Snapshots, TableMeta}

/** The crash protocol of every file-moving statement: one INTENT RECORD
  * under the table's `_graft_txn` dir, one commit marker, one repair.
  *
  * Files come first and the descriptor last (the reference's two-phase
  * commit), so a writer killed in between leaves files the descriptor
  * does not describe. Before its first file mutation, a statement
  * persists what it is about to do as `_graft_txn/<token>.pending`
  * (tmp + rename: a record is whole or absent). Its tagged lines:
  *
  *  - `D`/`W`: dirs to reconcile — a copy-on-write rewrite's scanned
  *    dirs, and the write-target dirs of every statement;
  *  - `F`: files to delete after the commit (the COW old files);
  *  - `K`: files that must survive (pre-existing files of `W` dirs);
  *  - `M from to`: moves run before the commit point (a dynamic
  *    overwrite's retirements, a snapshot rollback's renames);
  *  - `DV`: the deletion-vector dir the statement created;
  *  - `DVMETA`: the [[DvMeta]] to register;
  *  - `TMP`: scratch dirs to drop;
  *  - `META`: the pre-statement descriptor (rollback only).
  *
  * The marker `<token>.committed` is THE commit point. It is created
  * right after the FS commit publishes the statement's files; the
  * record is deleted strictly BEFORE the marker, so a record never
  * outlives its marker (an orphan marker is inert, vacuum reclaims it).
  * [[repair]] runs under the table's write permit at every job start,
  * at read time and at every rollback start, and resolves each record:
  *
  *  - marker present → roll FORWARD: retire `F`, then ONE publish
  *    registers `DVMETA` if the descriptor lacks it and records the
  *    statement as the lineage head (its kind, its token) unless a
  *    retained snapshot already carries the token; drop `TMP`, remove
  *    the record. A crash anywhere after the marker so leaves the
  *    statement at the lineage head, its retirements resolvable;
  *  - marker absent → roll BACK: delete every data file of `D`∪`W` that
  *    the record does not list (`F`, `K` or a move's `from` — the crashed
  *    statement's possibly partial output), delete `DV`, undo `M` in
  *    reverse order (each move only where `to` exists and `from` does
  *    not), restore `META`, drop `TMP`, remove the record.
  *
  * So to the next writer or reader a statement fully happened or never
  * happened. A dynamic overwrite is rolled back WHOLE when it dies
  * between its partition swap and the marker (its written dirs lose the
  * new files and get the retired ones back); a dynamic overwrite that
  * replaces no file writes no record, like an append. A snapshot
  * rollback never marks its record: it deletes it after its snapshot is
  * recorded, and any earlier death undoes it. The same undo runs
  * in-JVM when a statement fails before its commit point.
  *
  * Two COW rules survive from records a cleanup-order crash of older
  * writers could leave: marker-less with EVERY `F` missing means the
  * deletes already ran (roll forward); marker-less with SOME `F` missing
  * is ambiguous, so the unlisted files move (reversibly, each with a
  * `.origin` sidecar naming its restore path) into
  * `<token>.quarantine/` and the record retires as `<token>.ambiguous`
  * for an operator.
  *
  * Older formats repair through the same parser: `<token>.delta` with
  * the marker `<token>.delta.committed` (merge-on-read DML), `.rbk`
  * (rollback: `META` + `M`, never marked) and `.retire` (dynamic
  * overwrite, `R to from` lines, no marker), where a move is restored
  * only when its origin dir holds no data file. An empty record is an
  * uncommitted no-op.
  */
private[graft] object IntentLog extends Logging {

  /** What one statement is about to do (see the tags above). */
  case class Intent(
      dirs: Seq[Path] = Nil,
      writeDirs: Seq[Path] = Nil,
      deletes: Seq[Path] = Nil,
      keeps: Seq[Path] = Nil,
      moves: Seq[(Path, Path)] = Nil,
      dv: Option[Path] = None,
      dvMeta: Option[DvMeta] = None,
      tmp: Seq[Path] = Nil,
      meta: Option[TableMeta] = None) {

    def kind: String =
      if (meta.isDefined) "rollback"
      else if (moves.nonEmpty) "dynamic-overwrite"
      else if (dirs.nonEmpty || deletes.nonEmpty) "cow"
      else if (tmp.nonEmpty || dv.isDefined) "mor"
      else "empty"
  }

  /** The snapshot kind a statement of intent kind `intentKind` records —
    * the one mapping that the statement's own publish
    * ([[GraftBatchWrite]]'s commit) and the roll-forward both use. */
  def snapshotKind(intentKind: String): String = intentKind match {
    case "cow" => "rewrite-dml"
    case "mor" => "dml-mor"
    case "dynamic-overwrite" => "overwrite-dynamic"
    case k => k
  }

  /** A persisted record, its marker and what it says. */
  case class Record(file: Path, marker: Path, intent: Intent)

  private val Pending = ".pending"
  private val Marker = ".committed"
  private val LegacyMor = ".delta"
  private val LegacyRollback = ".rbk"
  private val LegacyRetire = ".retire"

  def isIntent(name: String): Boolean =
    Seq(Pending, LegacyMor, LegacyRollback, LegacyRetire).exists(name.endsWith)

  /** The marker that commits a record, None for never-marked formats. */
  def markerOf(name: String): Option[String] =
    if (name.endsWith(Pending)) Some(name.stripSuffix(Pending) + Marker)
    else if (name.endsWith(LegacyMor)) Some(name + Marker)
    else None

  def txnDir(location: String): Path = new Path(location, GraftBatchWrite.TxnDirName)

  /** The txn dir's entries; empty when it does not exist. */
  def list(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Resolved residue a vacuum may reclaim: markers whose record is gone
    * and tmp drafts. Records, live markers (repair's proof of commit)
    * and quarantine evidence stay. */
  def resolvedResidue(entries: Seq[FileStatus]): Seq[FileStatus] = {
    val live = entries.map(_.getPath.getName).filter(isIntent).flatMap(markerOf).toSet
    entries.filter { s =>
      val n = s.getPath.getName
      (n.endsWith(Marker) && !live.contains(n)) ||
        (s.isFile && n.startsWith(".") && n.endsWith(".tmp"))
    }
  }

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  private def format(i: Intent): String = {
    val sb = new StringBuilder
    def line(tag: String, fields: Any*): Unit =
      sb.append((tag +: fields.map(_.toString)).mkString("\t")).append('\n')
    i.dirs.foreach(line("D", _))
    i.writeDirs.foreach(line("W", _))
    i.deletes.foreach(line("F", _))
    i.keeps.foreach(line("K", _))
    i.moves.foreach { case (from, to) => line("M", from, to) }
    i.dv.foreach(line("DV", _))
    i.dvMeta.foreach(d =>
      line("DVMETA", d.token, d.keyColumn, d.manifest, d.keys, d.createdAtMs))
    i.tmp.foreach(line("TMP", _))
    i.meta.foreach(m => line("META", b64(MetaStore.toJson(m))))
    sb.toString
  }

  /** The one parser, for every format: `DVTMP` is the old name of `TMP`
    * and `R to from` an old dynamic-overwrite move. */
  private def parse(file: Path, text: String): Intent =
    text.split('\n').filter(_.nonEmpty).foldLeft(Intent()) { (i, l) =>
      l.split("\t", -1) match {
        case Array("D", p) => i.copy(dirs = i.dirs :+ new Path(p))
        case Array("W", p) => i.copy(writeDirs = i.writeDirs :+ new Path(p))
        case Array("F", p) => i.copy(deletes = i.deletes :+ new Path(p))
        case Array("K", p) => i.copy(keeps = i.keeps :+ new Path(p))
        case Array("M", from, to) => i.copy(moves = i.moves :+ (new Path(from) -> new Path(to)))
        case Array("R", to, from) => i.copy(moves = i.moves :+ (new Path(from) -> new Path(to)))
        case Array("DV", p) => i.copy(dv = Some(new Path(p)))
        case Array("DVMETA", token, keyCol, manifest, keys, createdAt) =>
          i.copy(dvMeta = Some(DvMeta(token, keyCol, manifest, keys.toLong, createdAt.toLong)))
        case Array("TMP" | "DVTMP", p) => i.copy(tmp = i.tmp :+ new Path(p))
        case Array("META", json) => i.copy(meta = Some(MetaStore.fromJson(
          new String(Base64.getDecoder.decode(json), StandardCharsets.UTF_8))))
        case _ => throw new java.io.IOException(s"torn intent record line in $file: $l")
      }
    }

  /** Persist a statement's record before its first file mutation. */
  def write(conf: Configuration, location: String, token: String, intent: Intent): Record = {
    val dir = txnDir(location)
    val fs = dir.getFileSystem(conf)
    val file = new Path(dir, token + Pending)
    val tmp = new Path(dir, s".$token.tmp")
    GraftIO.writeSmallFile(fs, tmp, format(intent).getBytes(StandardCharsets.UTF_8),
      overwrite = false)
    if (!fs.rename(tmp, file)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"failed to persist intent record $file")
    }
    GraftBatchWrite.ownTxnFile(file.getName)
    Record(file, new Path(dir, token + Marker), intent)
  }

  /** The commit point: one atomic create, right after the FS commit. */
  def commit(conf: Configuration, r: Record): Unit =
    GraftIO.writeSmallFile(r.marker.getFileSystem(conf), r.marker, Array.emptyByteArray,
      overwrite = false)

  /** The statement completed: drop its scratch, then the record strictly
    * before the marker. */
  def finish(conf: Configuration, r: Record): Unit = {
    r.intent.tmp.foreach(d => d.getFileSystem(conf).delete(d, true))
    val fs = r.file.getFileSystem(conf)
    fs.delete(r.file, false)
    fs.delete(r.marker, false)
    ()
  }

  /** In-JVM undo of a statement that failed before its commit point. */
  def undo(conf: Configuration, store: MetaStore, db: String, r: Record): Unit = {
    back(conf, store, db, r.intent)
    finish(conf, r)
  }

  /** Roll a committed statement forward: its `F` files retire under its
    * token (delete on external tables), and ONE publish registers its
    * `DVMETA` and records it as the lineage head — kind from the intent,
    * token from the record — so the crashed statement is the head a
    * rollback undoes, and the files it retired stay resolvable. Records
    * nothing when a retained snapshot already carries the token (the
    * crash came after the statement's own publish). */
  private def forward(conf: Configuration, store: MetaStore, db: String, meta: TableMeta,
      token: String, i: Intent): Unit = {
    i.deletes.foreach { f =>
      if (meta.external || !Snapshots.retireFile(conf, meta.location, f, token))
        f.getFileSystem(conf).delete(f, false)
    }
    Snapshots.publish(conf, store, db, meta.name, snapshotKind(i.kind), token,
        (i.dirs ++ i.writeDirs).distinct.map(_.toString)) { m =>
      if (m.snapshots.exists(s => Snapshots.readSnap(conf, s.file).exists(_.token == token))) m
      // a fresh copy even with nothing to register: the publish records
      else m.copy(deleteVectors = m.deleteVectors ++
        i.dvMeta.filterNot(dv => m.deleteVectors.exists(_.token == dv.token)))
    }
    ()
  }

  /** Data files of the record's dirs that it does not list. */
  private def unlisted(conf: Configuration, i: Intent): Seq[Path] = {
    val listed = (i.deletes ++ i.keeps ++ i.moves.map(_._1)).map(_.toString).toSet
    (i.dirs ++ i.writeDirs).distinct
      .flatMap(GraftBatchWrite.dataFiles(_, conf))
      .filterNot(f => listed.contains(f.toString))
  }

  private def back(conf: Configuration, store: MetaStore, db: String, i: Intent): Unit = {
    unlisted(conf, i).foreach(f => f.getFileSystem(conf).delete(f, false))
    i.dv.foreach(d => d.getFileSystem(conf).delete(d, true))
    i.moves.reverseIterator.foreach { case (from, to) =>
      val fs = from.getFileSystem(conf)
      if (fs.exists(to) && !fs.exists(from)) {
        fs.mkdirs(from.getParent)
        if (!fs.rename(to, from)) throw new java.io.IOException(
          s"failed to restore $to to $from; the intent record stays for a retry")
      }
    }
    i.meta.foreach(store.saveTable(db, _))
  }

  /** An old `.retire` record: a move restores only into an origin dir
    * that holds no data file (the partition swap never reached it). */
  private def legacyRetire(conf: Configuration, i: Intent): Unit = {
    val empty = scala.collection.mutable.Map.empty[Path, Boolean]
    i.moves.foreach { case (from, to) =>
      val fs = from.getFileSystem(conf)
      if (empty.getOrElseUpdate(from.getParent,
          GraftBatchWrite.dataFiles(from.getParent, conf).isEmpty) && fs.exists(to)) {
        fs.mkdirs(from.getParent)
        fs.rename(to, from)
      }
    }
  }

  /** Move the unlisted files of an ambiguous COW record into
    * `<token>.quarantine/`; true when every move succeeded. */
  private def quarantine(conf: Configuration, dir: Path, token: String, i: Intent): Boolean = {
    val fs = dir.getFileSystem(conf)
    val qDir = new Path(dir, s"$token.quarantine")
    fs.mkdirs(qDir)
    // every movable file moves this pass even if an earlier one fails
    unlisted(conf, i).map { f =>
      // the sidecar name is reserved with the data name, so a data file
      // literally named `*.origin` never clobbers another's sidecar
      var n = 0
      def tgt = new Path(qDir, s"${n}_${f.getName}")
      def side = new Path(qDir, s"${n}_${f.getName}.origin")
      while (fs.exists(tgt) || fs.exists(side)) n += 1
      // sidecar FIRST: a crash between the two leaves an inert sidecar,
      // never an unmapped quarantined file
      try {
        GraftIO.writeSmallFile(fs, side, f.toString.getBytes(StandardCharsets.UTF_8),
          overwrite = false)
        f.getFileSystem(conf).rename(f, tgt)
      } catch { case NonFatal(e) =>
        logError(s"failed to quarantine $f; the intent record stays for a retry: $e")
        false
      }
    }.forall(identity)
  }

  /** Resolve every intent record of the table — one listing of its txn
    * dir, newest record first. Runs under the table's write permit. A
    * failure propagates and keeps the record for the next repair. */
  def repair(conf: Configuration, store: MetaStore, db: String, meta: TableMeta): Unit = {
    val dir = txnDir(meta.location)
    val fs = dir.getFileSystem(conf)
    val entries = list(fs, dir)
    val names = entries.map(_.getPath.getName).toSet
    entries.filter(s => isIntent(s.getPath.getName))
      .sortBy(-_.getModificationTime).foreach { st =>
        val file = st.getPath
        val name = file.getName
        val token = name.take(name.indexOf('.'))
        val text = GraftIO.readSmallFile(fs, file).getOrElse("")
        val i = parse(file, text)
        val marker = markerOf(name).map(new Path(dir, _))
        val missing = i.deletes.count(f => !f.getFileSystem(conf).exists(f))
        val outcome =
          if (name.endsWith(LegacyRetire)) { legacyRetire(conf, i); Some("legacy-retire") }
          else if (marker.exists(m => names.contains(m.getName)) ||
              (i.deletes.nonEmpty && missing == i.deletes.size)) {
            forward(conf, store, db, meta, token, i); Some("forward")
          } else if (missing > 0) {
            if (quarantine(conf, dir, token, i)) {
              GraftIO.writeSmallFile(fs, new Path(dir, s"$token.ambiguous"),
                text.getBytes(StandardCharsets.UTF_8), overwrite = true)
              Some(s"quarantined under $token.quarantine ($missing of " +
                s"${i.deletes.size} old files missing; kept as $token.ambiguous)")
            } else None
          } else { back(conf, store, db, i); Some("back") }
        outcome.foreach { o =>
          i.tmp.foreach(d => d.getFileSystem(conf).delete(d, true))
          fs.delete(file, false)
          marker.foreach(fs.delete(_, false))
          logWarning(s"repaired crashed ${i.kind} statement $token on $db.${meta.name}: $o")
        }
      }
  }
}

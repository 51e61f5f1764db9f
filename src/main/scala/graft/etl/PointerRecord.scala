package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The one-object pointer record both commit protocols share: the table
  * manifest ([[ManifestCommit]]: `<base>__manifest` holding `v<N>\n`,
  * generation dirs `<base>__v<N>`) and the exactly-once ledger
  * ([[graft.streaming.ExactlyOnce]]: `<base>__stream_commits` holding
  * `b<N>\n`, generation dirs `<base>__b<N>`). A writer stages generation
  * `N` in full, then commits by overwriting the record in ONE PUT —
  * atomic and strongly consistent on an object store, so a reader sees
  * the old number or the new one, never a mix.
  *
  * The tag letter and the trailing newline are begin/end markers: a torn
  * write that persists a proper PREFIX of the record (`v1` of `v12\n`) is
  * detected as torn instead of read as a smaller valid number. What a
  * READER does with a torn record is each protocol's policy (table reads
  * throw; index ledgers fall back to the highest staged generation);
  * [[recommitHighest]] is the durable repair both WRITERS share.
  *
  * `width` is the generation dirs' zero-padding, `first` the smallest
  * valid number, and `fix` the recovery guidance a torn record reports. */
private[graft] final class PointerRecord(tag: Char, name: String, width: Int, first: Long,
    fix: String) {
  import PointerRecord._

  def path(base: HPath): HPath = new HPath(base.getParent, s"${base.getName}__$name")

  def dir(base: HPath, n: Long): HPath =
    new HPath(base.getParent, s"${base.getName}__$tag" + s"%0${width}d".format(n))

  /** The number a complete `<tag><digits>\n` record holds; None when torn. */
  def parse(raw: String): Option[Long] =
    if (raw.length >= 3 && raw.head == tag && raw.last == '\n') {
      val body = raw.substring(1, raw.length - 1)
      if (body.forall(_.isDigit)) body.toLongOption.filter(_ >= first) else None
    } else None

  /** The raw record, if one exists. */
  def read(fs: FileSystem, base: HPath): Option[String] = readObject(fs, path(base))

  /** The committed number, if a record exists; throws [[TornRecordException]]
    * when it exists but is torn. */
  def current(fs: FileSystem, base: HPath): Option[Long] =
    read(fs, base).map(raw => parse(raw).getOrElse(throw torn(base, raw)))

  def torn(base: HPath, raw: String): TornRecordException =
    new TornRecordException(path(base), raw.trim, fix)

  /** Commit `n`: one PUT of the terminated record — the commit point. */
  def write(fs: FileSystem, base: HPath, n: Long): Unit =
    writeObject(fs, path(base), s"$tag$n\n")

  /** The number in `name` when it is a `<base>__<tag><digits>` dir name. */
  def number(base: HPath, name: String): Option[Long] = {
    val prefix = s"${base.getName}__$tag"
    if (name.startsWith(prefix)) name.drop(prefix.length).toLongOption else None
  }

  /** Every `<base>__<tag><digits>` sibling dir, with its number. */
  def dirs(fs: FileSystem, base: HPath): Seq[(Long, HPath)] =
    if (!fs.exists(base.getParent)) Seq.empty
    else fs.listStatus(base.getParent).toSeq.filter(_.isDirectory)
      .flatMap(s => number(base, s.getPath.getName).map(_ -> s.getPath))

  /** A writer's repair of a torn record: re-commit the highest surviving
    * generation dir (its stage completed before the torn PUT began), or
    * drop the record when no generation survives. Returns the number
    * re-committed. */
  def recommitHighest(fs: FileSystem, base: HPath, log: String): Option[Long] = {
    val best = dirs(fs, base).map(_._1).maxOption
    best match {
      case Some(n) =>
        System.err.println(s"[$log] re-committing highest surviving generation $n")
        write(fs, base, n)
      case None =>
        System.err.println(s"[$log] no surviving generation — dropping the torn record")
        fs.delete(path(base), false)
        ()
    }
    best
  }
}

private[graft] object PointerRecord {

  /** A record that exists but does not hold a complete `<tag><N>\n`: a
    * crash between `fs.create` and `close` on a filesystem where creates
    * are visible before close (object stores flip atomically on PUT;
    * `file://` and HDFS do not). */
  final class TornRecordException(val record: HPath, raw: String, fix: String)
    extends RuntimeException(s"$record is empty, unparsable or missing its terminator " +
      s"('$raw') — a torn commit on a non-atomic filesystem. $fix")

  /** The text of one small object, if it exists. */
  def readObject(fs: FileSystem, p: HPath): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    }

  /** Overwrite one small object: a single PUT on an object store. */
  def writeObject(fs: FileSystem, p: HPath, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }
}

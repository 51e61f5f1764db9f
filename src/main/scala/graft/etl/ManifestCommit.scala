package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Manifest/pointer commit for table rewrites — the one commit protocol
  * of [[ParquetLoader.compact]] on every filesystem. It is built for
  * object stores (s3/s3a/gs/abfs/..., where "rename" is a copy+delete, so
  * no directory swap is crash-safe) and holds on filesystems with atomic
  * rename too.
  *
  * Layout: the live data directory is either the base table dir
  * (`.../table`, no manifest — every table starts here) or a versioned
  * sibling (`.../table__v00001`) named by a tiny manifest object
  * (`.../table__manifest`) holding the current version number in the
  * shared [[PointerRecord]] format. A rewrite writes the new generation to
  * `table__v(N+1)` in full, then COMMITS by overwriting the manifest — on
  * a real object store a single-object PUT is atomic and strongly
  * consistent (S3 consistency model; the same last-file-wins commit point
  * Iceberg/Delta build on), so readers resolve either wholly-old or
  * wholly-new data, never a mix. The retired generation is deleted after
  * the flip; losing that cleanup to a crash leaves garbage, never wrong
  * results.
  *
  * Crash repair (run on entry): version dirs OTHER than the manifest's
  * current one are dead writes (higher version: crash before the flip —
  * the manifest never pointed at them) or lost cleanups (lower version /
  * leftover base dir: crash after the flip — all post-flip loads resolve
  * to the current dir, so the old one is strictly obsolete). Both delete
  * safely. There is NO window where the live directory is missing: the
  * flip IS the commit point, and loads before/after it land in the
  * generation readers resolve. Operational contract: no concurrent loads
  * DURING a compaction (rows appended to the old generation while the
  * rewrite runs are not in the new one).
  *
  * Reference behavior this serves: the reference stores its warehouse
  * on exactly such a filesystem (s3, reference src/sources/aws_cur.py:60-66)
  * and its loaders rewrite tables in place; small-files maintenance on
  * that storage class needs this commit shape.
  *
  * Naming contract: `table__manifest` and `table__vNNNNN` are RESERVED
  * sibling names — a user table whose name ends in `__vNNNNN` next to a
  * same-prefix table would be mistaken for a retired generation — don't
  * name tables that way (identifier normalization only yields a `__` pair
  * if the source name itself carries doubled separators). Concurrency
  * contract: ONE compactor per table at a time (two concurrent compacts
  * would race writes to the same next generation dir).
  */
private[etl] object ManifestCommit {

  /** A torn manifest (see [[PointerRecord.TornRecordException]]) makes
    * readers throw with this guidance; [[repair]] recovers from it. */
  private[etl] val record = new PointerRecord('v', "manifest", width = 5, first = 1,
    "Data dirs are intact; run `compact <table>` (repair runs unconditionally on " +
      "entry) to re-point the manifest at the highest surviving generation.")

  def manifestPath(base: HPath): HPath = record.path(base)

  def versionDir(base: HPath, v: Long): HPath = record.dir(base, v)

  /** Parse a LEGACY (pre-`v<N>\n`) bare-digits manifest record:
    * digits with optional trailing newline, nothing else. A candidate
    * only — the caller must additionally verify the named generation dir
    * EXISTS before trusting it, because bare digits carry no
    * end-of-record marker: a torn `1` out of `12\n` parses as 1, and the
    * existence check is the only thing separating an intact legacy
    * pointer from a truncated one (the torn prefix's dir usually being a
    * long-deleted generation). */
  private[etl] def parseLegacy(raw: String): Option[Long] = {
    val body = raw.stripSuffix("\n")
    if (body.nonEmpty && body.forall(_.isDigit) && !body.contains('\n'))
      body.toLongOption.filter(_ > 0)
    else None
  }

  /** Current committed version, if a manifest exists. A legacy
    * bare-digits record (written by pre-round-10 code) is accepted as
    * intact ONLY when it parses fully AND its generation dir exists AND
    * no strictly higher generation dir exists: bare digits carry no
    * end-of-record marker, so a torn prefix (`1` of `12\n`) whose dir
    * survives as a lost cleanup is byte-indistinguishable from an
    * intact record — when a higher generation coexists, this refuses
    * loudly (suspect-pointer path, no automated deletion; [[repair]]'s
    * cleanup never runs) instead of letting repair discard the real
    * newest generation as a dead write. A torn prefix always parses
    * strictly LOWER than the true version (a proper digit prefix has
    * fewer digits), so a legacy pointer with only lower generations
    * beside it is safe to trust. Read paths leave an accepted legacy
    * record in place (no write on read); the next commit rewrites
    * it in `v<N>\n` form. Throws [[PointerRecord.TornRecordException]]
    * on an empty/truncated/unparsable manifest. */
  def currentVersion(fs: FileSystem, base: HPath): Option[Long] =
    record.read(fs, base).map { raw =>
      record.parse(raw).getOrElse {
        val v = parseLegacy(raw).filter(v => fs.exists(versionDir(base, v)))
          .getOrElse(throw record.torn(base, raw))
        val higher = record.dirs(fs, base).map(_._1).filter(_ > v)
        if (higher.nonEmpty)
          sys.error(s"manifest ${manifestPath(base)} holds a legacy bare-digits record '$v' " +
            s"while strictly higher generation dir(s) ${higher.sorted.mkString(", ")} " +
            "exist — a torn legacy record whose generation survived a lost cleanup " +
            "is indistinguishable from an intact one, so neither resolve nor repair " +
            "will proceed (and nothing is deleted); inspect the generations and " +
            "rewrite the manifest as 'v<N>\\n' naming the true current version")
        v
      }
    }

  /** The directory readers and writers should use: the manifest's
    * version dir when committed, the base dir otherwise. Self-describing
    * — no scheme check; a table never compacted on an object store has
    * no manifest and resolves to its base dir at zero extra cost beyond
    * one existence probe. */
  def resolve(fs: FileSystem, base: HPath): HPath =
    currentVersion(fs, base).map(versionDir(base, _)).getOrElse(base)

  /** Repair interrupted rewrites; returns the live data dir. A torn
    * manifest re-commits the highest surviving generation — or deletes
    * the manifest to fall back to the base dir when none exists
    * ([[PointerRecord.recommitHighest]]) — BEFORE the cleanup pass, so
    * the table is readable again without manual intervention. Fails only
    * when an intact manifest names a directory that does not exist —
    * that is data loss from outside interference, not a crash window
    * this protocol produces. */
  def repair(fs: FileSystem, base: HPath): HPath = {
    val cur =
      try currentVersion(fs, base)
      catch {
        case torn: PointerRecord.TornRecordException =>
          System.err.println(s"[compact] ${torn.getMessage}")
          val best = record.recommitHighest(fs, base, "compact")
          if (best.isEmpty && !fs.exists(base))
            sys.error(s"compact: torn manifest ${torn.record} had no surviving " +
              s"generation and the base directory $base is also missing — no data " +
              "to fall back to; restore the table from a backup")
          best
      }
    // Verify the pointer BEFORE any deletion: when the manifest names a
    // directory that is gone, the pointer is suspect (out-of-band
    // interference) and the cleanup pass must not touch the remaining
    // generations — they may be the only surviving data.
    cur.foreach { v =>
      val live = versionDir(base, v)
      if (!fs.exists(live))
        sys.error(s"compact: manifest ${manifestPath(base)} names $live which does " +
          "not exist — the committed generation was removed out-of-band; restore it " +
          "or delete the manifest to fall back to the base directory")
    }
    record.dirs(fs, base).foreach { case (v, p) =>
      if (!cur.contains(v)) {
        System.err.println(s"[compact] discarding ${if (cur.exists(_ > v)) "stale generation" else "dead write"} $p")
        fs.delete(p, true)
      }
    }
    cur match {
      case Some(v) =>
        // leftover base dir = the first flip's lost cleanup (all loads
        // after the flip resolve to the version dir)
        if (fs.exists(base)) {
          System.err.println(s"[compact] discarding pre-manifest generation $base")
          fs.delete(base, true)
        }
        versionDir(base, v)
      case None => base
    }
  }
}

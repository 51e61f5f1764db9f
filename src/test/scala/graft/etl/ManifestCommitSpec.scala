package graft.etl

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the manifest/pointer commit's torn-write handling:
  * the terminated `v<N>\n` record, prefix-torn detection, and the
  * verify-before-delete ordering that keeps a suspect pointer from
  * discarding the only surviving generations. Pure-filesystem tests (no
  * SparkSession) — the protocol is FS-level. */
class ManifestCommitSpec extends AnyFunSuite {

  private def freshFs(): (FileSystem, HPath) = {
    val dir = Files.createTempDirectory("graft_mc").toString
    val base = new HPath(s"file:$dir/tbl")
    (base.getFileSystem(new Configuration()), base)
  }

  private def mkGen(fs: FileSystem, base: HPath, v: Long): HPath = {
    val p = ManifestCommit.versionDir(base, v)
    fs.mkdirs(p)
    val out = fs.create(new HPath(p, "part-0.parquet"), true)
    try out.write("data".getBytes("UTF-8")) finally out.close()
    p
  }

  private def writeManifestRaw(fs: FileSystem, base: HPath, raw: String): Unit = {
    val out = fs.create(ManifestCommit.manifestPath(base), true)
    try out.write(raw.getBytes("UTF-8")) finally out.close()
  }

  test("parseManifest: only a complete terminated record parses") {
    assert(ManifestCommit.record.parse("v12\n").contains(12L))
    assert(ManifestCommit.record.parse("v1\n").contains(1L))
    // every proper prefix of `v12\n` is torn, including the bare-digits
    // prefix `v1` that a terminator-less format would accept as v1
    for (torn <- Seq("", "v", "v1", "v12", "12", "12\n", "v0\n", "v-1\n", "v1x\n", "v\n"))
      assert(ManifestCommit.record.parse(torn).isEmpty, s"'$torn' must be torn")
  }

  test("commit writes the terminated record; currentVersion round-trips") {
    val (fs, base) = freshFs()
    fs.mkdirs(base.getParent)
    ManifestCommit.record.write(fs, base, 7)
    val in = fs.open(ManifestCommit.manifestPath(base))
    val raw =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    assert(raw == "v7\n")
    assert(ManifestCommit.currentVersion(fs, base).contains(7L))
  }

  test("a prefix-torn manifest re-commits the HIGHEST generation, not the prefix") {
    val (fs, base) = freshFs()
    mkGen(fs, base, 1)
    val g12 = mkGen(fs, base, 12)
    // crash persisted only `v1` of the intended `v12\n`
    writeManifestRaw(fs, base, "v1")
    intercept[PointerRecord.TornRecordException] {
      ManifestCommit.currentVersion(fs, base)
    }
    val live = ManifestCommit.repair(fs, base)
    assert(live == g12, "repair must re-point at generation 12, not torn prefix 1")
    assert(fs.exists(g12), "the real generation must survive")
    assert(!fs.exists(ManifestCommit.versionDir(base, 1)), "stale gen 1 cleaned up")
    assert(ManifestCommit.currentVersion(fs, base).contains(12L))
  }

  test("legacy bare-digits manifest: resolve reads it, repair preserves it, commit upgrades it") {
    val (fs, base) = freshFs()
    val g3 = mkGen(fs, base, 3)
    mkGen(fs, base, 2) // stale generation BELOW the pointer: safe to clean
    // pre-round-10 manifest format: bare digits + newline. Only lower
    // generations beside it — a torn prefix always parses strictly
    // lower than the true version, so this pointer is trustworthy.
    writeManifestRaw(fs, base, "3\n")
    // resolve accepts the legacy pointer (its generation dir exists)
    assert(ManifestCommit.currentVersion(fs, base).contains(3L))
    assert(ManifestCommit.resolve(fs, base) == g3)
    assert(ManifestCommit.repair(fs, base) == g3)
    assert(fs.exists(g3), "legacy-pointed generation must survive repair")
    assert(!fs.exists(ManifestCommit.versionDir(base, 2)),
      "stale generation below the legacy pointer is cleaned up")
    assert(ManifestCommit.currentVersion(fs, base).contains(3L))
    // the next commit upgrades the record to the terminated v<N> form
    ManifestCommit.record.write(fs, base, 4)
    val in = fs.open(ManifestCommit.manifestPath(base))
    val raw =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    assert(raw == "v4\n")
  }

  test("legacy pointer beside a STRICTLY HIGHER generation refuses — no deletion") {
    val (fs, base) = freshFs()
    val g1 = mkGen(fs, base, 1)   // could be: intact pointer's dir, or lost cleanup
    val g12 = mkGen(fs, base, 12) // could be: dead write, or the REAL newest gen
    // `1` here is ambiguous: an intact legacy record for v1, or the torn
    // prefix of `12\n` whose old dir survived a lost cleanup. The two
    // states are byte-identical, so both resolve and repair must refuse
    // rather than guess — the wrong guess deletes real data irreversibly.
    writeManifestRaw(fs, base, "1\n")
    val e1 = intercept[RuntimeException] { ManifestCommit.currentVersion(fs, base) }
    assert(e1.getMessage.contains("legacy"), e1.getMessage)
    val e2 = intercept[RuntimeException] { ManifestCommit.repair(fs, base) }
    assert(e2.getMessage.contains("legacy"), e2.getMessage)
    assert(fs.exists(g1) && fs.exists(g12),
      "suspect legacy pointer must not trigger any deletion")
    // operator resolves the ambiguity by rewriting the terminated form
    writeManifestRaw(fs, base, "v12\n")
    assert(ManifestCommit.repair(fs, base) == g12)
    assert(!fs.exists(g1), "once the pointer is unambiguous, cleanup resumes")
  }

  test("legacy bare-digits record whose generation dir is MISSING is torn, not trusted") {
    val (fs, base) = freshFs()
    val g12 = mkGen(fs, base, 12)
    // a torn prefix `1` of a legacy `12\n` — generation 1 is long gone,
    // so the existence check rejects it and repair finds the survivor
    writeManifestRaw(fs, base, "1")
    intercept[PointerRecord.TornRecordException] {
      ManifestCommit.currentVersion(fs, base)
    }
    assert(ManifestCommit.repair(fs, base) == g12)
    assert(ManifestCommit.currentVersion(fs, base).contains(12L))
  }

  test("suspect pointer: repair refuses BEFORE deleting surviving generations") {
    val (fs, base) = freshFs()
    val g3 = mkGen(fs, base, 3)
    // intact manifest names generation 5, which is gone (out-of-band)
    writeManifestRaw(fs, base, "v5\n")
    val err = intercept[RuntimeException] { ManifestCommit.repair(fs, base) }
    assert(err.getMessage.contains("out-of-band"), err.getMessage)
    assert(fs.exists(g3), "cleanup must not run when the pointer is suspect")
  }

  test("torn manifest, no surviving generation: falls back to an EXISTING base dir") {
    val (fs, base) = freshFs()
    fs.mkdirs(base)
    writeManifestRaw(fs, base, "")
    val live = ManifestCommit.repair(fs, base)
    assert(live == base)
    assert(!fs.exists(ManifestCommit.manifestPath(base)), "torn manifest deleted")
  }

  test("torn manifest, no surviving generation, base dir missing: loud error") {
    val (fs, base) = freshFs()
    fs.mkdirs(base.getParent)
    writeManifestRaw(fs, base, "garbage")
    val err = intercept[RuntimeException] { ManifestCommit.repair(fs, base) }
    assert(err.getMessage.contains("also missing"), err.getMessage)
  }

  test("exception guidance names a real CLI invocation (no --repair flag)") {
    val (fs, base) = freshFs()
    fs.mkdirs(base.getParent)
    writeManifestRaw(fs, base, "v9")
    val err = intercept[PointerRecord.TornRecordException] {
      ManifestCommit.currentVersion(fs, base)
    }
    assert(!err.getMessage.contains("--repair"), err.getMessage)
    assert(err.getMessage.contains("compact <table>"), err.getMessage)
  }
}

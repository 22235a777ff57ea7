package graft

import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}

import scala.util.Try

import graft.sources.SnapshotLake

/** The one build-and-publish lifecycle shared by the fixtures derived
  * from a read-only base fixture ([[ScaleFixture]], [[SkewFixture]],
  * [[ShardFixture]]) and by [[SnapshotLake]]'s six snapshot labs
  * (timeline, branch, partevo, datelab, expire, binpack): each supplies
  * only its table derivation.
  *
  * A derived fixture lives under an absolute root in a directory named
  * by its fingerprint's hash, so a published fixture is never rewritten
  * in place: a base-fixture regeneration or a derivation change yields a
  * new fingerprint, hence a new directory. A build lands in a sibling
  * temp dir and is published by one atomic rename, so a reader never
  * sees a half-built fixture; when concurrent builders race, the loser
  * finds the winner's marker and discards its copy. A publish removes the
  * fixtures it supersedes (see [[removeSuperseded]]). */
object DerivedFixture {

  /** Bump on ANY derivation change — keyed into every fingerprint, so a
    * revision rebuilds the uniform corpus and its skewed twin together.
    * v5: derived tables write through repartition([[OUT_PARTS]]) — the
    * k-explode inherits the base fixture's 1-2 input partitions, so a
    * ×40 corpus landed as ONE 29 MB parquet file and every scan of it
    * ran as a single task (max/mean task ratio ~8 on BOTH SkewBench
    * legs, and scan-bound scaled measurements serialized on one core,
    * overstating scaled cost). */
  val DERIVATION_VER = "v5"

  /** Output parallelism for every derived-table write (matches the
    * bench mains' local[32]). */
  val OUT_PARTS = 32

  /** Where fixtures are published, resolved to an absolute path once so
    * a later working-directory change cannot split the cache. */
  lazy val Root: Path = Paths.get("target").toAbsolutePath

  /** Marker fingerprint: the base tables' file stats, the shared
    * derivation version and the builder's own parameters (`extra`). */
  def fingerprint(baseDir: String, tables: Seq[String],
                  extra: String): String =
    (baseDir +: tables.map(t => Memo.fingerprint(baseDir, t).toString) :+
      DERIVATION_VER :+ extra).mkString("|")

  /** The published `<root>/<name>_<hash>` directory for `fingerprint`,
    * running `build` into a fresh temp dir first if it is missing. */
  def publish(name: String, fingerprint: String, root: Path = Root)(
      build: Path => Unit): Path = {
    val dir = root.toAbsolutePath.resolve(f"${name}_${fingerprint.hashCode}%08x")
    val marker = dir.resolve("_built")
    def published = Files.exists(marker) && Files.readString(marker) == fingerprint
    if (!published) {
      Files.createDirectories(dir.getParent)
      val tmp = Files.createTempDirectory(dir.getParent, s".${dir.getFileName}.")
      try {
        build(tmp)
        Files.writeString(tmp.resolve("_built"), fingerprint)
        Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case e: Throwable =>
          SnapshotLake.deleteRecursively(tmp)
          if (!published) throw e
      }
      removeSuperseded(dir, name, fingerprint)
    }
    dir
  }

  /** Delete each sibling `<name>_<hash>` fixture of `dir` derived from
    * the same base dir (the fingerprint's first field) under another
    * fingerprint: a base regeneration or a derivation/builder version bump
    * supersedes it, and no caller can ask for it again. The dir name
    * already encodes the builder's parameters, so the base dir is the
    * only other field compared; fixtures of other base dirs are kept.
    * Each is renamed to a hidden temp name before deletion, so a reader
    * never finds a half-deleted fixture under a published name. */
  private def removeSuperseded(dir: Path, name: String,
                               fingerprint: String): Unit = {
    def base(fp: String) = fp.takeWhile(_ != '|')
    val sibling = s"\\Q${name}\\E_[0-9a-f]{8}".r
    val s = Files.list(dir.getParent)
    val stale = try s.toArray.toSeq.map(_.asInstanceOf[Path]).filter { d =>
      d != dir && sibling.matches(d.getFileName.toString) &&
        Try(Files.readString(d.resolve("_built"))).toOption.exists(fp =>
          fp != fingerprint && base(fp) == base(fingerprint))
    } finally s.close()
    stale.foreach { d =>
      val doomed = Files.createTempDirectory(d.getParent, s".${d.getFileName}.")
      // a concurrent publisher may have removed it first
      try Files.move(d, doomed.resolve("old"), StandardCopyOption.ATOMIC_MOVE)
      catch { case _: NoSuchFileException => }
      SnapshotLake.deleteRecursively(doomed)
    }
  }
}

package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Generation catalog for persisted index artifacts (the q105 ANN index,
  * the q108/q115/q119 bucketed band/window indexes).
  *
  * Compactions write a WHOLE NEW generation beside the live one and then
  * publish it by atomically replacing a one-line manifest file — so there
  * is no window in which a reader can observe a half-swapped artifact:
  *
  *   - a probe planned against generation N keeps reading generation N's
  *     files while N+1 is being written (different directory) AND after
  *     the publish (retired generations are retained, not deleted);
  *   - a probe that resolves the artifact after the publish sees N+1;
  *   - retired generations are GC'd only when they age past the retain
  *     depth (default [[GenManifest.DefaultRetain]]: current + previous),
  *     the time-travel bound two concurrent jobs sharing one index get.
  *
  * The manifest is driver-sized (one line) and the publish is a single
  * atomic rename — nothing here scales with the data. Contract: ONE
  * maintainer at a time (same as Append/Compact before generations);
  * any number of concurrent readers.
  */
object GenManifest {
  /** Retained generations: the current one plus its predecessor. */
  val DefaultRetain = 2

  final case class State(current: Long, retained: Seq[Long])

  private def manifest(base: File, name: String): File =
    new File(base, s"MANIFEST_$name")

  def read(base: File, name: String): Option[State] = {
    val f = manifest(base, name)
    if (!f.exists()) None
    else {
      // current=N;retained=a,b  (retained ascending, includes current)
      val kv = Files.readString(f.toPath).trim.split(";").map { p =>
        val Array(k, v) = p.split("=", 2); k -> v
      }.toMap
      Some(State(kv("current").toLong,
        kv("retained").split(",").filter(_.nonEmpty).map(_.toLong).toSeq))
    }
  }

  def current(base: File, name: String): Long =
    read(base, name).getOrElse(sys.error(
      s"no generation manifest for '$name' under $base — artifact not built")).current

  /** Publish `gen` as current, retaining the newest `retain` generations.
    * Atomic: readers see either the old manifest or the new one, never a
    * partial write. Returns the generations that aged out — the caller
    * GCs their storage (tables/directories) AFTER the publish, so no
    * retained generation ever has missing files.
    *
    * `expectCurrent` is the compare-and-publish guard for compactions:
    * a maintainer that read generation N, built N+1, and finds the
    * manifest no longer at N lost the single-maintainer race — publish
    * throws instead of splicing a conflicting lineage over someone
    * else's generation (their N+1 and ours have different contents). */
  def publish(base: File, name: String, gen: Long,
      retain: Int = DefaultRetain,
      expectCurrent: Option[Long] = None): Seq[Long] = {
    base.mkdirs()
    val st = read(base, name)
    expectCurrent.foreach { want =>
      val cur = st.map(_.current)
      if (!cur.contains(want)) throw new IllegalStateException(
        s"stale maintainer for '$name': built from generation $want but " +
          s"the manifest is now at ${cur.getOrElse("<absent>")} — concurrent " +
          "maintenance is not supported; rebuild from the current generation")
    }
    val prev = st.map(_.retained).getOrElse(Nil)
    val all = (prev :+ gen).distinct.sorted
    val (gone, kept) = all.splitAt(math.max(0, all.length - math.max(1, retain)))
    atomicWrite(manifest(base, name),
      s"current=$gen;retained=${kept.mkString(",")}\n")
    gone
  }

  /** Replace `f` with `text` atomically: write a temp sibling, then an
    * ATOMIC_MOVE rename over `f` — a reader (or a crash) sees the old
    * content or the new, never a torn file. */
  def atomicWrite(f: File, text: String): Unit = {
    val tmp = new File(f.getParentFile, f.getName + ".tmp")
    Files.writeString(tmp.toPath, text)
    Files.move(tmp.toPath, f.toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Drop every manifest + generation bookkeeping under `base` for a
    * fresh build (the artifact dirs themselves are the caller's). */
  def reset(base: File, name: String): Unit = {
    val f = manifest(base, name)
    if (f.exists()) f.delete()
  }

  def rmTree(f: File): Unit = {
    if (f.isDirectory) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rmTree)
    }
    f.delete()
  }
}

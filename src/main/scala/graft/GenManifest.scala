package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** Generation catalog for every persisted artifact: the file artifacts
  * (the ANN index's `vecs`, the `w2v` model, the `merges`/`merges_script`
  * tokenizers, the pack lineages) and the bucketed catalog indexes
  * ([[graft.operators.Bucketed]]). It owns the generation directory name
  * ([[dir]]), the next generation, and publish + GC ([[writeNext]],
  * [[compact]]); an operator supplies only the data it writes.
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
  *     depth ([[GenManifest.DefaultRetain]]: current + previous), the
  *     time-travel bound two concurrent jobs sharing one index get.
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

  /** The manifest of `name` under `base`, if one is published. A
    * malformed manifest is a named error quoting the file. */
  def read(base: File, name: String): Option[State] = {
    val f = manifest(base, name)
    if (!f.exists()) None
    else {
      // current=N;retained=a,b  (retained ascending, includes current)
      val text = Files.readString(f.toPath).trim
      def malformed = new IllegalStateException(
        s"malformed generation manifest $f: \"$text\" " +
          "(expected current=N;retained=a,b)")
      try {
        val kv = text.split(";").map(_.split("=", 2) match {
          case Array(k, v) => k -> v
          case _ => throw malformed
        }).toMap
        Some(State(kv("current").toLong,
          kv("retained").split(",").filter(_.nonEmpty).map(_.toLong).toSeq))
      } catch {
        case _: NoSuchElementException | _: NumberFormatException => throw malformed
      }
    }
  }

  def current(base: File, name: String): Long =
    read(base, name).getOrElse(sys.error(
      s"no generation manifest for '$name' under $base — artifact not built")).current

  /** Publish `gen` as current, retaining the newest [[DefaultRetain]]
    * generations. Atomic: readers see either the old manifest or the new
    * one, never a partial write. Returns the generations that aged out —
    * the caller GCs their storage (tables/directories) AFTER the publish,
    * so no retained generation ever has missing files.
    *
    * `expectCurrent` is the compare-and-publish guard for compactions:
    * a maintainer that read generation N, built N+1, and finds the
    * manifest no longer at N lost the single-maintainer race — publish
    * throws instead of splicing a conflicting lineage over someone
    * else's generation (their N+1 and ours have different contents). */
  def publish(base: File, name: String, gen: Long,
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
    val (gone, kept) = all.splitAt(math.max(0, all.length - DefaultRetain))
    atomicWrite(manifest(base, name),
      s"current=$gen;retained=${kept.mkString(",")}\n")
    gone
  }

  /** Generation `gen` of `name`'s payload under `base`: `<name>_g<gen>`.
    * The one naming rule of every generation-manifested directory (the
    * `graftpack` table resolves through it too). */
  def dir(base: File, name: String, gen: Long): File =
    new File(base, s"${name}_g$gen")

  /** Every generation directory of `name` on disk under `base`. */
  def dirs(base: File, name: String): Seq[File] = {
    val gen = (java.util.regex.Pattern.quote(name) + "_g\\d+").r
    Option(base.listFiles()).toSeq.flatten.filter(f => gen.matches(f.getName))
  }

  /** Write and publish the next generation of `name` (current + 1, or 1
    * when none is published): `write(gen)` fills the generation's
    * directories — `<name>_g<gen>` and one per `parts` suffix — then the
    * publish, then the aged-out generations' directories are removed.
    * Returns the published generation. */
  def writeNext(base: File, name: String, parts: String*)(
      write: Long => Unit): Long =
    step(base, name, read(base, name).fold(1L)(_.current + 1), None, parts)(write)

  /** Compact `name`: `write(cur, next)` rewrites the current generation
    * as the next one, published only if the manifest is still at `cur`
    * (compare-and-publish), then GC as in [[writeNext]]. */
  def compact(base: File, name: String, parts: String*)(
      write: (Long, Long) => Unit): Long = {
    val cur = current(base, name)
    step(base, name, cur + 1, Some(cur), parts)(write(cur, _))
  }

  /** A generation directory that already exists before its write is an
    * unpublished generation — a write whose publish failed, or another
    * maintainer's write in flight — so it is refused, never overwritten
    * or removed. */
  private def step(base: File, name: String, next: Long,
      expectCurrent: Option[Long], parts: Seq[String])(write: Long => Unit): Long = {
    val names = name +: parts.map(name + _)
    names.map(dir(base, _, next)).find(_.exists()).foreach { d =>
      throw new IllegalStateException(
        s"$d is an unpublished generation of '$name' (its manifest is at " +
          s"${read(base, name).map(_.current).getOrElse("<absent>")}): a " +
          "write whose publish failed, or another maintainer's write in " +
          "flight — remove it once no maintainer is writing it")
    }
    write(next)
    publish(base, name, next, expectCurrent)
      .foreach(g => names.foreach(n => rmTree(dir(base, n, g))))
    next
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

  /** Data files (`*.parquet`) under `f` — the compaction trigger of an
    * artifact that appends land file sets in. */
  def parquetFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(parquetFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  def rmTree(f: File): Unit = {
    if (f.isDirectory) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rmTree)
    }
    f.delete()
  }
}

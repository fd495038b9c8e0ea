package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source guard: the library layers ship only what something reaches.
  * Every public `def` (not private-qualified, not `protected`, not an
  * `override`) under the operators, streaming, sinks, sources, ml and
  * functions layers must be named somewhere in `src/main/scala` or
  * `perfbench/src` outside its own definition (its leading comment
  * block, its signature and its body). A function that only a spec
  * calls is dead weight in main unless it stands for a SURVEY.md §2
  * capability that `SparkEntry`'s doc assigns to ScalaTest (streaming
  * T1–T8, ML M1–M4, sinks S5–S10); those are listed in [[kept]] with
  * the id that keeps them.
  *
  * This is a name scan: a whole-word occurrence anywhere else in a
  * reference file, comments included, counts as a reference. */
class SurfaceScanSpec extends AnyFunSuite with Matchers {

  private val layers = Seq("operators", "streaming", "sinks", "sources", "ml", "functions")
    .map(l => Paths.get("src/main/scala/graft", l))

  private val referenceRoots = Seq(Paths.get("src/main/scala"), Paths.get("perfbench/src"))

  /** `File.function` → the SURVEY.md §2 id it implements. */
  private val kept: Map[String, String] = Map(
    "StreamDedup.dedupWithinWatermark" -> "T5",
    "MlPipeline.trainRegressor" -> "M2")

  /** `File.function` → the spec case that is its only caller. Each has
    * no SURVEY.md §2 id; deleting it deletes that case, so these go in
    * a later change (ROADMAP item 8). */
  private val deferred: Map[String, String] = Map(
    "StreamJoin.enrichWithDim" ->
      "StreamingSpec: stream-static broadcast join enriches each micro-batch without state",
    "ArchiveJob.runPartitioned" ->
      "ArchiveJobSpec: runPartitioned lays out hive date partitions that prune at scan time",
    "ArchiveJob.deleteWhere" ->
      "ArchiveJobSpec: deleteWhere purges matching rows; null predicates keep the row",
    "Sketches.approxQuantiles" -> "SketchesSpec: approxQuantiles brackets the true median",
    "Sketches.hllPartials" ->
      "SketchesSpec: merged HLL partials estimate the global distinct without re-reading data",
    "Sketches.hllMerge" ->
      "SketchesSpec: merged HLL partials estimate the global distinct without re-reading data",
    "Bpe.countBpeTokens" ->
      "CurationSpec: bpe pairStats, trainMerges, and countBpeTokens agree with hand-computed BPE",
    "Multimodal.sampleChunks" ->
      "MultimodalSpec: sampleChunks keeps every stride-th fixed-size chunk (frame sampling shape)",
    "SchemaReader.readCsv" -> "SchemaReaderSpec: readCsv parses leniently and coerces to the declared schema",
    "SchemaReader.readJson" ->
      "SchemaReaderSpec: readJson coerces typed fields and degrades malformed values to null",
    "SchemaReader.readOrc" -> "SchemaReaderSpec: readOrc round-trips with declared-schema coercion",
    "Dedup.appendToSimhashIndex" ->
      "StoredIndexDurabilitySpec: a meta write that crashed between its steps fails the next append, naming dir/meta",
    "Similarity.appendToIvfPqIndexDeterministic" ->
      "SimilaritySpec: incremental append to a stored IVFADC index equals indexing the union")

  private val defLine =
    """^(\s*)((?:@\w+\s+)*(?:[a-z]+(?:\[[\w.]+\])?\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  private case class Def(file: Path, line: Int, name: String, span: Range) {
    def key: String = s"${file.getFileName.toString.stripSuffix(".scala")}.$name"
    override def toString: String = s"$file:$line: $name"
  }

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally s.close()
  }

  private def indent(s: String): Int = s.length - s.dropWhile(_ == ' ').length

  /** Line indices of a definition: the comment and annotation lines
    * right above it, its signature, and every following line until one
    * that is not blank and sits at or left of the `def` (a closing
    * brace or paren at the same indent still belongs to it). */
  private def ownSpan(lines: IndexedSeq[String], at: Int): Range = {
    def lead(t: String) =
      Seq("*", "/*", "//", "@").exists(t.startsWith)
    var from = at
    while (from > 0 && lead(lines(from - 1).trim)) from -= 1
    val ind = indent(lines(at))
    var to = at + 1
    while (to < lines.length && {
      val t = lines(to).trim
      t.isEmpty || indent(lines(to)) > ind ||
        (indent(lines(to)) == ind && (t.startsWith("}") || t.startsWith(")")))
    }) to += 1
    from until to
  }

  private lazy val reference: Map[Path, IndexedSeq[String]] =
    referenceRoots.flatMap(scalaFiles).map(f => f -> Files.readAllLines(f).asScala.toIndexedSeq).toMap

  private lazy val publicDefs: Seq[Def] = for {
    file <- layers.flatMap(scalaFiles)
    lines = reference(file)
    (line, n) <- lines.zipWithIndex
    m <- defLine.findFirstMatchIn(line).toSeq
    mods = m.group(2)
    if !Seq("private", "protected", "override").exists(mods.contains)
  } yield Def(file, n + 1, m.group(3), ownSpan(lines, n))

  private def referenced(d: Def): Boolean = {
    val word = s"\\b${java.util.regex.Pattern.quote(d.name)}\\b".r
    reference.exists { case (file, lines) =>
      lines.indices.exists(i =>
        !(file == d.file && d.span.contains(i)) && word.findFirstIn(lines(i)).isDefined)
    }
  }

  test("every public library function is reached from main or perfbench, or kept for a SURVEY capability") {
    layers.foreach(l => withClue(l)(Files.isDirectory(l) shouldBe true))
    publicDefs should not be empty
    val listed = kept.keySet ++ deferred.keySet
    publicDefs.filterNot(d => referenced(d) || listed(d.key)).map(_.toString) shouldBe empty
  }

  test("every listed function still exists and is still reached from nowhere else") {
    val unreached = publicDefs.filterNot(referenced).map(_.key).toSet
    (kept.keySet ++ deferred.keySet).toSeq.sorted.filterNot(unreached) shouldBe empty
  }
}

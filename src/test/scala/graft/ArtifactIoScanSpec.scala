package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source guard: the operators, streaming and sinks layers read and
  * write the artifacts they store through `sources.SchemaReader` only.
  * A schema-inferring `.read.parquet(` runs a Spark job per read, and a
  * `spark.range(1)` or `coalesce(1)` part is a Spark write job where a
  * driver write (`SchemaReader.writeRows`/`writeArtifact`) takes none. */
class ArtifactIoScanSpec extends AnyFunSuite with Matchers {

  private val layers = Seq("operators", "streaming", "sinks")
    .map(l => Paths.get("src/main/scala/graft", l))

  private val forbidden = Seq(".read.parquet(", "spark.range(1)", ".coalesce(1)")

  /** A line's code, without its `//` comment; scaladoc and block-comment
    * lines have none. */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
    else line.indexOf("//") match {
      case -1 => line
      case i => line.substring(0, i)
    }
  }

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally s.close()
  }

  test("operators, streaming and sinks do no inferring artifact read and no Spark-job small write") {
    layers.foreach(l => withClue(l)(Files.isDirectory(l) shouldBe true))
    val hits = for {
      file <- layers.flatMap(scalaFiles)
      (line, n) <- Files.readAllLines(file).asScala.zipWithIndex
      if forbidden.exists(code(line).contains)
    } yield s"$file:${n + 1}: ${line.trim}"
    hits shouldBe empty
  }
}

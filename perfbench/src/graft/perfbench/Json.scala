package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON in and out, on the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  def readStringMap(path: String): Map[String, String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else mapper.readTree(Files.readAllBytes(Paths.get(path))).fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap

  def writeStringMap(path: String, m: Map[String, String]): Unit =
    Files.write(Paths.get(path),
      m.toSeq.sortBy(_._1).map { case (k, v) => s"  ${str(k)}: ${str(v)}" }
        .mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))

  private def str(s: String): String = mapper.writeValueAsString(s)

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

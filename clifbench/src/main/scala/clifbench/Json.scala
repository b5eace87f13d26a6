package clifbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.jdk.CollectionConverters._

/** The benchmark's JSON files, through the Jackson copy Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .enable(SerializationFeature.INDENT_OUTPUT)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)

  def write(path: Path, value: Any): Unit =
    Files.writeString(path, mapper.writeValueAsString(value) + "\n")

  private def read(path: Path): JsonNode = mapper.readTree(path.toFile)

  private def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.fields.asScala.map(e => e.getKey -> e.getValue).toSeq

  /** prepare.py's expected.json: query -> oracle row count. */
  def readRows(path: Path): Map[String, Long] =
    fields(read(path)).map { case (q, v) => q -> v.get("rows").asLong }.toMap

  /** expected_clif.json: variant -> table -> [rows, content hash]. */
  def readAllClifExpected(path: Path): Map[String, Map[String, (Long, String)]] =
    fields(read(path)).map { case (variant, tables) =>
      variant -> fields(tables).map { case (t, v) =>
        t -> ((v.get(0).asLong, v.get(1).asText))
      }.toMap
    }.toMap

  def readClifExpected(path: Path, variant: String): Map[String, (Long, String)] =
    readAllClifExpected(path).getOrElse(variant,
      sys.error(s"no recorded CLIF outputs for data variant $variant in $path"))

  def writeClifExpected(path: Path, all: Map[String, Map[String, (Long, String)]]): Unit =
    write(path, all.map { case (v, ts) =>
      v -> ts.map { case (t, (rows, hash)) => t -> Seq(rows, hash) } })
}

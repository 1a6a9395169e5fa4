package kgbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** Recorded output fingerprints, one tab-separated line per entry:
  * `name  rows  hash  schema`. Query names are `SparkEntry.queries` keys;
  * `table.<t>` lines hold input row counts. The fingerprints were recorded
  * from a run whose outputs matched the DuckDB oracle (every oracled query
  * in the file) on the same tables. */
final class Reference(entries: Map[String, Fingerprint]) {
  def query(q: String): Option[Fingerprint] = entries.get(q)
  def tableRows(t: String): Option[Long] = entries.get(s"table.$t").map(_.rows)
}

object Reference {
  def load(path: String): Reference = {
    val p = Paths.get(path)
    if (!Files.exists(p)) new Reference(Map.empty)
    else new Reference(Files.readAllLines(p, UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, hash, schema) = l.split("\t", 4)
        name -> Fingerprint(rows.toLong,
          java.lang.Long.parseUnsignedLong(hash, 16), schema)
      }.toMap)
  }

  def append(path: String, fps: Seq[(String, Fingerprint)]): Unit =
    Files.write(Paths.get(path),
      fps.map { case (n, f) => s"$n\t${f.rows}\t${f.hex}\t${f.schema}\n" }
        .mkString.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
}

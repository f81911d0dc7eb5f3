package bench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Sinks {
  private def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Parquet files per `col=value` partition directory, over the tables. */
  def filesPerPartition(tables: Seq[Path]): Double = {
    val parts = tables.flatMap(list).filter(_.getFileName.toString.contains("="))
    val files = parts.map(p => list(p).count(_.getFileName.toString.endsWith(".parquet")))
    files.sum.toDouble / math.max(1, parts.length)
  }
}

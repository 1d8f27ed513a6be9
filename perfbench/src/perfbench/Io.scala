package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame

/** Small file helpers shared by the workloads. */
object Io {

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally all.close()
    }

  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq.sortBy(_.toString) finally s.close()
    }

  /** Data files under `dir` (names not starting with `_` or `.`). */
  def dataFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).filter { p =>
      dir.relativize(p).iterator().asScala.forall { part =>
        val n = part.toString
        !n.startsWith("_") && !n.startsWith(".")
      }
    }.toSeq finally s.close()
  }

  /** Writes `rows` in order as one snappy parquet file, with parquet's own
    * writer rather than Spark, so that no Spark job runs before a run's
    * set-up. `fill` sets one record's fields.
    */
  def writeParquet[T](file: Path, schema: String, rows: Iterable[T])(fill: (T, Group) => Unit): Unit = {
    val mt = MessageTypeParser.parseMessageType(schema)
    val groups = new SimpleGroupFactory(mt)
    val w = ExampleParquetWriter.builder(new HPath(file.toUri)).withConf(new Configuration())
      .withType(mt).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach { r => val g = groups.newGroup(); fill(r, g); w.write(g) }
    finally w.close()
    // the checksum file of Hadoop's local file system
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
  }

  /** Materializes `df` without writing it anywhere. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

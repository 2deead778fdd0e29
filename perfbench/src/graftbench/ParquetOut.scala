package graftbench

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Plain parquet writer and reader for generated inputs: no Spark
  * session, and the same records always give the same rows. */
object ParquetOut {

  private def write[T](file: Path, schema: String, rows: Iterator[T])(fill: (Group, T) => Unit): Unit = {
    Files.createDirectories(file.getParent)
    val conf = new Configuration()
    // the raw local file system writes no .crc side files
    conf.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val mt: MessageType = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new HPath(file.toAbsolutePath.toUri))
      .withType(mt).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val f = new SimpleGroupFactory(mt)
    try rows.foreach { r => val g = f.newGroup(); fill(g, r); w.write(g) }
    finally w.close()
  }

  /** Every row of a parquet file, rendered as text, in file order. */
  def rows(file: Path): Iterator[String] = {
    val r = ParquetReader.builder(new GroupReadSupport(), new HPath(file.toAbsolutePath.toUri)).build()
    Iterator.continually(r.read()).takeWhile { g => if (g == null) r.close(); g != null }.map(_.toString)
  }

  /** The loaded-variant store: natural key, dbSNP class and id. */
  def storeVariants(file: Path, rows: Seq[(String, Int, Char, Char, String)]): Unit =
    write(file, """message store {
        optional binary chr (UTF8); optional int32 pos; optional int32 end_pos;
        optional binary ref_nuc (UTF8); optional binary var_nuc (UTF8);
        optional binary variant_type (UTF8); optional binary dbsnp_class (UTF8);
        optional int64 variant_id; }""", rows.iterator.zipWithIndex) {
      case (g, ((chr, pos, ref, alt, rs), i)) =>
        g.append("chr", chr).append("pos", pos).append("end_pos", pos + 1)
          .append("ref_nuc", ref.toString).append("var_nuc", alt.toString)
          .append("variant_type", "snv")
          .append("dbsnp_class", if (rs == ".") "novel" else "dbsnp")
          .append("variant_id", i.toLong + 1)
    }

  def variants(file: Path, rows: Seq[Gen.Variant]): Unit =
    write(file, """message variants {
        optional int64 var_id; optional binary chr (UTF8); optional int32 pos;
        optional binary ref_nuc (UTF8); optional binary var_nuc (UTF8); }""",
      rows.iterator) { (g, v) =>
      g.append("var_id", v.id).append("chr", v.chr).append("pos", v.pos)
        .append("ref_nuc", v.ref).append("var_nuc", v.alt)
    }
}

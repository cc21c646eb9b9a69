package graft.engine

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.Encoders
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.checks.{Fit, SchemaCheck, Violation}
import graft.model.DocsGen

/** The violation sink's file layout: AQE sizes each check's files from the
  * rows rebalanced by part, so a check writes one zstd file until its rows
  * pass the advisory partition size. */
class SinkLayoutSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  private def dataFiles(dir: Path): Seq[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toList
    finally st.close()
  }

  private def codecs(file: Path): Set[CompressionCodecName] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), spark.sessionState.newHadoopConf()))
    try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
    finally reader.close()
  }

  test("golden sink: one zstd file per dirty check, a clean check reads as 0 " +
    "Violation rows, a shrunken advisory size splits the largest check") {
    val tmp = Files.createTempDirectory("sinklayout")
    val docs = DocsGen.docs(spark, 3600, DocsGen.goldenScenario).cache()
    val media = DocsGen.media(spark)
    val ref = Fit.fit(docs.filter($"part" === 0), snapshotId = 9L, maxSample = 200)
    // a contract the table meets: src=schema is the clean check
    val contract = SchemaCheck.flatten(docs.schema).map { case (p, t) =>
      SchemaCheck.FieldContract(p, t) }
    val cfg = RunConfig(runId = "layout", maxSample = 200, numPermutations = 10,
      schemaContract = Some(contract))
    val lazyRows = ValidationRun.run(docs, media, ref, cfg).violations.collect()
      .map(v => (v.check_id, v.part, v.doc_id)).sorted.toSeq

    ValidationRun.run(docs, media, ref, cfg.copy(violationsSink = Some(s"$tmp/v")))
    val dirty = Seq("unique", "ref", "integrity")
    dirty.foreach { src =>
      val files = dataFiles(Paths.get(s"$tmp/v/src=$src"))
      assert(files.size == 1, s"src=$src: ${files.map(_.getFileName)}")
      assert(files.head.getFileName.toString.endsWith(".parquet"))
      assert(codecs(files.head) == Set(CompressionCodecName.ZSTD), s"src=$src")
    }
    val violationSchema = Encoders.product[Violation].schema
    val clean = s"$tmp/v/src=schema"
    assert(spark.read.schema(violationSchema).parquet(clean).count() == 0L)
    assert(spark.read.parquet(clean).schema.fieldNames.toSeq == violationSchema.fieldNames.toSeq)

    // the sink dir with the most rows, its rows as the lazy union holds them
    val srcOf = Map("unique_doc_id" -> "unique", "ref_media" -> "ref",
      "span_order" -> "integrity", "null_kind" -> "integrity")
    val (src, want) = lazyRows.groupBy(r => srcOf(r._1)).maxBy(_._2.size)
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    try ValidationRun.run(docs, media, ref, cfg.copy(violationsSink = Some(s"$tmp/small")))
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val dir = s"$tmp/small/src=$src"
    assert(dataFiles(Paths.get(dir)).size > 1, s"src=$src under a 1 KiB advisory size")
    val got = spark.read.parquet(dir).as[Violation].collect()
      .map(v => (v.check_id, v.part, v.doc_id)).sorted.toSeq
    assert(got == want.sorted)
    docs.unpersist()
  }
}

package graft.engine

import java.nio.file.{Files, Paths}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Manifest key stats read from the Parquet footers a commit just wrote
  * equal the per-part aggregate over the written dirs. */
class FooterKeyStatsSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  test("footer key stats == groupBy(part).agg(min, max, count) over the written " +
    "dirs; absent exactly where the aggregate has none (all-null, unsafe ids)") {
    val table = Files.createTempDirectory("footerstats").toString
    val pad = "x" * 40
    // part 0, 1: plain ids; 2: every id null; 3: ids outside SafeKey;
    // 4: two ids in three null — sorted first, so whole row groups hold
    // only nulls beside row groups with values
    def batch(parts: Seq[Int]) = spark.range(0, 3000).flatMap { i =>
      parts.map { p =>
        val id = p % 5 match {
          case 2 => null
          case 3 => f"doc #$p-$i%05d"
          case 4 if i % 3 != 0 => null
          case _ => f"doc-$p%02d-${(i * 7919) % 3000}%05d"
        }
        (id, s"$pad$i", p)
      }
    }.toDF("doc_id", "body", "part").repartition(3).sortWithinPartitions("part", "doc_id")
    val block = "parquet.block.size"
    spark.conf.set(block, "4096") // several row groups per file
    try {
      SnapshotCatalog.commit(table, batch(0 to 4))
      SnapshotCatalog.commit(table, batch(5 to 9))
    } finally spark.conf.unset(block)

    val dirs = Paths.get(table, "data")
    // (row count, doc_id null count, has min/max) of each row group of a part
    def rowGroups(p: Int): Seq[Seq[(Long, Long, Boolean)]] = {
      val st = Files.list(dirs.resolve(s"part=$p"))
      val files = try st.iterator().asScala.toList
        .filter(_.getFileName.toString.endsWith(".parquet")) finally st.close()
      files.map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), spark.sessionState.newHadoopConf()))
        try reader.getFooter.getBlocks.asScala.toSeq.map { b =>
          val st: Statistics[_] =
            b.getColumns.asScala.find(_.getPath.toDotString == "doc_id").get.getStatistics
          (b.getRowCount, st.getNumNulls, st.hasNonNullValue)
        } finally reader.close()
      }
    }
    (0 to 9).foreach { p =>
      val groups = rowGroups(p)
      assert(groups.size > 1 && groups.exists(_.size > 1),
        s"part $p: row groups per file ${groups.map(_.size)}")
    }
    val part4 = rowGroups(4).flatten
    assert(part4.exists { case (n, nulls, _) => nulls == n } && part4.exists(_._3))

    val safe = "[A-Za-z0-9._:/-]+"
    val expected = spark.read.parquet(dirs.toString).groupBy("part")
      .agg(min("doc_id"), max("doc_id"), count(lit(1)))
      .as[(Int, String, String, Long)].collect()
      .collect { case (p, mn, mx, n) if mn != null && mn.matches(safe) && mx.matches(safe) =>
        p -> SnapshotCatalog.PartKeyStats(mn, mx, n) }.toMap
    assert(expected.keySet == Set(0, 1, 4, 5, 6, 9))
    val manifest = SnapshotCatalog.readManifest(table,
      SnapshotCatalog.currentSnapshotId(table).get)
    assert(manifest.partStats == expected)
    assert(SnapshotCatalog.footerKeyStats(spark, table, 0 to 9, "doc_id") == expected)
  }
}

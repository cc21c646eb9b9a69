package graft.engine

import java.nio.file.Files
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{DocsGen, PartSpec}

/** Manifest-addressed reads: a snapshot read opens only the part dirs its
  * manifest (or its caller) names and never lists `<table>/data`, so a
  * gate's commit + batch read costs the same at any history size. */
class ManifestReadSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("commit + read(parts = new) list no table dir: 40- and 80-part histories run the same jobs") {
    val batch = DocsGen.docs(spark, 300, Seq(PartSpec(0))).drop("part").cache()
    batch.count()
    def gate(historyParts: Int): (Long, Int) = {
      val table = Files.createTempDirectory(s"mread$historyParts").toString
      SnapshotCatalog.commit(table,
        DocsGen.docs(spark, historyParts * 10L, DocsGen.cleanScenario(historyParts)))
      val listings0 = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
      val (newDocs, jobs) = graft.SparkTestBase.jobsDuring {
        val snap = SnapshotCatalog.commit(table, batch.withColumn("part", lit(historyParts)))
        SnapshotCatalog.read(spark, table, snap.snapshotId, Some(Seq(historyParts)))
      }
      val listings = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount - listings0
      assert(newDocs.count() == 300L)
      assert(newDocs.select("part").distinct().as[Int].collect().toSeq == Seq(historyParts))
      (listings, jobs)
    }
    val (list40, jobs40) = gate(40)
    val (list80, jobs80) = gate(80)
    assert(list40 == 0L && list80 == 0L,
      s"parallel listing jobs: $list40 at 40 parts, $list80 at 80 parts")
    assert(jobs40 == jobs80, s"Spark jobs: $jobs40 at 40 parts, $jobs80 at 80 parts")
    batch.unpersist()
  }

  test("read(parts) == read.filter(part in parts) under a pending MOR delete and evolved schema") {
    val table = Files.createTempDirectory("mread-sub").toString
    SnapshotCatalog.commit(table, DocsGen.docs(spark, 400, DocsGen.cleanScenario(4)))
    SnapshotCatalog.commit(table,
      DocsGen.docs(spark, 200, Seq(PartSpec(4), PartSpec(5))).withColumn("quality", lit(0.5)),
      allowEvolution = true)
    val all = SnapshotCatalog.read(spark, table, SnapshotCatalog.currentSnapshotId(table).get)
    // delete every 7th doc of parts 1 and 4: rows leave both an old and an
    // evolved part
    val s = SnapshotCatalog.commitDeletes(table,
      all.filter($"part".isin(1, 4)).select("doc_id").as[String].collect().zipWithIndex
        .collect { case (d, i) if i % 7 == 0 => d }.toSeq.toDF("doc_id"), "doc_id")
    val full = SnapshotCatalog.read(spark, table, s.snapshotId)
    assert(full.columns.contains("quality"))
    assert(full.count() < all.count())
    Seq(Seq(1), Seq(1, 4), Seq(0, 2, 3, 5), Seq.empty[Int]).foreach { ps =>
      val sub = SnapshotCatalog.read(spark, table, s.snapshotId, Some(ps))
      assert(sub.schema == full.schema, s"parts $ps")
      assert(rows(sub) == rows(full.filter($"part".isin(ps: _*))), s"parts $ps")
    }
  }

  test("a part outside the snapshot fails loudly; a manifest part without a dir reads as 0 rows") {
    val table = Files.createTempDirectory("mread-missing").toString
    val s1 = SnapshotCatalog.commit(table, DocsGen.docs(spark, 200, DocsGen.cleanScenario(2)))
    val e = intercept[IllegalArgumentException](
      SnapshotCatalog.read(spark, table, s1.snapshotId, Some(Seq(1, 7))))
    assert(e.getMessage.contains("read: parts 7 are not in snapshot"))
    // part 9 is named by the manifest but has no dir on disk
    val s2 = SnapshotCatalog.commitReplacing(table, Set.empty, Seq(9))
    val full = SnapshotCatalog.read(spark, table, s2.snapshotId)
    assert(full.count() == 200L)
    val missing = SnapshotCatalog.read(spark, table, s2.snapshotId, Some(Seq(9)))
    assert(missing.schema == full.schema)
    assert(missing.count() == 0L)
    assert(SnapshotCatalog.readKeyRange(spark, table, s2.snapshotId, "doc_id", "", "~")
      .count() == 200L)
  }
}

package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.{SparkEntry, SparkSuite}

/** The staged-fixture registry ([[Fixtures]]): an entry is keyed by the
  * content of the testdata it reads, not by the sfDir string, so a
  * directory rewritten in place re-stages in the same JVM; and entries of
  * two sfDirs never share a catalog or a root. */
class FixturesSpec extends SparkSuite {

  /** A private, writable copy of the sf tables, deleted after the suite. */
  private lazy val copy: Path = {
    val dst = Files.createTempDirectory("fixtures_spec_")
    Files.list(java.nio.file.Paths.get(sfDir)).forEach { f =>
      Files.copy(f, dst.resolve(f.getFileName))
      dst.resolve(f.getFileName).toFile.setWritable(true)
    }
    dst
  }

  override def afterAll(): Unit = {
    if (copy.toFile.exists())
      Files.walk(copy).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    super.afterAll()
  }

  private def topN(s: org.apache.spark.sql.SparkSession, d: String): Seq[Long] =
    SparkEntry.queries("q_topn_pushdown")(s, d).collect().map(_.getLong(0)).toSeq

  /** (catalog name, table dir) of the staged table a query reads. */
  private def source(s: org.apache.spark.sql.SparkSession, d: String)
      : (String, Path) =
    SparkEntry.queries("q_topn_pushdown")(s, d).queryExecution.analyzed
      .collectFirst { case r: DataSourceV2Relation if Fixtures.dir(r).nonEmpty =>
        (r.catalog.get.name(), Fixtures.dir(r).get)
      }.get

  test("a testdata table rewritten in place re-stages its fixture") {
    val d = copy.toString
    val before = topN(spark, d)
    assert(before.nonEmpty && before.max >= 300,
      s"the copy should hold doc_ids past 300, top is ${before.headOption}")
    // rewrite documents.parquet in place: keep doc_id < 300
    val out = copy.resolve("rewrite")
    spark.read.parquet(s"$d/documents.parquet").where("doc_id < 300")
      .coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.copy(part, copy.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // a new session: Tables.apply memoizes the lazy plan per session
    val s2 = spark.newSession()
    val after = topN(s2, d)
    val want = s2.read.parquet(s"$d/documents.parquet")
      .orderBy(org.apache.spark.sql.functions.desc("doc_id")).limit(100)
      .collect().map(_.getLong(0)).toSeq
    assert(after.nonEmpty && after.max < 300,
      s"top-100 still serves the old data: max ${after.headOption}")
    assert(after == want, s"top-100 does not match the rewritten table")
  }

  test("two sfDirs stage two distinct catalogs and roots") {
    val (catA, dirA) = source(spark, sfDir)
    val (catB, dirB) = source(spark, copy.toString)
    assert(catA != catB, s"both sfDirs staged catalog $catA")
    assert(dirA.getParent.getParent != dirB.getParent.getParent,
      s"both sfDirs staged under one root: $dirA, $dirB")
  }
}

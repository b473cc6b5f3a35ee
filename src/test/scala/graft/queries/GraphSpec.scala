package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSuite

class GraphSpec extends SparkSuite {
  import spark.implicits._

  test("pagerank: symmetric 2-node trade graph is a fixpoint at S/2 each") {
    // nation 0 ⇄ nation 1 with equal weight: pr stays exactly S div 2
    // because (15·(S div 2)) div 100 + (85·(S div 2)) div 100 = S div 2.
    val dir = java.nio.file.Files.createTempDirectory("pr_").toString
    Seq((0L, "ALPHA"), (1L, "BETA")).toDF("n_nationkey", "n_name")
      .write.parquet(s"$dir/nation.parquet")
    Seq((10L, 0L), (11L, 1L)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    Seq((20L, 0L), (21L, 1L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    Seq((30L, 10L), (31L, 11L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq((30L, 21L), (31L, 20L)).toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = Graph.queries("q_graph_pagerank")(spark, dir).collect()
      .map(r => r.getAs[String]("n_name") -> r.getAs[Long]("pr_fp")).toMap
    assert(out === Map("ALPHA" -> 500000000000L, "BETA" -> 500000000000L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("triangles: a planted K4 plus a pendant edge yields exactly C(4,3) per-node counts") {
    // K4 on nations 0-3 (every pair trades) + pendant node 4 attached to 0:
    // 4 triangles total; each K4 node sits in C(3,2)=3, node 4 in none.
    val dir = java.nio.file.Files.createTempDirectory("tri_").toString
    val names = Seq((0L, "N0"), (1L, "N1"), (2L, "N2"), (3L, "N3"), (4L, "N4"))
    names.toDF("n_nationkey", "n_name").write.parquet(s"$dir/nation.parquet")
    // one customer and one supplier per nation; one order+lineitem per edge
    names.map { case (k, _) => (100 + k, k) }.toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    names.map { case (k, _) => (200 + k, k) }.toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    val edges = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)) :+ ((0L, 4L))
    val orders = edges.zipWithIndex.map { case ((a, _), i) => (300L + i, 100 + a) }
    val lines = edges.zipWithIndex.map { case ((_, b), i) => (300L + i, 200 + b) }
    orders.toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    lines.toDF("l_orderkey", "l_suppkey").write.parquet(s"$dir/lineitem.parquet")
    val got = Graph.queries("q_graph_triangles")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("N0" -> 3L, "N1" -> 3L, "N2" -> 3L, "N3" -> 3L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("pagerank on testdata: ranks are a permutation, mass is conserved up to floor leakage") {
    val rows = Graph.queries("q_graph_pagerank")(spark, sfDir).collect()
    assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to rows.length))
    rows.foreach(r => assert(r.getAs[Long]("pr_fp") > 0L))
    // integer floors and dangling nations only ever LOSE mass
    assert(rows.map(_.getAs[Long]("pr_fp")).sum <= 1000000000000L)
    // the damping floor is a hard lower bound for every node
    val base = (15L * (1000000000000L / 25L)) / 100L
    rows.foreach(r => assert(r.getAs[Long]("pr_fp") >= base))
  }

  test("pagerank: an edge whose customer nation has no nation row is " +
      "dropped, as the oracle's inner join drops it") {
    val dir = java.nio.file.Files.createTempDirectory("pr_orphan_").toString
    Seq("lineitem", "orders", "customer", "supplier").foreach { n =>
      spark.read.parquet(s"$sfDir/$n.parquet").write.parquet(s"$dir/$n.parquet")
    }
    // a nation that some order's customer belongs to: its edges lose
    // their src node once its row is gone
    val orphan = spark.read.parquet(s"$sfDir/customer.parquet")
      .join(spark.read.parquet(s"$sfDir/orders.parquet"),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_nationkey").cast("long")).head().getLong(0)
    spark.read.parquet(s"$sfDir/nation.parquet")
      .where(col("n_nationkey") =!= orphan)
      .write.parquet(s"$dir/nation.parquet")
    val got = Graph.queries("q_graph_pagerank")(spark, dir).collect()
      .map(r => (r.getAs[String]("n_name"), r.getAs[Long]("pr_fp"),
        r.getAs[Int]("rank"))).toSeq
    // the oracle SQL, in Spark's integer-division spelling, over the
    // same five tables in a private session
    val s2 = spark.newSession()
    Seq("lineitem", "orders", "customer", "supplier", "nation").foreach(n =>
      s2.read.parquet(s"$dir/$n.parquet").createOrReplaceTempView(n))
    val want = s2.sql(Graph.oracles("q_graph_pagerank").replace("//", " div "))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got.size == 24, s"every remaining nation ranks: $got")
    assert(got == want, s"engine $got vs oracle $want")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}

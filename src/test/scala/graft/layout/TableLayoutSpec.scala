package graft.layout

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

class TableLayoutSpec extends SparkSuite {

  test("compaction collapses a many-small-files table into few files, losslessly") {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-compact").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"
    // simulate the reference's one-file-per-50-events bronze: 20 tiny files
    (1 to 20).foreach { b =>
      (1 to 50).map(i => (b * 1000 + i).toLong).toDF("id")
        .coalesce(1).write.mode("append").parquet(in)
    }
    assert(TableLayout.dataFileCount(spark, in) == 20)
    TableLayout.compactSmallFiles(spark, in, out)
    assert(TableLayout.dataFileCount(spark, out) == 1)   // 20 files ≪ 128MB
    assert(spark.read.parquet(out).count() == 1000)
    assert(spark.read.parquet(out).agg(sum("id")).head().getLong(0) ==
      spark.read.parquet(in).agg(sum("id")).head().getLong(0))
  }

  test("bucketed band index: incremental-dedup candidate join is shuffle-free on the corpus side") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val s = spark
    import s.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val corpus = (0L until 500L).map(i =>
        (i, s"corpus doc $i " + (0 until 25).map(j => s"w${i}x$j").mkString(" ")))
        .toDF("id", "text")
      // the persisted production artifact: band index bucketed on the join key
      graft.layout.TableLayout.writeBucketed(
        graft.operators.Dedup.bandIndex(corpus, "id", "text", numHashes = 32, bands = 8),
        "band_idx_b", Seq("band", "band_hash"), buckets = 8)
      val batch = corpus.filter($"id" % 50 === 0)
        .select(($"id" + 10000L).as("id"), concat($"text", lit(" x")).as("text"))
      val pairs = graft.operators.Dedup.incrementalNearDupPairs(
        corpus, batch, "id", "text", threshold = 0.7, numHashes = 32, bands = 8,
        corpusBands = Some(spark.table("band_idx_b")))

      val root = pairs.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
      def hasIdxScan(p: SparkPlan): Boolean = p.collect {
        case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table == "band_idx_b") => f
      }.nonEmpty
      val joins = root.collect {
        case j: SortMergeJoinExec if hasIdxScan(j) => j: SparkPlan
        case j: ShuffledHashJoinExec if hasIdxScan(j) => j: SparkPlan
      }
      assert(joins.nonEmpty, "candidate join did not plan as a shuffle join:\n" + root)
      // deepest matching join = the candidate join itself (collect is pre-order)
      val (l, r) = joins.last match {
        case j: SortMergeJoinExec => (j.left, j.right)
        case j: ShuffledHashJoinExec => (j.left, j.right)
      }
      val idxSide = if (hasIdxScan(l)) l else r
      assert(hasIdxScan(idxSide), "index scan not under the candidate join")
      assert(idxSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "the bucketed index side was re-shuffled:\n" + idxSide)
      // and the operator still answers correctly through the bucketed index
      assert(pairs.select("new_id").distinct().count() === 10)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS band_idx_b")
      graft.Materializer.library.close()
    }
  }

  test("bucketed tables join and aggregate without a shuffle on the bucket key") {
    val s = spark
    import s.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val facts = (1 to 10000).map(i => (i.toLong % 500, i.toDouble)).toDF("k", "v")
      val dims = (0 until 500).map(i => (i.toLong, s"name_$i")).toDF("k", "name")
      TableLayout.writeBucketed(facts, "facts_b", "k", buckets = 8)
      TableLayout.writeBucketed(dims, "dims_b", "k", buckets = 8)
      val joined = spark.table("facts_b").join(spark.table("dims_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), "bucketed join still shuffled:\n" + plan)
      assert(joined.count() == 10000)
      // groupBy on the bucket key: no exchange either
      val agg = spark.table("facts_b").groupBy("k").agg(sum("v"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
        "bucketed aggregation still shuffled")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L << 20)
      spark.sql("DROP TABLE IF EXISTS facts_b")
      spark.sql("DROP TABLE IF EXISTS dims_b")
    }
  }

  test("dropTable resolves db-qualified managed locations from the catalog") {
    val s = spark
    import s.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_r11db")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    TableLayout.writeBucketed(df, "graft_r11db.t", "k", buckets = 2)
    // the managed dir lives at warehouse/graft_r11db.db/t — the old
    // warehouse/<name> guess missed it and the NEXT create failed with
    // LOCATION_ALREADY_EXISTS; create-after-drop must succeed
    TableLayout.dropTable(spark, "graft_r11db.t")
    TableLayout.writeBucketed(df, "graft_r11db.t", "k", buckets = 2)
    assert(spark.table("graft_r11db.t").count() === 2)
    TableLayout.dropTable(spark, "graft_r11db.t")
    spark.sql("DROP DATABASE graft_r11db")
  }

  test("dropTable preserves an EXTERNAL table's data directory") {
    val s = spark
    import s.implicits._
    val loc = Files.createTempDirectory("graft-ext").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(loc)
    spark.sql(
      s"CREATE TABLE graft_ext_t (k BIGINT, v STRING) USING parquet " +
      s"LOCATION '$loc'")
    assert(spark.table("graft_ext_t").count() === 2)
    // DROP TABLE semantics for external tables: catalog entry goes, user
    // data stays (r11 advice — the unconditional catalog-location delete
    // would have erased it)
    TableLayout.dropTable(spark, "graft_ext_t")
    assert(spark.catalog.tableExists("graft_ext_t") === false)
    assert(spark.read.parquet(loc).count() === 2)

    // r12 review: an external table registered AT the default warehouse
    // path must also survive — the orphan-directory sweep may only run for
    // managed or catalog-less names
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val defLoc = s"$warehouse/graft_ext_def"
    Seq((3L, "c")).toDF("k", "v").write.mode("overwrite").parquet(defLoc)
    spark.sql(
      s"CREATE TABLE graft_ext_def (k BIGINT, v STRING) USING parquet " +
      s"LOCATION '$defLoc'")
    TableLayout.dropTable(spark, "graft_ext_def")
    assert(spark.catalog.tableExists("graft_ext_def") === false)
    assert(spark.read.parquet(defLoc).count() === 1)
    // r12 second pass: a REPEATED drop (idempotent cleanup script) finds no
    // catalog entry — without the sweepOrphanDir opt-in it must NOT treat
    // the preserved external data as an orphaned managed dir and delete it
    TableLayout.dropTable(spark, "graft_ext_def")
    assert(spark.read.parquet(defLoc).count() === 1)
    // the explicit opt-in (the about-to-create path) does sweep it
    TableLayout.dropTable(spark, "graft_ext_def", sweepOrphanDir = true)
    assert(!new org.apache.hadoop.fs.Path(defLoc).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(defLoc)))
  }
}

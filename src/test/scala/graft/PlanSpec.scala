package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the scale contract. Correctness says what a
  * query returns; these say how it runs: pushdown reaching parquet,
  * broadcast where a dimension is small, no shuffle where none is needed,
  * and whole-stage codegen over the hot paths.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q02 filter+projection: predicates pushed into the parquet scan") {
    val p = planOf("q02_filter_topk")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate pushed")
    // projection pruned to the 5 selected columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity") == false)
  }

  test("q01 pricing: scan reads only the 5 needed lineitem columns") {
    val p = planOf("q01_pricing")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_shipdate") && !read.contains("l_partkey"),
      s"unused columns must be pruned: $read")
  }

  test("q04 snowflake rollup: dimension side broadcast, not shuffled") {
    val p = planOf("q04_region_rollup")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q07 headways: exactly one exchange feeds window + aggregate") {
    val p = planOf("q07_headways")
    // one shuffle for the window partition keys; the groupBy extends those
    // keys so no second full shuffle of the data is needed (partial agg +
    // the final ORDER BY range exchange are expected)
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange hashpartitioning"))
    assert(exchanges <= 2, s"headways should not cascade shuffles:\n$p")
  }

  test("q05 semi join: planned as a join, not a distinct+inner rewrite") {
    val p = planOf("q05_semi_join")
    assert(p.contains("LeftSemi"), p.take(1500))
  }

  test("q18 as-of join: one window pass, no inequality join") {
    val p = planOf("q18_asof_join")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      "as-of must compose via union+window, not a quadratic join")
    assert(p.contains("Window"), p.take(1200))
  }

  test("q19 range join: planned as an equi-join on bucket keys, not BNLJ") {
    val p = planOf("q19_range_join")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"bucketed range join must hash-join:\n${p.take(1500)}")
  }

  test("co-bucketed tables join without a shuffle") {
    import graft.core.{Layout, Tables}
    Seq("li_bkt", "o_bkt").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
    Layout.writeBucketed(li, "li_bkt", "l_orderkey", 8, sortCol = Some("l_orderkey"))
    Layout.writeBucketed(o, "o_bkt", "o_orderkey", 8, sortCol = Some("o_orderkey"))
    val joined = spark.table("li_bkt")
      .join(spark.table("o_bkt"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"co-bucketed equi-join must not shuffle:\n${p.take(2000)}")
  }

  test("q11 window top-k: rank filter plans a WindowGroupLimit (bounded per-key state)") {
    // Spark's InferWindowGroupLimit turns rank()<=k into a per-partition
    // top-k pass — the difference between sorting every group fully and
    // keeping k rows per key at 100 TB
    val p = planOf("q11_window_topk")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q54 scalar zoo: the line-number predicate is pushed to parquet") {
    val p = planOf("q54_math_scalars")
    assert(p.contains("EqualTo(l_linenumber,1)"), p.take(2000))
  }

  test("q46 grouping sets: one Expand + one aggregate shuffle, not a union of scans") {
    val p = planOf("q46_grouping_sets")
    assert(p.linesIterator.count(_.contains("Expand")) >= 1)
    assert(!p.contains("Union"), "grouping sets must not plan as unioned scans")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"grouping sets reads the table once:\n${p.take(1500)}")
  }

  test("q61 session_window: sessions aggregate in one shuffle on user_id") {
    val p = planOf("q61_session_window")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"session_window should shuffle once:\n${p.take(2000)}")
  }

  private def withTempDir[A](tag: String)(f: String => A): A = {
    val root = java.nio.file.Files.createTempDirectory(tag).toFile
    try f(root.toString)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
      }
      rm(root)
    }
  }

  test("hive-partitioned scan prunes partitions on the partition predicate") {
    import org.apache.spark.sql.functions._
    withTempDir("graft-prune") { root =>
      val orders = graft.core.Tables.orders(spark, dir)
      orders.withColumn("odate", to_date(col("o_orderdate")))
        .write.partitionBy("odate").parquet(s"$root/zone")
      // target date from the source frame — no second scan of the zone
      val target = orders.select(max(to_date(col("o_orderdate")))).head().getDate(0)
      val one = spark.read.parquet(s"$root/zone").filter(col("odate") === target)
      one.collect()
      val scan = one.queryExecution.executedPlan.toString
      // the partition filter must reach the scan as a PartitionFilters
      // entry, not a post-scan Filter over every file
      assert(scan.contains("PartitionFilters: [") && scan.contains("odate"),
        scan.take(2000))
      val allParts = new java.io.File(s"$root/zone").listFiles()
        .count(_.getName.startsWith("odate="))
      assert(allParts > 10, s"fixture should span many dates, got $allParts")
      // partitions actually selected: one, not the whole zone
      val readParts = one.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount }
      assert(readParts.exists(n => n >= 1 && n < allParts), s"read $readParts of $allParts")
    }
  }

  test("schema evolution: mergeSchema unions columns, old files read as null") {
    import org.apache.spark.sql.functions._
    withTempDir("graft-evolve") { root =>
      val docs = graft.core.Tables.documents(spark, dir)
      docs.select("doc_id", "lang").write.parquet(s"$root/z/v1")
      docs.select("doc_id", "lang", "n_chars").write.parquet(s"$root/z/v2")
      val merged = spark.read.option("mergeSchema", "true").parquet(s"$root/z/*")
      assert(merged.columns.toSet == Set("doc_id", "lang", "n_chars"))
      assert(merged.count() == docs.count() * 2)
      assert(merged.filter(col("n_chars").isNull).count() == docs.count(),
        "v1 rows surface the evolved column as null")
    }
  }

  test("range-sorted layout: selective filters skip row groups the shuffled layout reads") {
    import org.apache.spark.sql.functions._
    withTempDir("graft-zorder") { root =>
      val docs = graft.core.Tables.documents(spark, dir)
      graft.core.Layout.writeRangeSorted(docs, s"$root/sorted", "doc_id", 8)
      // control: same data, same file count, keys scattered across files
      docs.repartition(8).write.parquet(s"$root/shuffled")
      def scanRows(path: String): Long = {
        val q = spark.read.parquet(path).filter(col("doc_id") < 50)
        q.collect()
        q.queryExecution.executedPlan.collectLeaves()
          .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numOutputRows").value }.get
      }
      val sortedRows = scanRows(s"$root/sorted")
      val shuffledRows = scanRows(s"$root/shuffled")
      // each tiny file is one row group, so min/max skipping is file-grain
      // here: the sorted layout touches ~1 of 8 row groups, the shuffled
      // layout matches stats in every file and surfaces far more rows
      assert(sortedRows < shuffledRows / 2,
        s"sorted scan emitted $sortedRows vs shuffled $shuffledRows")
    }
  }

  test("z-order layout prunes row groups on EITHER dimension") {
    import org.apache.spark.sql.functions._
    withTempDir("graft-zorder2d") { root =>
      val ev = graft.core.Tables.events(spark, dir)
        .select("event_id", "user_id", "event_type")
      val Array(loE, hiE, loU, hiU) = ev.agg(
        min("event_id").cast("double"), max("event_id").cast("double"),
        min("user_id").cast("double"), max("user_id").cast("double"))
        .head().toSeq.map(_.asInstanceOf[Double]).toArray
      graft.core.Layout.writeZOrdered(ev, s"$root/z", "event_id", "user_id", 16)
      // control: linear clustering on event_id only — user_id scatters
      graft.core.Layout.writeRangeSorted(ev, s"$root/linear", "event_id", 16)
      def scanRows(path: String, pred: org.apache.spark.sql.Column): Long = {
        val q = spark.read.parquet(path).filter(pred)
        q.collect()
        q.queryExecution.executedPlan.collectLeaves()
          .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numOutputRows").value }.get
      }
      // predicate on the SECOND dimension (bottom ~12%): the z layout
      // clusters user_id's top bits into file ranges, the linear layout
      // spreads them into every file. INTEGER literals — a double cut
      // would wrap the long column in a cast and block parquet pushdown
      val uCut = (loU + (hiU - loU) * 0.12).toLong
      val zU = scanRows(s"$root/z", col("user_id") <= uCut)
      val linU = scanRows(s"$root/linear", col("user_id") <= uCut)
      assert(zU < linU / 2, s"z-order scanned $zU vs linear $linU on dim B")
      // and the FIRST dimension still prunes on the z layout
      val eCut = (loE + (hiE - loE) * 0.12).toLong
      val zE = scanRows(s"$root/z", col("event_id") <= eCut)
      val total = ev.count()
      assert(zE < total / 2, s"z-order scanned $zE of $total on dim A")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    import org.apache.spark.sql.functions._
    // the 100 TB shape: a selective dimension filter should cut fact-scan
    // volume BEFORE the shuffle via Spark's runtime bloom filter (AQE
    // row-level runtime filtering) — assert the engine's sessions have it
    // available and that it actually injects on our data layout
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // local fixture sizes are below the production thresholds — drop
      // them so the test exercises the same plan shape a 100 TB run gets
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = graft.core.Tables.lineitem(spark, dir)
      val o = graft.core.Tables.orders(spark, dir)
        .filter(col("o_totalprice") > 500000.0) // selective creation side
      val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey").agg(sum("l_quantity").as("q"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") || plan.contains("BloomFilter"),
        s"runtime bloom filter must inject on the fact side:\n${plan.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("sweep: no query in the inventory plans a CartesianProduct") {
    // every intentional pair loop broadcasts one side (BNLJ) — an actual
    // cartesian (both sides shuffled, |A|×|B| partitions) would mean a
    // broadcast hint or blocking key was lost somewhere
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, build) =>
      val plan = build(spark, dir).queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian:\n${plan.take(1200)}")
    }
  }

  test("whole-stage codegen covers the aggregation hot path") {
    // AQE annotates codegen stages only in the final (post-execution) plan
    val df = SparkEntry.queries("q01_pricing")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    assert(p.contains("*("), s"agg pipeline must be codegen'd:\n${p.take(1500)}")
  }
}

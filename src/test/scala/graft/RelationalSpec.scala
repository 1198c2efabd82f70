package graft

import java.nio.file.Files

import graft.queries.IngestQueries
import org.apache.spark.sql.functions._

/**
 * Relational-surface specs beyond the oracle gate: the approximation
 * bound of HLL distinct counts (q13 has no DuckDB oracle by design) and
 * the bucketed co-located join — the zero-shuffle join layout that a
 * 100 TB fact-fact join relies on.
 */
class RelationalSpec extends SparkSpec {

  test("approx_count_distinct stays within its 1% rsd bound of exact") {
    val valid = IngestQueries.valid(spark, sfDir)
    val joined = valid.groupBy("name")
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"),
        countDistinct(col("user_id")).as("exact"))
      .withColumn("rel_err",
        abs(col("approx") - col("exact")).cast("double") / col("exact"))
    val maxErr = joined.agg(max(col("rel_err"))).head().getDouble(0)
    // 0.01 rsd => observed error beyond 5% would mean the sketch is broken
    assert(maxErr < 0.05, s"max relative error $maxErr")
  }

  test("Profile approx mode: HLL distincts within bounds, no Expand in the plan") {
    import graft.model.Tables
    val li = Tables.lineitem(spark, sfDir)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val exact = graft.ops.Profile.numeric(li, cols)
    val approx = graft.ops.Profile.numeric(li, cols, approx = true)
    val joined = exact.select(col("col_name"), col("n_distinct").as("nd_e"))
      .join(approx.select(col("col_name"), col("n_distinct").as("nd_a")), "col_name")
      .withColumn("rel_err",
        abs(col("nd_a") - col("nd_e")).cast("double") / col("nd_e"))
    assert(joined.agg(max("rel_err")).head().getDouble(0) < 0.10)
    // everything except n_distinct must be identical
    val other = exact.drop("n_distinct").exceptAll(approx.drop("n_distinct"))
    assert(other.count() === 0)
    // exact pays the Expand row-multiplication; approx must not
    assert(exact.queryExecution.executedPlan.toString.contains("Expand"))
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"),
      "approx profile should be a plain partial-aggregate pass")
  }

  test("percentile_approx tracks exact percentiles within its rank bound") {
    val valid = IngestQueries.valid(spark, sfDir)
    val both = valid.groupBy("name").agg(
      expr("percentile(value, 0.5)").as("exact50"),
      expr("percentile_approx(value, 0.5, 1000)").as("approx50"),
      expr("percentile(value, 0.05)").as("lo"),
      expr("percentile(value, 0.95)").as("hi"))
    // accuracy=1000 bounds rank error to ~0.1%; allow 2% of the value
    // spread so the assertion is robust to small groups
    val bad = both.filter(
      abs(col("approx50") - col("exact50")) > (col("hi") - col("lo")) * 0.02)
    assert(bad.count() === 0)
  }

  test("salted join is row-identical to the plain join and spreads the key") {
    val l = graft.model.Tables.lineitem(spark, sfDir)
      .withColumnRenamed("l_orderkey", "okey")
      .select("okey", "l_partkey", "l_extendedprice")
    val o = graft.model.Tables.orders(spark, sfDir)
      .withColumnRenamed("o_orderkey", "okey")
      .select("okey", "o_orderpriority")
    val salted = graft.ops.Salted.saltedJoin(l, o, "okey", col("l_partkey"), 8)
    val plain = l.join(o, "okey")
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
    // the salt really spreads: all 8 sub-keys occupied on real data
    val saltsUsed = l.select(pmod(col("l_partkey"), lit(8L)).as("s"))
      .distinct().count()
    assert(saltsUsed === 8)
    // and the physical join really runs on (okey, __salt), not okey alone
    val joinPlan = graft.ops.Salted
      .saltedJoin(l, o, "okey", col("l_partkey"), 8)
      .queryExecution.executedPlan.toString
    assert(joinPlan.contains("__salt"))
  }

  test("get_json_object == from_json + element_at on the props JSON column") {
    // the two JSON access paths SURVEY §2.5 maps T10 to must agree on
    // the real events payload (get_json_object avoids materializing the
    // whole map when one key is probed)
    val e = graft.model.Tables.events(spark, sfDir)
    val both = e.select(
      get_json_object(col("props"), "$.k").as("a"),
      element_at(from_json(col("props"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)), "k").as("b"))
    assert(both.count() > 0)
    assert(both.filter(!(col("a") <=> col("b"))).count() === 0)
    assert(both.filter(col("a").isNotNull).count() > 0)
  }

  test("AQE splits a skewed sort-merge join (skew=true in the adaptive plan)") {
    // the automatic counterpart to ops.Salted: one hot key dominating a
    // shuffle partition is split by AQE at runtime — assert the final
    // adaptive plan actually took the skew path, with thresholds scaled
    // down to test-data sizes
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val big = s2.range(0, 300000).select(
      when(col("id") % 2 === 0, 0L).otherwise(col("id")).as("k"),
      col("id").as("v"))
    val small = s2.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
    val j = big.join(small, "k")
    // execute THIS dataset's own QueryExecution (count() would plan a
    // separate one and leave j's adaptive plan unfinalized)
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"expected a skew-split sort-merge join in:\n${plan.take(1500)}")
  }

  test("bucketed tables join without an exchange (co-located join)") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path

    // external bucketed tables (warehouse.dir is a static conf; an
    // explicit path keeps the test data out of the repo cwd)
    graft.model.Tables.orders(s2, sfDir)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders_b")
      .mode("overwrite").saveAsTable("orders_b")
    graft.model.Tables.lineitem(s2, sfDir)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/lineitem_b")
      .mode("overwrite").saveAsTable("lineitem_b")

    val joined = s2.table("lineitem_b")
      .join(s2.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString

    // the whole point of bucketing: join with NO shuffle on either side
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected no shuffle exchange in:\n$plan")
    // and it still computes the right thing
    val expected = graft.model.Tables.lineitem(s2, sfDir)
      .join(graft.model.Tables.orders(s2, sfDir),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(joined.count() === expected)
  }

  test("Bucketed.write: point lookup prunes to ONE bucket file; rewrite is idempotent") {
    import graft.pipeline.Bucketed
    val wh = Files.createTempDirectory("graft_wh_prune").toString
    val s2 = spark.newSession()
    // without a downstream join/agg needing the hash distribution, the
    // DisableUnnecessaryBucketedScan rule turns the bucketed scan off
    // (and with it the bucket-filter pruning); a point-lookup serving
    // session keeps it on explicitly
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false")
    Bucketed.write(graft.model.Tables.lineitem(s2, sfDir), "lineitem_bp",
      s"$wh/lineitem_bp", "l_orderkey", 8)
    // re-running write must not throw TableAlreadyExists (drop+overwrite)
    Bucketed.write(graft.model.Tables.lineitem(s2, sfDir), "lineitem_bp",
      s"$wh/lineitem_bp", "l_orderkey", 8)
    val k = graft.model.Tables.lineitem(s2, sfDir)
      .agg(min(col("l_orderkey"))).head().getLong(0)
    val q = Bucketed.read(s2, "lineitem_bp")
      .filter(col("l_orderkey") === lit(k))
    val plan = q.queryExecution.executedPlan.toString
    // the read-side half of the 100 TB layout argument: the planner
    // hashes the literal and opens 1 of the 8 bucket files
    assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
      s"expected single-bucket pruning in:\n${plan.take(2000)}")
    val expected = graft.model.Tables.lineitem(s2, sfDir)
      .filter(col("l_orderkey") === lit(k)).count()
    assert(q.count() === expected && expected > 0)
  }

  test("Bucketed.compact: appends collapse to one file per bucket; " +
      "pruning + zero-exchange pins survive; non-Spark layouts refused") {
    import graft.pipeline.{Bucketed, Maintenance}
    val wh = Files.createTempDirectory("graft_wh_compact").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val li = graft.model.Tables.lineitem(s2, sfDir)
    val od = graft.model.Tables.orders(s2, sfDir)
    Bucketed.write(li, "lineitem_bc", s"$wh/lineitem_bc", "l_orderkey", 8)
    Bucketed.write(od, "orders_bc", s"$wh/orders_bc", "o_orderkey", 8)
    // two appends: the table now holds 3x the rows across 3 file sets
    Bucketed.append(li, "lineitem_bc", "l_orderkey", 8)
    Bucketed.append(li, "lineitem_bc", "l_orderkey", 8)
    val before = Maintenance.dataFiles(s2, s"$wh/lineitem_bc").size
    assert(before > 8, s"appends should accrete files, saw $before")
    val rowsBefore = Bucketed.read(s2, "lineitem_bc").count()
    val sumBefore = Bucketed.read(s2, "lineitem_bc")
      .agg(sum(col("l_quantity"))).head().getDouble(0)
    Bucketed.compact(s2, "lineitem_bc")
    // file count collapses to exactly one per bucket
    val after = Maintenance.dataFiles(s2, s"$wh/lineitem_bc")
    assert(after.size === 8, s"expected 8 bucket files, got ${after.map(_.getName)}")
    // row content unchanged (count + checksum)
    assert(Bucketed.read(s2, "lineitem_bc").count() === rowsBefore)
    assert(Bucketed.read(s2, "lineitem_bc")
      .agg(sum(col("l_quantity"))).head().getDouble(0) === sumBefore)
    // q219's pin: the fact-fact join still needs NO exchange on either side
    val j = Bucketed.read(s2, "lineitem_bc")
      .join(Bucketed.read(s2, "orders_bc"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("o_orderpriority"))
    j.count()
    val jp = j.queryExecution.executedPlan.toString
    assert(jp.contains("SortMergeJoin") && !jp.contains("Exchange hashpartitioning"),
      s"compacted bucketed join shuffles: ${jp.take(2000)}")
    // q234's pin: point lookup still prunes to ONE bucket file
    val k = li.agg(min(col("l_orderkey"))).head().getLong(0)
    val q = Bucketed.read(s2, "lineitem_bc").filter(col("l_orderkey") === lit(k))
    assert(q.queryExecution.executedPlan.toString
      .contains("SelectedBucketsCount: 1 out of 8"))
    assert(q.count() === li.filter(col("l_orderkey") === lit(k)).count() * 3)
    // the plain compaction jobs STILL refuse the bucketed dir
    intercept[IllegalStateException](
      Maintenance.compactDir(s2, s"$wh/lineitem_bc"))
    // and compact() refuses a layout whose bucket mapping it cannot
    // parse (a file without the _NNNNN component = non-Spark layout)
    val f = Maintenance.dataFiles(s2, s"$wh/orders_bc").head
    val renamed = new java.io.File(f.toUri.getPath)
    assert(renamed.renameTo(new java.io.File(renamed.getParent, "import-0.parquet")))
    val e = intercept[IllegalStateException](Bucketed.compact(s2, "orders_bc"))
    assert(e.getMessage.contains("non-Spark bucket layout"))
  }

  test("Bucketed.compact lands one file per bucket under the default session confs") {
    import graft.pipeline.{Bucketed, Maintenance}
    val wh = Files.createTempDirectory("graft_wh_default").toString
    val s2 = spark.newSession()
    // the confs that once left several files per bucket, at their defaults
    assert(s2.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled") == "true")
    assert(s2.conf.get("spark.sql.adaptive.enabled") == "true")
    val od = graft.model.Tables.orders(s2, sfDir)
    // several files of unequal size per bucket: a scan that packs files
    // into splits regardless of bucket mixes buckets in one write task
    Bucketed.write(od.repartition(4), "orders_bd", s"$wh/orders_bd", "o_orderkey", 4)
    Bucketed.append(od.filter(col("o_orderkey") % 3 === 0).repartition(3),
      "orders_bd", "o_orderkey", 4)
    val rowsBefore = Bucketed.read(s2, "orders_bd").count()
    Bucketed.compact(s2, "orders_bd")
    val after = Maintenance.dataFiles(s2, s"$wh/orders_bd").map(_.getName)
    assert(after.size === 4, s"expected 4 bucket files, got $after")
    assert(after.map(_.replaceAll(".*_(\\d{5}).*", "$1")).toSet ===
      Set("00000", "00001", "00002", "00003"))
    assert(Bucketed.read(s2, "orders_bd").count() === rowsBefore)
  }

  test("Maintenance refuses to compact a bucketed table directory") {
    import graft.pipeline.{Bucketed, Maintenance}
    val wh = Files.createTempDirectory("graft_wh_guard").toString
    val s2 = spark.newSession()
    Bucketed.write(graft.model.Tables.orders(s2, sfDir), "orders_bg",
      s"$wh/orders_bg", "o_orderkey", 4)
    val filesBefore = Maintenance.dataFiles(s2, s"$wh/orders_bg")
      .map(_.getName).toSet
    val e = intercept[IllegalStateException](
      Maintenance.compactDir(s2, s"$wh/orders_bg"))
    assert(e.getMessage.contains("BUCKETED") &&
      e.getMessage.contains("bucket-file mapping"))
    val e2 = intercept[IllegalStateException](
      Maintenance.compactHivePartitioned(s2, s"$wh/orders_bg", "o_orderkey"))
    assert(e2.getMessage.contains("BUCKETED"))
    // the refusal left the layout untouched: same files, join still
    // co-located after the attempted compaction
    assert(Maintenance.dataFiles(s2, s"$wh/orders_bg")
      .map(_.getName).toSet === filesBefore)
    // a plain (non-bucketed) dir still compacts fine
    val flat = s"$wh/flat"
    graft.model.Tables.orders(s2, sfDir).limit(100)
      .repartition(4).write.parquet(flat)
    Maintenance.compactDir(s2, flat)
    assert(s2.read.parquet(flat).count() === 100L)
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.acid.{CompactionHistory, TxnDdl, Versioned}
import graft.plans.{ExplainDdl, GraftExplain}
import graft.security.AccessPolicies

/** EXPLAIN DEPENDENCY / EXPLAIN AUTHORIZATION (ExplainTask.java:88) and
  * the SHOW COMPACTIONS audit log (DDLTask.showCompactions:2691). */
class ExplainSpec extends AnyFunSuite {
  import TestSession._

  test("EXPLAIN DEPENDENCY reports tables, views and pruned partitions") {
    val wh = Files.createTempDirectory("graft_explain").toString
    Tables.orders(spark, sf).createOrReplaceTempView("exp_orders")
    spark.read.parquet(s"$sf/customer.parquet").createOrReplaceTempView("exp_customer")

    // path-based scan: the file root is the dependency
    val deps = GraftExplain.inputs(spark.table("exp_customer"))
    assert(deps.exists { case (n, t) => n.contains("customer.parquet") && t == "PATH" })

    // partitioned table + a pruning filter: only matching partitions appear
    val part = s"$wh/events_by_flag"
    spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("flag", col("o_orderstatus"))
      .write.partitionBy("flag").parquet(part)
    val q = spark.read.parquet(part).filter(col("flag") === "F")
      .groupBy(col("o_orderpriority")).count()
    val parts = GraftExplain.partitions(q)
    assert(parts == Seq("events_by_flag@flag=F"),
      s"expected only the pruned partition, got $parts")
    val all = GraftExplain.partitions(spark.read.parquet(part).groupBy(col("flag")).count())
    assert(all.size == 3, s"unfiltered scan depends on every partition: $all")

    // joins see through both sides; the one-row DDL shape carries both
    val joined = spark.table("exp_customer").join(
      spark.read.parquet(s"$sf/nation.parquet"),
      col("c_nationkey") === col("n_nationkey"))
    val row = GraftExplain.dependency(spark, joined).collect()(0)
    val names = row.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    assert(names.exists(_.contains("customer.parquet")) &&
      names.exists(_.contains("nation.parquet")))
  }

  test("EXPLAIN AUTHORIZATION verdicts reflect EFFECTIVE privileges: a role grant flips allowed with activation") {
    import graft.security.Roles
    val dir = Files.createTempDirectory("graft_explain_roles").toString + "/guarded"
    Tables.nation(spark, sf).write.parquet(dir)
    AccessPolicies.clear(); Roles.clear()
    Roles.addAdmin("root")
    spark.conf.set("graft.auth.user", "root")
    Roles.setCurrentRole(spark, "admin")
    try {
      AccessPolicies.protect(dir)
      Roles.create(spark, "readers")
      Roles.grantToUser(spark, "readers", "lena")
      AccessPolicies.grant(dir, Roles.rolePrincipal("readers"), "SELECT")
      val probe = spark.read.parquet(dir)
      def allowed(): Boolean = GraftExplain.authorization(spark, probe)
        .collect().forall(_.getBoolean(4))
      spark.conf.set("graft.auth.user", "lena")
      spark.conf.unset("graft.auth.roles")
      assert(allowed()) // role active by default
      Roles.setCurrentRole(spark, "none")
      assert(!allowed()) // deactivated: direct grants only, none held
      Roles.setCurrentRole(spark, "readers")
      assert(allowed())
    } finally {
      AccessPolicies.clear(); Roles.clear()
      spark.conf.unset("graft.auth.user"); spark.conf.unset("graft.auth.roles")
    }
  }

  test("EXPLAIN AUTHORIZATION reports governance verdicts without running or throwing") {
    val dir = Files.createTempDirectory("graft_explain_auth").toString + "/secret"
    Tables.orders(spark, sf).write.parquet(dir)
    AccessPolicies.protect(dir)
    try {
      spark.conf.set("graft.auth.user", "mallory")
      val df = spark.read.parquet(dir).filter(col("o_orderstatus") === "O")
      val rows = GraftExplain.authorization(spark, df).collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[String]("principal") == "mallory")
      assert(rows(0).getAs[String]("privilege") == "SELECT")
      assert(!rows(0).getAs[Boolean]("allowed"), "ungranted principal is flagged")
      assert(rows(0).getAs[String]("governed_by") != null)

      AccessPolicies.grant(dir, "mallory", "SELECT")
      val ok = GraftExplain.authorization(spark, spark.read.parquet(dir)).collect()
      assert(ok(0).getAs[Boolean]("allowed"))

      // ungoverned input: allowed, with no governing object
      val free = GraftExplain.authorization(spark,
        spark.read.parquet(s"$sf/region.parquet")).collect()
      assert(free(0).getAs[Boolean]("allowed") &&
        free(0).getAs[String]("governed_by") == null)
    } finally {
      spark.conf.unset("graft.auth.user")
      AccessPolicies.unprotect(dir)
    }
  }

  test("EXPLAIN DDL routes through the passthrough grammar") {
    Tables.nation(spark, sf).createOrReplaceTempView("exp_nation")
    assert(ExplainDdl.matches("EXPLAIN DEPENDENCY SELECT * FROM exp_nation"))
    assert(ExplainDdl.matches("explain authorization select 1"))
    assert(!ExplainDdl.matches("EXPLAIN SELECT 1"), "plain EXPLAIN stays native")
    val dep = ExplainDdl.run(spark, "EXPLAIN DEPENDENCY SELECT n_name FROM exp_nation")
    assert(dep.columns.toSeq == Seq("input_tables", "input_partitions"))
  }

  test("compactions are recorded and SHOW COMPACTIONS reads them back in order") {
    val svc = Files.createTempDirectory("graft_compact_hist").toString + "/txn"
    val base = Files.createTempDirectory("graft_compact_tbl").toString + "/t"
    spark.conf.set("graft.txn.dir", svc)
    try {
      Versioned.commit(spark, base,
        spark.range(10).select(col("id").as("k"), lit("a").as("v")))
      Versioned.commitDelta(spark, base, Seq("k"),
        upserts = spark.range(3).select(col("id").as("k"), lit("x").as("v")))
      Versioned.compactDeltas(spark, base, Seq("k"))
      Versioned.commit(spark, base, spark.range(5).select(col("id").as("k"), lit("y").as("v")))
      Versioned.vacuum(spark, base, keep = 1)

      val hist = TxnDdl.run(spark, "SHOW COMPACTIONS").collect()
      val types = hist.map(_.getAs[String]("type")).toSeq
      assert(types.count(_ == "MAJOR") == 1, s"one major compaction: $types")
      assert(types.count(_ == "CLEANER") == 1, s"one vacuum: $types")
      assert(hist.forall(_.getAs[String]("state") == "succeeded"))
      assert(hist.forall(_.getAs[String]("tbl") == "t"))
      assert(hist.forall(r => r.getAs[Long]("end_ms") >= r.getAs[Long]("start_ms")))

      // quotes, backslashes and line breaks in a table name or a failure
      // message read back verbatim
      val odd = "we\"ird\\x"
      val why = "failed: no \"v\" in C:\\tmp\nsecond line"
      CompactionHistory.record(spark, odd, Some("ds=\"1\""), "MAJOR", why, System.currentTimeMillis())
      val back = TxnDdl.run(spark, "SHOW COMPACTIONS").collect()
        .filter(_.getAs[String]("tbl") != "t")
      assert(back.map(r => (r.getAs[String]("tbl"), r.getAs[String]("part"),
        r.getAs[String]("state"))).toSeq == Seq((odd, "ds=\"1\"", why)))
    } finally spark.conf.unset("graft.txn.dir")
  }

  test("without a service dir, compaction still works and history is silently skipped") {
    val base = Files.createTempDirectory("graft_compact_nohist").toString + "/t"
    Versioned.commit(spark, base, spark.range(4).select(col("id").as("k"), lit("a").as("v")))
    Versioned.commitDelta(spark, base, Seq("k"),
      upserts = spark.range(2).select(col("id").as("k"), lit("b").as("v")))
    val v = Versioned.compactDeltas(spark, base, Seq("k"))
    assert(v > 0)
    assert(Versioned.read(spark, base).count() == 4)
    intercept[IllegalStateException] { TxnDdl.run(spark, "SHOW COMPACTIONS") }
  }
}

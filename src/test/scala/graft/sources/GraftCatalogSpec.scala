package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.catalog.GraftCatalog

class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.graft_cat",
    classOf[GraftCatalog].getName)

  test("CTAS, INSERT, SELECT round-trip through the catalog") {
    GraftCatalog.reset()
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "tag", "v").createOrReplaceTempView("cat_src")
    spark.sql(
      "CREATE TABLE graft_cat.ns.t1 AS SELECT * FROM cat_src WHERE id <= 2")
    spark.sql(
      "INSERT INTO graft_cat.ns.t1 SELECT * FROM cat_src WHERE id > 2")
    val got = spark.sql("SELECT id, tag, v FROM graft_cat.ns.t1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)))
  }

  test("DELETE FROM evaluates predicates source-side") {
    GraftCatalog.reset()
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0))
      .toDF("id", "tag", "v").createOrReplaceTempView("cat_src2")
    spark.sql("CREATE TABLE graft_cat.ns.t2 AS SELECT * FROM cat_src2")
    spark.sql("DELETE FROM graft_cat.ns.t2 WHERE tag = 'a'")
    assert(spark.sql("SELECT id FROM graft_cat.ns.t2 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 4L))
    spark.sql("DELETE FROM graft_cat.ns.t2 WHERE v >= 15.0 AND id IN (2, 9)")
    assert(spark.sql("SELECT id FROM graft_cat.ns.t2")
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("INSERT OVERWRITE truncates then writes") {
    GraftCatalog.reset()
    Seq((1L, "x"), (2L, "y")).toDF("id", "s")
      .createOrReplaceTempView("cat_src3")
    spark.sql("CREATE TABLE graft_cat.ns.t3 AS SELECT * FROM cat_src3")
    spark.sql(
      "INSERT OVERWRITE graft_cat.ns.t3 SELECT id + 10, s FROM cat_src3")
    assert(spark.sql("SELECT id FROM graft_cat.ns.t3 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(11L, 12L))
  }

  test("SHOW TABLES / DESCRIBE / DROP route through the plugin") {
    GraftCatalog.reset()
    spark.sql("CREATE TABLE graft_cat.ns.a (id BIGINT, nm STRING)")
    spark.sql("CREATE TABLE graft_cat.other.b (k INT)")
    val shown = spark.sql("SHOW TABLES IN graft_cat.ns")
      .collect().map(_.getString(1)).toSet
    assert(shown == Set("a"), shown.toString)
    val desc = spark.sql("DESCRIBE TABLE graft_cat.ns.a")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("id") == "bigint" && desc("nm") == "string")
    spark.sql("DROP TABLE graft_cat.ns.a")
    assert(spark.sql("SHOW TABLES IN graft_cat.ns").collect().isEmpty)
  }

  test("VERSION AS OF serves immutable per-commit snapshots") {
    GraftCatalog.reset()
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
      .toDF("id", "v").createOrReplaceTempView("tt_src")
    spark.sql(
      "CREATE TABLE graft_cat.ns.tt AS SELECT * FROM tt_src WHERE id = 1")
    spark.sql("INSERT INTO graft_cat.ns.tt SELECT * FROM tt_src WHERE id > 1")
    spark.sql("DELETE FROM graft_cat.ns.tt WHERE id = 2")
    def ids(q: String) = spark.sql(q).collect().map(_.getLong(0)).sorted.toSeq
    // v0 = empty at creation; v1 = CTAS; v2 = +insert; v3 = post-delete
    assert(ids("SELECT id FROM graft_cat.ns.tt VERSION AS OF 0").isEmpty)
    assert(ids("SELECT id FROM graft_cat.ns.tt VERSION AS OF 1") == Seq(1L))
    assert(ids("SELECT id FROM graft_cat.ns.tt VERSION AS OF 2") ==
      Seq(1L, 2L, 3L))
    assert(ids("SELECT id FROM graft_cat.ns.tt VERSION AS OF 3") ==
      Seq(1L, 3L))
    assert(ids("SELECT id FROM graft_cat.ns.tt") == Seq(1L, 3L))
    // old versions are immutable: the DELETE did not rewrite history
    assert(ids("SELECT id FROM graft_cat.ns.tt VERSION AS OF 2") ==
      Seq(1L, 2L, 3L))
    // out-of-range / non-numeric versions fail the statement up front
    intercept[Exception] {
      spark.sql("SELECT id FROM graft_cat.ns.tt VERSION AS OF 9").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT id FROM graft_cat.ns.tt VERSION AS OF 'x'").collect()
    }
  }

  test("TIMESTAMP AS OF binds to the latest commit at or before it") {
    GraftCatalog.reset()
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
      .createOrReplaceTempView("ts_src")
    spark.sql(
      "CREATE TABLE graft_cat.ns.ts AS SELECT * FROM ts_src WHERE id = 1")
    Thread.sleep(5) // commit clock is ms-resolution
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql("INSERT INTO graft_cat.ns.ts SELECT * FROM ts_src WHERE id = 2")
    def ids(q: String) = spark.sql(q).collect().map(_.getLong(0)).sorted.toSeq
    val at = new java.sql.Timestamp(betweenMs).toString
    // between CTAS and INSERT → sees only the CTAS row
    assert(ids(s"SELECT id FROM graft_cat.ns.ts TIMESTAMP AS OF '$at'") ==
      Seq(1L))
    // now → both
    val now = new java.sql.Timestamp(System.currentTimeMillis() + 1000)
      .toString
    assert(ids(s"SELECT id FROM graft_cat.ns.ts TIMESTAMP AS OF '$now'") ==
      Seq(1L, 2L))
    // before the table existed → fails up front
    intercept[Exception] {
      spark.sql("SELECT id FROM graft_cat.ns.ts " +
        "TIMESTAMP AS OF '1999-01-01 00:00:00'").collect()
    }
  }

  test("ALTER TABLE evolves the schema; old snapshots keep theirs") {
    GraftCatalog.reset()
    Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
      .createOrReplaceTempView("evo_src")
    spark.sql("CREATE TABLE graft_cat.ns.evo AS SELECT * FROM evo_src")
    spark.sql("ALTER TABLE graft_cat.ns.evo ADD COLUMN score DOUBLE")
    // existing rows null-fill the added column
    val filled = spark.sql("SELECT id, score FROM graft_cat.ns.evo")
      .collect().map(r => (r.getLong(0), r.isNullAt(1))).sortBy(_._1).toSeq
    assert(filled == Seq((1L, true), (2L, true)))
    // new era inserts carry the column
    spark.sql("INSERT INTO graft_cat.ns.evo VALUES (3, 'c', 0.5)")
    spark.sql("ALTER TABLE graft_cat.ns.evo RENAME COLUMN tag TO label")
    spark.sql("ALTER TABLE graft_cat.ns.evo DROP COLUMN id")
    assert(spark.table("graft_cat.ns.evo").columns.toSeq ==
      Seq("label", "score"))
    val cur = spark.sql(
      "SELECT label, score FROM graft_cat.ns.evo ORDER BY label")
      .collect().map(r =>
        (r.getString(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toSeq
    assert(cur == Seq(("a", -1.0), ("b", -1.0), ("c", 0.5)), s"got $cur")
    // v1 (pre-ALTER CTAS snapshot) is immutable: original shape + rows
    val v1 = spark.sql("SELECT id, tag FROM graft_cat.ns.evo VERSION AS OF 1")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(v1 == Seq((1L, "a"), (2L, "b")))
    // the old snapshot does NOT have the added column
    intercept[Exception] {
      spark.sql("SELECT score FROM graft_cat.ns.evo VERSION AS OF 1")
        .collect()
    }
    // and the current table no longer has the dropped one
    intercept[Exception] {
      spark.sql("SELECT id FROM graft_cat.ns.evo").collect()
    }
    // unsupported change kinds fail without committing anything
    val vBefore = spark.sql("DESCRIBE TABLE graft_cat.ns.evo").collect()
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.ns.evo ALTER COLUMN score TYPE STRING")
    }
    assert(spark.sql("DESCRIBE TABLE graft_cat.ns.evo").collect()
      .map(_.toString).toSeq == vBefore.map(_.toString).toSeq)
  }

  test("MERGE INTO rewrites through the copy-on-write row-level path") {
    GraftCatalog.reset()
    Seq((1L, 10.0, "N"), (2L, 20.0, "R"), (3L, 30.0, "N"))
      .toDF("k", "q", "f").createOrReplaceTempView("mrg_t")
    Seq((2L, 5.0, "N"), (3L, 7.0, "R"), (4L, 9.0, "A"))
      .toDF("k", "q", "f").createOrReplaceTempView("mrg_s")
    spark.sql("CREATE TABLE graft_cat.ns.mg AS SELECT * FROM mrg_t")
    spark.sql("""MERGE INTO graft_cat.ns.mg t USING mrg_s s ON t.k = s.k
      WHEN MATCHED AND s.f = 'R' THEN DELETE
      WHEN MATCHED THEN UPDATE SET q = t.q + s.q
      WHEN NOT MATCHED THEN INSERT *""")
    val got = spark.sql("SELECT k, q, f FROM graft_cat.ns.mg ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSeq
    // k=1 untouched, k=2 updated (DELETE clause didn't fire: s.f='N'),
    // k=3 deleted (s.f='R'), k=4 inserted
    assert(got == Seq((1L, 10.0, "N"), (2L, 25.0, "R"), (4L, 9.0, "A")),
      s"got $got")
    // the merge committed ONE new snapshot on top of CTAS
    val v1 = spark.sql("SELECT k FROM graft_cat.ns.mg VERSION AS OF 1")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(v1 == Seq(1L, 2L, 3L))
  }

  test("UPDATE rewrites through the same row-level path") {
    GraftCatalog.reset()
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "q")
      .createOrReplaceTempView("upd_src")
    spark.sql("CREATE TABLE graft_cat.ns.up AS SELECT * FROM upd_src")
    spark.sql("UPDATE graft_cat.ns.up SET q = q * 2 WHERE k >= 2")
    val got = spark.sql("SELECT k, q FROM graft_cat.ns.up ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 40.0), (3L, 60.0)), s"got $got")
  }

  test("partitioned tables prune partitions for partition-col filters") {
    GraftCatalog.reset()
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0), (4L, "c", 4.0))
      .toDF("id", "tag", "v").createOrReplaceTempView("part_src")
    spark.sql("""CREATE TABLE graft_cat.ns.pt (id BIGINT, tag STRING,
      v DOUBLE) PARTITIONED BY (tag)""")
    spark.sql("INSERT INTO graft_cat.ns.pt SELECT id, tag, v FROM part_src")
    val q = spark.sql("SELECT id FROM graft_cat.ns.pt WHERE tag = 'a'")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // the partition filter is FULLY pushed and prunes to 1 of 3
    // partitions — visible in the scan description
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("parts=1"),
      s"expected a 1-partition pruned scan:\n$plan")
    // unpartitioned predicates don't push; all partitions plan
    val q2 = spark.sql("SELECT id FROM graft_cat.ns.pt WHERE v > 1.5")
    assert(q2.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L, 4L))
    assert(q2.queryExecution.executedPlan.toString.contains("parts=3"))
  }

  test("partitioned inserts cluster rows by partition columns") {
    GraftCatalog.reset()
    spark.sql(
      "CREATE TABLE graft_cat.ns.wd (id BIGINT, tag STRING) PARTITIONED BY (tag)")
    // the connector's RequiresDistributionAndOrdering makes the
    // planner insert a hash Exchange on the partition column — the
    // anti-small-files clustering a file-based format relies on
    val plan = spark.sql("""EXPLAIN INSERT INTO graft_cat.ns.wd
      SELECT CAST(id AS BIGINT), CAST(id % 3 AS STRING) FROM range(100)""")
      .collect().head.getString(0)
    assert(plan.contains("hashpartitioning(tag"),
      s"expected a clustered write exchange on tag:\n$plan")
    // and the write itself lands correctly
    spark.sql("""INSERT INTO graft_cat.ns.wd
      SELECT CAST(id AS BIGINT), CAST(id % 3 AS STRING) FROM range(100)""")
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.wd")
      .collect().head.getLong(0) == 100L)
  }

  test("SHOW PARTITIONS and ALTER ADD/DROP PARTITION route through " +
      "partition management") {
    GraftCatalog.reset()
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "tag")
      .createOrReplaceTempView("pm_src")
    spark.sql(
      "CREATE TABLE graft_cat.ns.pm (id BIGINT, tag STRING) PARTITIONED BY (tag)")
    spark.sql("INSERT INTO graft_cat.ns.pm SELECT * FROM pm_src")
    def parts = spark.sql("SHOW PARTITIONS graft_cat.ns.pm")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(parts == Seq("tag=a", "tag=b"), s"got $parts")
    // ADD PARTITION registers an (empty) partition
    spark.sql("ALTER TABLE graft_cat.ns.pm ADD PARTITION (tag='z')")
    assert(parts == Seq("tag=a", "tag=b", "tag=z"), s"got $parts")
    // duplicate registration fails
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.ns.pm ADD PARTITION (tag='a')")
    }
    // DROP PARTITION deletes the partition's rows as a commit
    spark.sql("ALTER TABLE graft_cat.ns.pm DROP PARTITION (tag='a')")
    assert(parts == Seq("tag=b", "tag=z"), s"got $parts")
    assert(spark.sql("SELECT id FROM graft_cat.ns.pm")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // partition columns are protected from ALTER rename/drop
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.ns.pm RENAME COLUMN tag TO label")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.ns.pm DROP COLUMN tag")
    }
    // non-identity partition transforms fail the DDL up front
    intercept[Exception] {
      spark.sql("""CREATE TABLE graft_cat.ns.pm2 (id BIGINT, ts TIMESTAMP)
        PARTITIONED BY (days(ts))""")
    }
  }

  test("snapshot expiry keeps version ids stable; expired reads fail") {
    GraftCatalog.reset()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
      .createOrReplaceTempView("exp_src")
    spark.sql(
      "CREATE TABLE graft_cat.ns.ex AS SELECT * FROM exp_src WHERE id = 1")
    spark.sql("INSERT INTO graft_cat.ns.ex SELECT * FROM exp_src WHERE id = 2")
    spark.sql("INSERT INTO graft_cat.ns.ex SELECT * FROM exp_src WHERE id = 3")
    // versions: 0 empty, 1 = {1}, 2 = {1,2}, 3 = {1,2,3}
    assert(GraftCatalog.history("ns.ex").map(h => (h._1, h._3)) ==
      Seq((0, 0L), (1, 1L), (2, 2L), (3, 3L)))
    assert(GraftCatalog.expireSnapshots("ns.ex", keepLast = 2) == 2)
    // retained versions keep their ORIGINAL ids and contents
    assert(spark.sql("SELECT id FROM graft_cat.ns.ex VERSION AS OF 2")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(spark.sql("SELECT id FROM graft_cat.ns.ex")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // expired reads fail by id — no silent rebinding
    intercept[Exception] {
      spark.sql("SELECT id FROM graft_cat.ns.ex VERSION AS OF 1").collect()
    }
    // expiry is idempotent at the same retention
    assert(GraftCatalog.expireSnapshots("ns.ex", keepLast = 2) == 0)
    // history flags the expired entries with nulled counts
    assert(GraftCatalog.history("ns.ex").map(h => (h._1, h._3, h._4)) ==
      Seq((0, -1L, true), (1, -1L, true), (2, 2L, false),
        (3, 3L, false)))
  }

  test("TRUNCATE TABLE empties via the connector and commits a version") {
    GraftCatalog.reset()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .createOrReplaceTempView("tr_src")
    spark.sql("CREATE TABLE graft_cat.ns.tr AS SELECT * FROM tr_src")
    spark.sql("TRUNCATE TABLE graft_cat.ns.tr")
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.tr")
      .collect().head.getLong(0) == 0L)
    // the truncate is a commit, not a history rewrite
    assert(spark.sql("SELECT id FROM graft_cat.ns.tr VERSION AS OF 1")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("unsupported DELETE predicate falls back to the row-level rewrite") {
    GraftCatalog.reset()
    Seq((1L, "ab"), (2L, "cd")).toDF("id", "s")
      .createOrReplaceTempView("cat_src4")
    spark.sql("CREATE TABLE graft_cat.ns.t4 AS SELECT * FROM cat_src4")
    // LIKE does not translate to a supported connector predicate, so
    // canDeleteWhere rejects it — but with SupportsRowLevelOperations
    // Spark now rewrites the DELETE as a copy-on-write ReplaceData
    // instead of failing the statement: the delete executes with full
    // expression power, Spark-side
    spark.sql("DELETE FROM graft_cat.ns.t4 WHERE s LIKE 'a%'")
    assert(spark.sql("SELECT id FROM graft_cat.ns.t4")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("RESTORE commits the old snapshot; later versions stay readable") {
    GraftCatalog.reset()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
      .createOrReplaceTempView("rst_src")
    spark.sql(
      "CREATE TABLE graft_cat.ns.rs AS SELECT * FROM rst_src WHERE id = 1")
    spark.sql("INSERT INTO graft_cat.ns.rs SELECT * FROM rst_src WHERE id > 1")
    // versions: 0 empty, 1 = {1}, 2 = {1,2,3}
    GraftCatalog.restore("ns.rs", 1)
    // the restore is a COMMIT (v3), not a history rewrite
    assert(GraftCatalog.history("ns.rs").map(h => (h._1, h._3)) ==
      Seq((0, 0L), (1, 1L), (2, 3L), (3, 1L)))
    assert(spark.sql("SELECT id FROM graft_cat.ns.rs")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // time travel FORWARD across the restore still serves the bad era
    assert(spark.sql("SELECT id FROM graft_cat.ns.rs VERSION AS OF 2")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("RESTORE across an ALTER brings the old schema back") {
    GraftCatalog.reset()
    Seq((1L, "a")).toDF("id", "s").createOrReplaceTempView("rst_src2")
    spark.sql("CREATE TABLE graft_cat.ns.rs2 AS SELECT * FROM rst_src2")
    spark.sql("ALTER TABLE graft_cat.ns.rs2 ADD COLUMN score DOUBLE")
    assert(spark.table("graft_cat.ns.rs2").columns.toSeq ==
      Seq("id", "s", "score"))
    GraftCatalog.restore("ns.rs2", 1)
    // current schema is the pre-ALTER one again…
    assert(spark.table("graft_cat.ns.rs2").columns.toSeq == Seq("id", "s"))
    // …while the post-ALTER snapshot keeps the widened shape
    assert(spark.sql("SELECT * FROM graft_cat.ns.rs2 VERSION AS OF 2")
      .columns.toSeq == Seq("id", "s", "score"))
  }

  test("RESTORE of an expired version fails with nothing mutated") {
    GraftCatalog.reset()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .createOrReplaceTempView("rst_src3")
    spark.sql(
      "CREATE TABLE graft_cat.ns.rs3 AS SELECT * FROM rst_src3 WHERE id = 1")
    spark.sql(
      "INSERT INTO graft_cat.ns.rs3 SELECT * FROM rst_src3 WHERE id = 2")
    assert(GraftCatalog.expireSnapshots("ns.rs3", keepLast = 1) == 2)
    intercept[IllegalArgumentException] { GraftCatalog.restore("ns.rs3", 1) }
    // no commit happened and the current rows are untouched
    assert(GraftCatalog.history("ns.rs3").size == 3)
    assert(spark.sql("SELECT id FROM graft_cat.ns.rs3")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("CLONE shares the birth snapshot then diverges independently") {
    GraftCatalog.reset()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
      .createOrReplaceTempView("cln_src")
    spark.sql(
      "CREATE TABLE graft_cat.ns.cs AS SELECT * FROM cln_src WHERE id <= 2")
    GraftCatalog.cloneTable("ns.cs", "ns.cc")
    // clone history starts fresh: v0 empty, v1 = the cloned state
    assert(GraftCatalog.history("ns.cc").map(h => (h._1, h._3)) ==
      Seq((0, 0L), (1, 2L)))
    // write to the SOURCE: the clone must not move
    spark.sql("DELETE FROM graft_cat.ns.cs WHERE id = 1")
    assert(spark.sql("SELECT id FROM graft_cat.ns.cc")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // write to the CLONE: the source must not move
    spark.sql("INSERT INTO graft_cat.ns.cc SELECT * FROM cln_src WHERE id = 3")
    assert(spark.sql("SELECT id FROM graft_cat.ns.cs")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // the clone's birth snapshot stays pinned under both writes
    assert(spark.sql("SELECT id FROM graft_cat.ns.cc VERSION AS OF 1")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("ENFORCED CHECK constraint rejects violating inserts atomically") {
    GraftCatalog.reset()
    spark.sql("""CREATE TABLE graft_cat.ns.ck (id BIGINT, q DOUBLE,
      CONSTRAINT q_pos CHECK (q > 0) ENFORCED)""")
    spark.sql("INSERT INTO graft_cat.ns.ck VALUES (1, 2.5), (2, 0.5)")
    // a batch with ONE violating row fails the WHOLE statement before
    // commit: nothing from the batch lands
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft_cat.ns.ck VALUES (3, 1.0), (4, -1.0)")
    }
    assert(e.getMessage.toLowerCase.contains("q_pos") ||
      e.getMessage.toLowerCase.contains("check"), e.getMessage)
    assert(spark.sql("SELECT id FROM graft_cat.ns.ck ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT route through the connector") {
    GraftCatalog.reset()
    Seq((1L, 5.0)).toDF("id", "q").createOrReplaceTempView("ck_src")
    spark.sql("CREATE TABLE graft_cat.ns.ck2 AS SELECT * FROM ck_src")
    spark.sql(
      "ALTER TABLE graft_cat.ns.ck2 ADD CONSTRAINT q_cap CHECK (q < 100) ENFORCED")
    intercept[Exception] {
      spark.sql("INSERT INTO graft_cat.ns.ck2 VALUES (2, 500.0)")
    }
    spark.sql("ALTER TABLE graft_cat.ns.ck2 DROP CONSTRAINT q_cap")
    spark.sql("INSERT INTO graft_cat.ns.ck2 VALUES (2, 500.0)")
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.ck2")
      .collect().head.getLong(0) == 2L)
  }

  test("catalog-resolved V2 functions: scalar gcd and aggregate bor") {
    GraftCatalog.reset()
    Seq((12L, 18L, 1L), (7L, 21L, 2L), (5L, 10L, 4L)).toDF("a", "b", "x")
      .createOrReplaceTempView("fn_src")
    val got = spark.sql(
      "SELECT graft_cat.ns.gcd(a, b) AS g FROM fn_src ORDER BY g")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(5L, 6L, 7L), got.toString)
    // aggregate with partial/merge states, grouped
    val agg = spark.sql(
      "SELECT graft_cat.ns.bor(x) AS o FROM fn_src")
      .collect().head.getLong(0)
    assert(agg == 7L, agg.toString)
    // the scalar call binds to the magic method (an Invoke expression
    // — codegen'd, and constant-foldable: over this literal fixture
    // the optimizer folds it to a LocalRelation), not the boxed
    // produceResult fallback (ApplyFunctionExpression)
    val plan = spark.sql("SELECT graft_cat.ns.gcd(a, b) AS g FROM fn_src")
      .queryExecution.analyzed.toString.toLowerCase
    assert(plan.contains("invoke") &&
      !plan.contains("applyfunctionexpression"), plan)
    // over a non-foldable input the call is compiled: with the
    // interpreted fallback off, a magic method the generated code
    // cannot call fails the query instead of logging and falling back
    val fallback = "spark.sql.codegen.fallback"
    val prevFallback = spark.conf.getOption(fallback)
    spark.conf.set(fallback, "false")
    try {
      val computed = spark.range(1, 4).selectExpr("id * 6 AS a", "id * 9 AS b")
        .selectExpr("graft_cat.ns.gcd(a, b) AS g")
        .collect().map(_.getLong(0)).toSeq
      assert(computed == Seq(3L, 6L, 9L), computed.toString)
    } finally prevFallback match {
      case Some(v) => spark.conf.set(fallback, v)
      case None => spark.conf.unset(fallback)
    }
    // SHOW FUNCTIONS surfaces the catalog's set
    val shown = spark.sql("SHOW FUNCTIONS IN graft_cat.ns")
      .collect().map(_.getString(0)).toSet
    assert(shown.exists(_.endsWith("gcd")) && shown.exists(_.endsWith("bor")),
      shown.toString)
    // unknown function fails analysis, not execution
    intercept[Exception] {
      spark.sql("SELECT graft_cat.ns.nope(a) FROM fn_src").collect()
    }
  }

  test("column DEFAULT values fill omitted columns and the DEFAULT keyword") {
    GraftCatalog.reset()
    spark.sql("""CREATE TABLE graft_cat.ns.dv (
      id BIGINT, v DOUBLE DEFAULT 1.5, tag STRING DEFAULT 'none')""")
    spark.sql("INSERT INTO graft_cat.ns.dv (id) VALUES (1)")
    spark.sql("INSERT INTO graft_cat.ns.dv VALUES (2, DEFAULT, 'set')")
    spark.sql("INSERT INTO graft_cat.ns.dv VALUES (3, 9.0, DEFAULT)")
    val got = spark.sql("SELECT id, v, tag FROM graft_cat.ns.dv ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 1.5, "none"), (2L, 1.5, "set"),
      (3L, 9.0, "none")), got.toSeq.toString)
    // ALTER COLUMN SET DEFAULT changes only FUTURE writes
    spark.sql("ALTER TABLE graft_cat.ns.dv ALTER COLUMN v SET DEFAULT 2.5")
    spark.sql("INSERT INTO graft_cat.ns.dv (id) VALUES (4)")
    val v4 = spark.sql("SELECT v FROM graft_cat.ns.dv WHERE id = 4")
      .collect().head.getDouble(0)
    assert(v4 == 2.5, v4.toString)
    val v1 = spark.sql("SELECT v FROM graft_cat.ns.dv WHERE id = 1")
      .collect().head.getDouble(0)
    assert(v1 == 1.5, v1.toString)
  }

  test("honest scan statistics auto-broadcast a small catalog dimension") {
    GraftCatalog.reset()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "nm")
      .createOrReplaceTempView("st_src")
    spark.sql("CREATE TABLE graft_cat.ns.dim AS SELECT * FROM st_src")
    val fact = spark.range(0, 10000)
      .selectExpr("id % 3 + 1 AS k", "id AS payload")
    // no broadcast hint: the planner must choose broadcast from the
    // scan's reported statistics (unknown stats would mean
    // defaultSizeInBytes = huge -> shuffle join)
    val joined = fact.join(spark.table("graft_cat.ns.dim"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(joined.count() == 10000L)
  }

  test("change feed: every DML verb reduces to tagged insert/delete rows") {
    GraftCatalog.reset()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
      .createOrReplaceTempView("cdf_src")
    spark.sql(
      "CREATE TABLE graft_cat.ns.cdf AS SELECT * FROM cdf_src WHERE id <= 2")
    spark.sql("DELETE FROM graft_cat.ns.cdf WHERE id = 1")
    spark.sql(
      "INSERT INTO graft_cat.ns.cdf SELECT * FROM cdf_src WHERE id = 3")
    spark.sql("UPDATE graft_cat.ns.cdf SET s = 'zz' WHERE id = 2")
    val (feed, sch) = GraftCatalog.changeFeed("ns.cdf", 0, 4)
    assert(sch.fieldNames.toSeq == Seq("id", "s"))
    val got = feed.map { case (v, t, r) => (v, t, r.getLong(0),
      r.getString(1)) }.sortBy(x => (x._1, x._2, x._3)).toList
    assert(got == List(
      (1, "insert", 1L, "a"), (1, "insert", 2L, "b"),
      (2, "delete", 1L, "a"),
      (3, "insert", 3L, "c"),
      // the UPDATE's copy-on-write rewrote the whole group, but only
      // the REAL change surfaces: untouched row 3 cancels in the diff
      (4, "delete", 2L, "b"), (4, "insert", 2L, "zz")), got.toString)
    // a RESTORE is just another commit: restoring to v2 re-inserts
    // what was deleted since and deletes what was added
    GraftCatalog.restore("ns.cdf", 2)
    val (feed2, _) = GraftCatalog.changeFeed("ns.cdf", 4, 5)
    val got2 = feed2.map { case (v, t, r) => (v, t, r.getLong(0),
      r.getString(1)) }.sortBy(x => (x._1, x._2, x._3)).toList
    assert(got2 == List((5, "delete", 2L, "zz"), (5, "delete", 3L, "c"),
      (5, "insert", 2L, "b")), got2.toString)
    // bad ranges fail up front
    intercept[IllegalArgumentException] {
      GraftCatalog.changeFeed("ns.cdf", 3, 3)
    }
    intercept[IllegalArgumentException] {
      GraftCatalog.changeFeed("ns.cdf", 0, 99)
    }
  }

  test("change feed across a schema change fails up front") {
    GraftCatalog.reset()
    Seq((1L, "a")).toDF("id", "s").createOrReplaceTempView("cdf_src2")
    spark.sql("CREATE TABLE graft_cat.ns.cdf2 AS SELECT * FROM cdf_src2")
    spark.sql("ALTER TABLE graft_cat.ns.cdf2 ADD COLUMN x DOUBLE")
    intercept[IllegalArgumentException] {
      GraftCatalog.changeFeed("ns.cdf2", 0, 2)
    }
    // a range inside one schema era still works
    assert(GraftCatalog.changeFeed("ns.cdf2", 0, 1)._1.size == 1)
  }

  test("optimistic concurrency: a stale replace fails, appends commute") {
    GraftCatalog.reset()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .createOrReplaceTempView("occ_src")
    spark.sql("CREATE TABLE graft_cat.ns.occ AS SELECT * FROM occ_src")
    val base = GraftCatalog.currentVersion("ns.occ") // 1 (post-CTAS)
    // another writer commits an append AFTER our transaction read
    spark.sql("INSERT INTO graft_cat.ns.occ VALUES (3, 'c')")
    // a replace based on the stale snapshot would silently erase row
    // 3 — it must fail instead, mutating nothing
    val rows = Seq(org.apache.spark.sql.Row(9L, "z"))
    intercept[java.util.ConcurrentModificationException] {
      GraftCatalog.overwriteIfBase("ns.occ", rows, base)
    }
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.occ")
      .collect().head.getLong(0) == 3L)
    // retry against the re-read base succeeds
    GraftCatalog.overwriteIfBase("ns.occ", rows,
      GraftCatalog.currentVersion("ns.occ"))
    assert(spark.sql("SELECT id FROM graft_cat.ns.occ")
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
    // appends never conflict — they commute (Delta ConcurrentAppend
    // allowance); SQL single-statement paths are unaffected
    spark.sql("INSERT INTO graft_cat.ns.occ VALUES (10, 'y')")
    spark.sql("INSERT OVERWRITE graft_cat.ns.occ SELECT * FROM occ_src")
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.occ")
      .collect().head.getLong(0) == 2L)
  }

  test("type widening re-boxes rows; old snapshots stay narrow") {
    GraftCatalog.reset()
    spark.sql("CREATE TABLE graft_cat.ns.tw (id INT, v FLOAT)")
    spark.sql("INSERT INTO graft_cat.ns.tw VALUES (1, CAST(1.5 AS FLOAT))")
    spark.sql("ALTER TABLE graft_cat.ns.tw ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE graft_cat.ns.tw ALTER COLUMN v TYPE DOUBLE")
    spark.sql("INSERT INTO graft_cat.ns.tw VALUES (2147483648, 2.5)")
    val got = spark.sql("SELECT id, v FROM graft_cat.ns.tw ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 1.5), (2147483648L, 2.5)), got.toString)
    // pre-ALTER snapshot keeps the NARROW schema
    val v1 = spark.sql("SELECT id FROM graft_cat.ns.tw VERSION AS OF 1")
    assert(v1.schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(v1.collect().map(_.getInt(0)).toSeq == Seq(1))
    // narrowing fails up front with nothing mutated
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.ns.tw ALTER COLUMN id TYPE INT")
    }
    assert(spark.table("graft_cat.ns.tw").schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("streaming read of the commit log: appends feed epochs, replaces fail") {
    GraftCatalog.reset()
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s")
      .createOrReplaceTempView("cs_src")
    spark.sql(
      "CREATE TABLE graft_cat.ns.cs2 AS SELECT * FROM cs_src WHERE id <= 2")
    spark.sql(
      "INSERT INTO graft_cat.ns.cs2 SELECT * FROM cs_src WHERE id = 3")
    spark.sql(
      "INSERT INTO graft_cat.ns.cs2 SELECT * FROM cs_src WHERE id = 4")
    val ckpt = java.nio.file.Files.createTempDirectory("cs_ckpt").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val q = spark.readStream.table("graft_cat.ns.cs2").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) =>
          got.synchronized {
            got += ((id, b.collect().map(_.getLong(0)).sorted.toSeq))
          }: Unit
      }.start()
    q.awaitTermination()
    // allAvailable default: one epoch carrying every committed row
    assert(got.flatMap(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L),
      got.toString)
    // a replace commit poisons the stream going FORWARD
    spark.sql("DELETE FROM graft_cat.ns.cs2 WHERE id = 1")
    val ckpt2 = java.nio.file.Files.createTempDirectory("cs_ckpt").toString
    val q2 = spark.readStream.table("graft_cat.ns.cs2").writeStream
      .option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) => b.count(): Unit
      }.start()
    val failed = scala.util.Try(q2.awaitTermination()).isFailure
    assert(failed, "replace commit must fail the streaming read")
  }

  test("streaming read honors maxRowsPerBatch by whole commits") {
    GraftCatalog.reset()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
      .createOrReplaceTempView("cs3_src")
    spark.sql(
      "CREATE TABLE graft_cat.ns.cs3 AS SELECT * FROM cs3_src WHERE id = 1")
    spark.sql(
      "INSERT INTO graft_cat.ns.cs3 SELECT * FROM cs3_src WHERE id = 2")
    spark.sql(
      "INSERT INTO graft_cat.ns.cs3 SELECT * FROM cs3_src WHERE id = 3")
    val ckpt = java.nio.file.Files.createTempDirectory("cs3_ckpt").toString
    val epochs = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val q = spark.readStream.option("maxRowsPerBatch", "1")
      .table("graft_cat.ns.cs3").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          epochs.synchronized {
            epochs += b.collect().map(_.getLong(0)).sorted.toSeq
          }: Unit
      }.start()
    q.awaitTermination()
    // one COMMIT per epoch under the 1-row budget (commits are atomic
    // units), three commits → three epochs in commit order
    assert(epochs.filter(_.nonEmpty).toList ==
      List(Seq(1L), Seq(2L), Seq(3L)), epochs.toString)
  }

  test("delta-keyed MERGE ships only the changed rows (merge-on-read)") {
    GraftCatalog.reset()
    spark.sql("""CREATE TABLE graft_cat.ns.dm (k BIGINT, v DOUBLE, f STRING)
      TBLPROPERTIES ('delta.key'='k')""")
    Seq((1L, 10.0, "N"), (2L, 20.0, "R"), (3L, 30.0, "N"),
      (4L, 40.0, "N"), (5L, 50.0, "N")).toDF("k", "v", "f")
      .createOrReplaceTempView("dm_src")
    spark.sql("INSERT INTO graft_cat.ns.dm SELECT * FROM dm_src")
    spark.sql("""MERGE INTO graft_cat.ns.dm t
      USING (SELECT * FROM VALUES (CAST(2 AS BIGINT), 5.0, 'R'),
        (CAST(3 AS BIGINT), 7.0, 'N'),
        (CAST(9 AS BIGINT), 9.0, 'N') AS s(k, v, f)) s
      ON t.k = s.k
      WHEN MATCHED AND s.f = 'R' THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = t.v + s.v
      WHEN NOT MATCHED THEN INSERT *""")
    val got = spark.sql("SELECT k, v FROM graft_cat.ns.dm ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (3L, 37.0), (4L, 40.0), (5L, 50.0),
      (9L, 9.0)), got.toString)
    // the writer saw ONLY the 3 changed rows — a group-based CoW
    // rewrite would have shipped all 5 target rows back
    assert(GraftCatalog.lastDeltaOps("ns.dm") == ((1L, 1L, 1L)),
      GraftCatalog.lastDeltaOps("ns.dm").toString)
    // UPDATE and non-pushable DELETE ride the same delta path
    spark.sql("UPDATE graft_cat.ns.dm SET v = v + 1 WHERE k = 4")
    assert(GraftCatalog.lastDeltaOps("ns.dm") == ((0L, 1L, 0L)))
    assert(spark.sql("SELECT v FROM graft_cat.ns.dm WHERE k = 4")
      .collect().head.getDouble(0) == 41.0)
    spark.sql(
      "DELETE FROM graft_cat.ns.dm WHERE CAST(k AS STRING) LIKE '9%'")
    assert(GraftCatalog.lastDeltaOps("ns.dm") == ((1L, 0L, 0L)))
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.dm")
      .collect().head.getLong(0) == 4L)
  }

  test("CLONE carries ENFORCED constraints to the destination") {
    GraftCatalog.reset()
    spark.sql("""CREATE TABLE graft_cat.ns.ckc (id BIGINT, q DOUBLE,
      CONSTRAINT q_pos2 CHECK (q > 0) ENFORCED)""")
    spark.sql("INSERT INTO graft_cat.ns.ckc VALUES (1, 2.5)")
    GraftCatalog.cloneTable("ns.ckc", "ns.ckc2")
    // the clone keeps enforcing: a violating insert fails atomically
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft_cat.ns.ckc2 VALUES (2, -1.0)")
    }
    assert(e.getMessage.toLowerCase.contains("q_pos2") ||
      e.getMessage.toLowerCase.contains("check"), e.getMessage)
    assert(spark.sql("SELECT id FROM graft_cat.ns.ckc2")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // and a valid insert still lands
    spark.sql("INSERT INTO graft_cat.ns.ckc2 VALUES (3, 1.0)")
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.ckc2")
      .collect().head.getLong(0) == 2L)
  }

  test("ProcessingTime stream follows commits landing after start") {
    GraftCatalog.reset()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
      .createOrReplaceTempView("cspt_src")
    spark.sql(
      "CREATE TABLE graft_cat.ns.cspt AS SELECT * FROM cspt_src WHERE id = 1")
    val ckpt = java.nio.file.Files.createTempDirectory("cspt_ckpt").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.table("graft_cat.ns.cspt").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          b.collect().foreach(r => got.add(r.getLong(0))): Unit
      }.start()
    try {
      // wait for the birth commit, then append AFTER stream start —
      // a live trigger must pick the new commits up (the AvailableNow
      // end cap must not apply here)
      def awaitIds(want: Set[Long]): Unit = {
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (got.toArray.map(_.asInstanceOf[Long]).toSet != want &&
            System.nanoTime() < deadline) Thread.sleep(50)
        val have = got.toArray.map(_.asInstanceOf[Long]).toSet
        assert(have == want, s"expected $want, saw $have")
      }
      awaitIds(Set(1L))
      spark.sql(
        "INSERT INTO graft_cat.ns.cspt SELECT * FROM cspt_src WHERE id = 2")
      awaitIds(Set(1L, 2L))
      spark.sql(
        "INSERT INTO graft_cat.ns.cspt SELECT * FROM cspt_src WHERE id = 3")
      awaitIds(Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("CLONE fails on an existing destination or a missing source") {
    GraftCatalog.reset()
    Seq((1L, "a")).toDF("id", "s").createOrReplaceTempView("cln_src2")
    spark.sql("CREATE TABLE graft_cat.ns.cf1 AS SELECT * FROM cln_src2")
    spark.sql("CREATE TABLE graft_cat.ns.cf2 AS SELECT * FROM cln_src2")
    intercept[IllegalArgumentException] {
      GraftCatalog.cloneTable("ns.cf1", "ns.cf2")
    }
    intercept[NoSuchElementException] {
      GraftCatalog.cloneTable("ns.missing", "ns.cf3")
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.merge.TxTable

/** The SQL front door (graft.sql): `format("graft")` reader/writer, the
  * GraftCatalog + GraftSqlRules path that makes TxTables addressable from
  * plain SQL text — SELECT (incl. VERSION/TIMESTAMP AS OF), INSERT, CTAS,
  * DELETE, UPDATE — and the plan guards proving the commit log's
  * partition pruning and stats skipping survive through the SQL scan
  * (reference analogy: consumers querying the target star schema with
  * SQL, `setup_target.py:11-242`). */
class SqlFrontDoorSpec extends SparkTestBase {

  private lazy val lakeRoot = tmpDir("graft-lake")

  /** Extensions-enabled sibling session with the graft catalog mounted —
    * the exact production wire-up (spark.sql.extensions +
    * spark.sql.catalog.graft). */
  private lazy val ext: SparkSession = {
    val s = GraftBridge.withExtensions(spark, new GraftExtensions()(_))
    s.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.root", lakeRoot)
    s
  }

  private def df(s: SparkSession, ids: Range, tag: String): DataFrame = {
    val sq = s.sqlContext; import sq.implicits._
    ids.map(i => (i.toLong, s"$tag-$i", i * 10.0)).toDF("id", "name", "score")
      .repartition(1)
  }

  private def fileScan(q: DataFrame): FileSourceScanExec =
    q.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan:\n" +
      q.queryExecution.executedPlan.toString))

  private def scannedFiles(q: DataFrame): Int =
    fileScan(q).selectedPartitions.totalNumberOfFiles.toInt

  // ------------------------------------------------------ format("graft")

  test("format(graft) read matches TxTable.read; versionAsOf time-travels") {
    val dir = tmpDir("fmt-read")
    TxTable.append(ext, dir, df(ext, 1 to 50, "a"))
    TxTable.append(ext, dir, df(ext, 51 to 80, "b"))

    val viaFmt = ext.read.format("graft").load(dir)
    assert(viaFmt.count() == 80)
    assert(viaFmt.columns.sorted.toSeq == Seq("id", "name", "score"))
    val api = TxTable.read(ext, dir).get
    assert(viaFmt.select("id", "name", "score").collect().toSet ==
      api.select("id", "name", "score").collect().toSet)

    // commit versions are 1-based: v1 = the first append
    val v1 = ext.read.format("graft").option("versionAsOf", "1").load(dir)
    assert(v1.count() == 50)
    assert(v1.agg(max("id")).head.getLong(0) == 50L)
  }

  test("format(graft) timestampAsOf resolves to the newest commit <= ts") {
    val dir = tmpDir("fmt-ts")
    TxTable.append(ext, dir, df(ext, 1 to 10, "a"))
    Thread.sleep(60)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(60)
    TxTable.append(ext, dir, df(ext, 11 to 20, "b"))

    val atV0 = ext.read.format("graft")
      .option("timestampAsOf", betweenMs.toString).load(dir)
    assert(atV0.count() == 10)
    // an instant before every commit must fail loudly, not return empty
    val e = intercept[IllegalArgumentException] {
      ext.read.format("graft").option("timestampAsOf", "1000").load(dir)
    }
    assert(e.getMessage.contains("predates"))
  }

  test("format(graft) write: append/overwrite modes + partitionBy option") {
    val dir = tmpDir("fmt-write")
    df(ext, 1 to 30, "a").withColumn("bucket", col("id") % 3)
      .write.format("graft").option("partitionBy", "bucket")
      .mode("append").save(dir)
    df(ext, 31 to 40, "b").withColumn("bucket", col("id") % 3)
      .write.format("graft").option("partitionBy", "bucket")
      .mode("append").save(dir)
    assert(TxTable.read(ext, dir).get.count() == 40)

    df(ext, 100 to 104, "c").withColumn("bucket", col("id") % 3)
      .write.format("graft").option("partitionBy", "bucket")
      .mode("overwrite").save(dir)
    val after = TxTable.read(ext, dir).get
    assert(after.count() == 5 && after.agg(min("id")).head.getLong(0) == 100L)
    // overwrite is a commit, not a truncation: history still travels
    assert(ext.read.format("graft").option("versionAsOf", "2")
      .load(dir).count() == 40)
  }

  // ------------------------------------------------------------- catalog

  test("catalog: CREATE NAMESPACE, CTAS, SELECT, SHOW TABLES") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 25, "x").createOrReplaceTempView("src_cat")
    ext.sql("CREATE TABLE graft.db.people AS SELECT * FROM src_cat")

    val got = ext.sql(
      "SELECT count(*) AS n, sum(id) AS s FROM graft.db.people").head()
    assert(got.getLong(0) == 25L && got.getLong(1) == (1 to 25).sum.toLong)

    val tables = ext.sql("SHOW TABLES IN graft.db")
      .select("tableName").collect().map(_.getString(0)).toSet
    assert(tables.contains("people"))

    // the physical shape is a stock vectorized parquet scan, not a row
    // connector — the whole point of the V1-relation swap
    val scan = fileScan(ext.sql("SELECT id FROM graft.db.people"))
    assert(scan.relation.fileFormat.toString.toLowerCase.contains("parquet"))
  }

  test("catalog: INSERT INTO appends, INSERT OVERWRITE replaces atomically") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 5, "x").createOrReplaceTempView("src_ins")
    ext.sql("CREATE TABLE graft.db.ins_t AS SELECT * FROM src_ins")

    ext.sql("INSERT INTO graft.db.ins_t VALUES (100, 'manual', 3.5)")
    assert(ext.sql("SELECT count(*) FROM graft.db.ins_t").head.getLong(0) == 6)
    assert(ext.sql(
      "SELECT name FROM graft.db.ins_t WHERE id = 100").head.getString(0)
      == "manual")

    ext.sql("INSERT INTO graft.db.ins_t SELECT id + 200, name, score " +
      "FROM src_ins WHERE id <= 2")
    assert(ext.sql("SELECT count(*) FROM graft.db.ins_t").head.getLong(0) == 8)

    ext.sql("INSERT OVERWRITE graft.db.ins_t VALUES (1, 'only', 0.0)")
    val rows = ext.sql("SELECT id, name FROM graft.db.ins_t").collect()
    assert(rows.toSeq == Seq(Row(1L, "only")))
  }

  test("catalog: VERSION AS OF and TIMESTAMP AS OF in SQL text") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 10, "v0").createOrReplaceTempView("src_tt")
    ext.sql("CREATE TABLE graft.db.tt AS SELECT * FROM src_tt")
    Thread.sleep(60)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(60)
    ext.sql("INSERT INTO graft.db.tt VALUES (99, 'late', 1.0)")

    assert(ext.sql("SELECT count(*) FROM graft.db.tt").head.getLong(0) == 11)
    assert(ext.sql(
      "SELECT count(*) FROM graft.db.tt VERSION AS OF 1").head.getLong(0) == 10)

    val tsLit = java.time.Instant.ofEpochMilli(betweenMs)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(ext.sql(s"SELECT count(*) FROM graft.db.tt TIMESTAMP AS OF " +
      s"'$tsLit'").head.getLong(0) == 10)
  }

  test("catalog: DELETE FROM and UPDATE are copy-on-write log commits") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 20, "d").createOrReplaceTempView("src_dml")
    ext.sql("CREATE TABLE graft.db.dml AS SELECT * FROM src_dml")

    ext.sql("DELETE FROM graft.db.dml WHERE id > 15")
    assert(ext.sql("SELECT count(*) FROM graft.db.dml").head.getLong(0) == 15)

    ext.sql("UPDATE graft.db.dml SET score = score * 2, name = 'bumped' " +
      "WHERE id <= 3")
    val bumped = ext.sql("SELECT id, name, score FROM graft.db.dml " +
      "WHERE id <= 3 ORDER BY id").collect()
    assert(bumped.map(_.getString(1)).forall(_ == "bumped"))
    assert(bumped.map(_.getDouble(2)).toSeq == Seq(20.0, 40.0, 60.0))
    assert(ext.sql("SELECT count(*) FROM graft.db.dml WHERE name = 'bumped'")
      .head.getLong(0) == 3)
    // DML never loses history: version 1 (the CTAS commit) keeps all 20
    assert(ext.sql("SELECT count(*) FROM graft.db.dml VERSION AS OF 1")
      .head.getLong(0) == 20)
  }

  test("DELETE FROM with graft.deletes.mode=dv is merge-on-read: no data file moves") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 40, "mor").createOrReplaceTempView("src_mor")
    ext.sql("CREATE TABLE graft.db.mor AS SELECT * FROM src_mor")
    ext.sql("INSERT INTO graft.db.mor SELECT id + 100, name, score FROM src_mor")
    ext.sql("ALTER TABLE graft.db.mor SET TBLPROPERTIES('graft.deletes.mode'='dv')")
    val dir = s"$lakeRoot/db/mor"
    val before = TxTable.liveFilePaths(ext, dir).sorted

    // hits only the first file (ids 1-40); the second stays clean
    ext.sql("DELETE FROM graft.db.mor WHERE id <= 10")
    assert(TxTable.liveFilePaths(ext, dir).sorted == before) // zero rewrites
    assert(ext.sql("SELECT count(*) FROM graft.db.mor").head.getLong(0) == 70)
    assert(ext.sql("SELECT min(id) FROM graft.db.mor").head.getLong(0) == 11L)
    // pre-delete version still reads all rows
    val vPre = TxTable.versions(ext, dir).takeRight(2).head
    assert(ext.sql(
      s"SELECT count(*) FROM graft.db.mor VERSION AS OF $vPre")
      .head.getLong(0) == 80)
    // graft_files exposes the vector: one file carries it, one is clean
    val files = ext.sql(s"SELECT n_deleted, dv_path FROM graft_files('$dir')")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(files.count(_._1 == 10L) == 1 && files.count(_._1 == 0L) == 1)
    assert(files.forall(f => (f._1 > 0) == (f._2 != null)))

    // the clean file keeps the stock FileIndex scan with skipping intact:
    // a predicate outside the DV'd file's range lists only the clean file
    // (the DV branch's join makes the plan adaptive — unwrap AQE)
    val q = ext.sql("SELECT id FROM graft.db.mor WHERE id > 100")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (101L to 140L))
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(s.plan) // materialized stages are leaf nodes hiding a subtree
      case f: FileSourceScanExec => Seq(f)
    }.flatten
    val scans = scansOf(q.queryExecution.executedPlan)
    val cleanScan = scans.find(
      _.relation.location.isInstanceOf[graft.sql.GraftFileIndex])
    assert(cleanScan.isDefined, scans.map(_.relation.location.getClass).toString)
    assert(cleanScan.get.selectedPartitions.totalNumberOfFiles == 1L)
  }

  test("CALL graft.system.purge_dvs folds vectors; the plan returns to one stock scan") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 30, "pg").createOrReplaceTempView("src_purge")
    ext.sql("CREATE TABLE graft.db.purge AS SELECT * FROM src_purge")
    ext.sql("ALTER TABLE graft.db.purge SET TBLPROPERTIES('graft.deletes.mode'='dv')")
    ext.sql("DELETE FROM graft.db.purge WHERE id % 3 = 0")
    val want = (1 to 30).filter(_ % 3 != 0).map(_.toLong)
    assert(ext.sql("SELECT id FROM graft.db.purge ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == want)

    val r = ext.sql("CALL graft.system.purge_dvs('db.purge')").collect()
    assert(r.head.getInt(0) == 1) // one DV'd file purged
    assert(ext.sql("SELECT id FROM graft.db.purge ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == want)
    val dir = s"$lakeRoot/db/purge"
    assert(ext.sql(s"SELECT max(n_deleted) FROM graft_files('$dir')")
      .head.getLong(0) == 0L)
    // clean again: exactly one scan, and it is the GraftFileIndex one
    val scans = ext.sql("SELECT id FROM graft.db.purge")
      .queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1 &&
      scans.head.relation.location.isInstanceOf[graft.sql.GraftFileIndex])
    // SQL UPDATE under dv mode: merge-on-read too — no data file moves
    val before = TxTable.liveFilePaths(ext, dir).toSet
    ext.sql("UPDATE graft.db.purge SET score = -1.0 WHERE id = 2")
    assert(before.subsetOf(TxTable.liveFilePaths(ext, dir).toSet))
    assert(ext.sql("SELECT score FROM graft.db.purge WHERE id = 2")
      .head.getDouble(0) == -1.0)
    assert(ext.sql("SELECT count(*) FROM graft.db.purge").head.getLong(0) ==
      want.size)
    // bad mode value fails loudly
    ext.sql("ALTER TABLE graft.db.purge SET TBLPROPERTIES('graft.deletes.mode'='nope')")
    val e = intercept[Exception] {
      ext.sql("DELETE FROM graft.db.purge WHERE id = 1") }
    assert(e.getMessage.contains("graft.deletes.mode"))
  }

  test("format(graft) reads a DV'd table correctly (fallback scan, filters apply)") {
    val dir = tmpDir("fmt-dv")
    TxTable.append(ext, dir, df(ext, 1 to 50, "a"))
    TxTable.append(ext, dir, df(ext, 51 to 80, "b"))
    TxTable.deleteWhereDV(ext, dir, col("id").between(20, 60))
    val t = ext.read.format("graft").load(dir)
    assert(t.count() == 39)
    assert(t.filter(col("id") < 30).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == (1L to 19L))
    assert(t.select(sum("score")).head.getDouble(0) ==
      ((1 to 19) ++ (61 to 80)).map(_ * 10.0).sum)
    // time travel below the delete ignores the vector
    assert(ext.read.format("graft").option("versionAsOf", "2").load(dir)
      .count() == 80)
  }

  test("catalog: partitioned CTAS records the layout; SQL agrees with API") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 30, "p").withColumn("bucket", col("id") % 3)
      .createOrReplaceTempView("src_part")
    ext.sql("CREATE TABLE graft.db.part_t PARTITIONED BY (bucket) " +
      "AS SELECT * FROM src_part")

    val viaSql = ext.sql(
      "SELECT id, name, score, bucket FROM graft.db.part_t")
    val viaApi = TxTable.read(ext, s"$lakeRoot/db/part_t").get
      .select("id", "name", "score", "bucket")
    assert(viaSql.collect().toSet == viaApi.collect().toSet)
    // partition columns surface LAST in the SQL schema (HadoopFsRelation
    // contract) with the API read's inferred type
    assert(ext.table("graft.db.part_t").columns.last == "bucket")
  }

  test("catalog: MERGE INTO — upsert (UPDATE SET * / INSERT *) in one commit") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 10, "base").createOrReplaceTempView("src_m0")
    ext.sql("CREATE TABLE graft.db.m1 AS SELECT * FROM src_m0")
    // updates ids 8..10, inserts 11..12
    df(ext, 8 to 12, "new").createOrReplaceTempView("src_m1")
    ext.sql("""MERGE INTO graft.db.m1 t USING src_m1 s ON t.id = s.id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""")
    val rows = ext.sql("SELECT id, name FROM graft.db.m1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 12)
    assert(rows.filter(_._1 <= 7).forall(_._2.startsWith("base-")))
    assert(rows.filter(_._1 >= 8).forall(_._2.startsWith("new-")))
    // one MERGE = one commit (CTAS was v1)
    assert(TxTable.headVersion(ext, s"$lakeRoot/db/m1").contains(2L))
  }

  test("catalog: MERGE INTO under graft.deletes.mode=dv is merge-on-read") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 10, "base").createOrReplaceTempView("src_mdv0")
    ext.sql("CREATE TABLE graft.db.mdv AS SELECT * FROM src_mdv0")
    ext.sql("ALTER TABLE graft.db.mdv SET TBLPROPERTIES('graft.deletes.mode'='dv')")
    val dir = s"$lakeRoot/db/mdv"
    val before = TxTable.liveFilePaths(ext, dir).toSet
    val sq = ext.sqlContext; import sq.implicits._
    Seq((1L, "x", 0.0, "D"), (9L, "upd", 90.0, "U"), (20L, "ins", 200.0, "U"))
      .toDF("id", "name", "score", "op").createOrReplaceTempView("src_mdv")
    ext.sql("""MERGE INTO graft.db.mdv t USING src_mdv s ON t.id = s.id
               WHEN MATCHED AND s.op = 'D' THEN DELETE
               WHEN MATCHED THEN UPDATE SET name = s.name, score = s.score
               WHEN NOT MATCHED AND s.op <> 'D' THEN
                 INSERT (id, name, score) VALUES (s.id, s.name, s.score)""")
    // every original data file is still live — the merge wrote only the
    // change set (vector + copies)
    assert(before.subsetOf(TxTable.liveFilePaths(ext, dir).toSet))
    val m = ext.sql("SELECT id, name FROM graft.db.mdv ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(m.map(_._1).toSeq == ((2L to 8L) ++ Seq(9L, 10L, 20L)))
    assert(m.toMap.apply(9L) == "upd" && m.toMap.apply(20L) == "ins")
    assert(ext.sql("SELECT count(*) FROM graft.db.mdv VERSION AS OF 1")
      .head.getLong(0) == 10) // pre-merge snapshot intact
  }

  test("catalog: MERGE INTO — CDC shape with tombstones and computed SET") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 10, "base").createOrReplaceTempView("src_m2b")
    ext.sql("CREATE TABLE graft.db.m2 AS SELECT * FROM src_m2b")
    // feed: delete 1-2, update 9-10 (score doubled), insert 20 + a
    // tombstone for a row that never existed (21 — must NOT resurrect)
    val sq = ext.sqlContext; import sq.implicits._
    Seq((1L, "x", 0.0, "D"), (2L, "x", 0.0, "D"),
      (9L, "upd", 90.0, "U"), (10L, "upd", 100.0, "U"),
      (20L, "ins", 200.0, "U"), (21L, "ghost", 0.0, "D"))
      .toDF("id", "name", "score", "op").createOrReplaceTempView("src_m2")
    ext.sql("""MERGE INTO graft.db.m2 t USING src_m2 s ON t.id = s.id
               WHEN MATCHED AND s.op = 'D' THEN DELETE
               WHEN MATCHED THEN UPDATE SET name = s.name, score = s.score * 2
               WHEN NOT MATCHED AND s.op <> 'D' THEN
                 INSERT (id, name, score) VALUES (s.id, s.name, s.score * 2)""")
    val got = ext.sql("SELECT id, name, score FROM graft.db.m2 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == ((3L to 10L) :+ 20L))
    assert(got.filter(_._1 >= 9).map(_._3).toSeq == Seq(180.0, 200.0, 400.0))
    assert(got.filter(t => t._1 >= 3 && t._1 <= 8)
      .forall(t => t._2.startsWith("base-")))
  }

  test("catalog: MERGE INTO — UPDATE and INSERT clauses set DIFFERENT values") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 6, "base").createOrReplaceTempView("src_m5b")
    ext.sql("CREATE TABLE graft.db.m5 AS SELECT * FROM src_m5b")
    // updates ids 5..6, inserts 7..8:
    //  - `name` set to DIFFERENT expressions by the two clauses;
    //  - `score` set ONLY by UPDATE — standard MERGE inserts NULL there,
    //    the update expression must NOT leak into inserted rows
    df(ext, 5 to 8, "new").createOrReplaceTempView("src_m5")
    ext.sql("""MERGE INTO graft.db.m5 t USING src_m5 s ON t.id = s.id
               WHEN MATCHED THEN UPDATE SET name = s.name, score = s.score + 1
               WHEN NOT MATCHED THEN
                 INSERT (id, name) VALUES (s.id, concat(s.name, '!'))""")
    val got = ext.sql("SELECT id, name, score FROM graft.db.m5 ORDER BY id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.map(_._1).toSeq == (1L to 8L))
    // untouched rows intact
    assert(got.filter(_._1 <= 4).forall(t =>
      t._2 == s"base-${t._1}" && t._3.contains(t._1 * 10.0)))
    // matched rows: UPDATE's values
    assert(got.filter(t => t._1 == 5 || t._1 == 6).forall(t =>
      t._2 == s"new-${t._1}" && t._3.contains(t._1 * 10.0 + 1)))
    // inserted rows: INSERT's name, and NULL score — not the UPDATE expr
    assert(got.filter(_._1 >= 7).forall(t =>
      t._2 == s"new-${t._1}!" && t._3.isEmpty))
  }

  test("catalog: MERGE INTO — NOT MATCHED BY SOURCE DELETE retires absent rows") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 6, "base").createOrReplaceTempView("src_m3b")
    ext.sql("CREATE TABLE graft.db.m3 AS SELECT * FROM src_m3b")
    df(ext, 4 to 8, "cur").createOrReplaceTempView("src_m3")
    ext.sql("""MERGE INTO graft.db.m3 t USING src_m3 s ON t.id = s.id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *
               WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    // full sync: the table now mirrors the source exactly
    val got = ext.sql("SELECT id, name FROM graft.db.m3 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == (4 to 8).map(i => (i.toLong, s"cur-$i")))
  }

  test("catalog: unsupported MERGE shapes fail loudly, not wrongly") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 3, "b").createOrReplaceTempView("src_m4b")
    ext.sql("CREATE TABLE graft.db.m4 AS SELECT * FROM src_m4b")
    df(ext, 1 to 3, "s").createOrReplaceTempView("src_m4")
    def fails(sql: String, needle: String): Unit = {
      val e = intercept[Exception](ext.sql(sql))
      assert(e.getMessage.contains(needle), s"$sql =>\n${e.getMessage}")
    }
    // conditioned UPDATE
    fails("""MERGE INTO graft.db.m4 t USING src_m4 s ON t.id = s.id
             WHEN MATCHED AND s.score > 1 THEN UPDATE SET *""",
      "conditioned WHEN MATCHED UPDATE")
    // dead delete clause after an unconditioned update: Spark's parser
    // itself rejects this shape (our unreachable-clause guard backstops
    // programmatic plan construction)
    fails("""MERGE INTO graft.db.m4 t USING src_m4 s ON t.id = s.id
             WHEN MATCHED THEN UPDATE SET *
             WHEN MATCHED THEN DELETE""",
      "NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION")
    // re-keying a row through UPDATE SET of the merge key
    fails("""MERGE INTO graft.db.m4 t USING src_m4 s ON t.id = s.id
             WHEN MATCHED THEN UPDATE SET id = s.id + 100""",
      "merge key")
    // non-equi ON
    fails("""MERGE INTO graft.db.m4 t USING src_m4 s ON t.id < s.id
             WHEN MATCHED THEN DELETE""",
      "non-equi ON")
    // target reference in a SET value
    fails("""MERGE INTO graft.db.m4 t USING src_m4 s ON t.id = s.id
             WHEN MATCHED THEN UPDATE SET score = t.score + s.score""",
      "target column")
  }

  test("ALTER TABLE ADD COLUMNS: SQL DDL, INSERT with the new column, time travel keeps old schema") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 4, "base").createOrReplaceTempView("src_alt")
    ext.sql("CREATE TABLE graft.db.alt_ev AS SELECT * FROM src_alt")
    ext.sql("ALTER TABLE graft.db.alt_ev ADD COLUMNS (bonus BIGINT, tag STRING)")
    // metadata-only: the SQL schema widened, existing rows read NULL
    assert(ext.table("graft.db.alt_ev").columns.toSeq ==
      Seq("id", "name", "score", "bonus", "tag"))
    assert(ext.sql(
      "SELECT count(*) FROM graft.db.alt_ev WHERE bonus IS NULL AND tag IS NULL")
      .head.getLong(0) == 4)
    // INSERT with values for the new columns; old rows stay NULL
    ext.sql("INSERT INTO graft.db.alt_ev VALUES (5, 'ins-5', 50.0, 7, 'x')")
    val agg = ext.sql("""SELECT count(*) AS n, sum(bonus) AS b,
                         count(tag) AS t FROM graft.db.alt_ev""").head
    assert(agg.getLong(0) == 5 && agg.getLong(1) == 7 && agg.getLong(2) == 1)
    // UPDATE can SET a declared column old batches never wrote
    ext.sql("UPDATE graft.db.alt_ev SET bonus = id * 2 WHERE id <= 2")
    assert(ext.sql("SELECT sum(bonus) FROM graft.db.alt_ev").head.getLong(0)
      == 2 + 4 + 7)
    // time travel below the ALTER: the old three-column schema
    assert(ext.sql("SELECT * FROM graft.db.alt_ev VERSION AS OF 1")
      .columns.toSeq == Seq("id", "name", "score"))
    // duplicate add is refused
    val e = intercept[Exception](
      ext.sql("ALTER TABLE graft.db.alt_ev ADD COLUMNS (bonus INT)"))
    assert(e.getMessage.contains("already exists"), e.getMessage)
  }

  test("ALTER TABLE RENAME/DROP COLUMN: metadata-only mapping through the SQL front door") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.ddl2")
    ext.sql("DROP TABLE IF EXISTS graft.ddl2.cm")
    df(ext, 1 to 30, "cm").createOrReplaceTempView("src_cm")
    ext.sql("CREATE TABLE graft.ddl2.cm AS SELECT * FROM src_cm")
    val dir = s"$lakeRoot/ddl2/cm"
    val before = TxTable.liveFilePaths(ext, dir).toSet
    ext.sql("ALTER TABLE graft.ddl2.cm RENAME COLUMN name TO label")
    ext.sql("ALTER TABLE graft.ddl2.cm DROP COLUMN score")
    assert(TxTable.liveFilePaths(ext, dir).toSet == before) // zero files moved
    assert(ext.table("graft.ddl2.cm").columns.toSeq == Seq("id", "label"))
    // reads, filters, and writes all speak the logical names
    ext.sql("INSERT INTO graft.ddl2.cm SELECT 31, 'fresh'")
    assert(ext.sql("SELECT label FROM graft.ddl2.cm WHERE id = 31")
      .head.getString(0) == "fresh")
    assert(ext.sql("SELECT count(*) FROM graft.ddl2.cm WHERE label LIKE 'cm-%'")
      .head.getLong(0) == 30)
    // time travel below the DDL reads the ORIGINAL schema
    assert(ext.sql("SELECT * FROM graft.ddl2.cm VERSION AS OF 1")
      .columns.toSeq == Seq("id", "name", "score"))
    // DML in logical names routes through the same engines
    ext.sql("UPDATE graft.ddl2.cm SET label = 'renamed' WHERE id = 31")
    ext.sql("DELETE FROM graft.ddl2.cm WHERE label = 'renamed'")
    assert(ext.sql("SELECT count(*) FROM graft.ddl2.cm").head.getLong(0) == 30)
    // the scan is still ONE stock vectorized GraftFileIndex relation —
    // the rename is a Project the optimizer pushes filters through, and
    // log-level skipping keeps pruning via the PHYSICAL stats: the
    // post-DELETE live files hold ids 1-30 (rewritten) so a probe above
    // that range lists nothing
    ext.sql("ALTER TABLE graft.ddl2.cm RENAME COLUMN id TO doc_id")
    val q = ext.table("graft.ddl2.cm").filter(col("doc_id") > 1000)
    assert(scannedFiles(q) == 0)
    val qAll = ext.table("graft.ddl2.cm").filter(col("doc_id") <= 30)
    assert(fileScan(qAll).relation.location.isInstanceOf[graft.sql.GraftFileIndex])
    assert(qAll.count() == 30)
    // tainted names refuse rebirth from SQL too
    val e = intercept[Exception] {
      ext.sql("ALTER TABLE graft.ddl2.cm ADD COLUMNS (score DOUBLE)") }
    assert(e.getMessage.contains("previously carried"), e.getMessage)
    // format("graft") fallback reads the logical view
    val fmt = ext.read.format("graft").load(dir)
    assert(fmt.columns.toSeq == Seq("doc_id", "label"))
    assert(fmt.filter(col("doc_id") === 7).select("label")
      .head.getString(0) == "cm-7")
  }

  test("DESCRIBE HISTORY: catalog-qualified name and quoted path both audit the log") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 5, "h").createOrReplaceTempView("src_hist")
    ext.sql("CREATE TABLE graft.db.hist_t AS SELECT * FROM src_hist")
    ext.sql("INSERT INTO graft.db.hist_t VALUES (9, 'late', 1.0)")

    val byName = ext.sql("DESCRIBE HISTORY graft.db.hist_t")
      .select("version", "action", "data_change").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(byName == Seq((2L, "append", true), (1L, "replace", true)), byName)
    // DESC abbreviation + quoted-path form hit the same audit rows
    val byPath = ext.sql(s"DESC HISTORY '$lakeRoot/db/hist_t'")
      .select("version").collect().map(_.getLong(0)).toSeq
    assert(byPath == Seq(2L, 1L))
    // a maintenance rewrite audits as data_change = false — the audit
    // trail shows exactly what the change feed skips
    TxTable.append(ext, s"$lakeRoot/db/hist_t",
      df(ext, 6 to 7, "h2").repartition(2))
    TxTable.compactSmallFiles(ext, s"$lakeRoot/db/hist_t")
    val head = ext.sql("DESCRIBE HISTORY graft.db.hist_t").limit(1)
      .select("action", "data_change").head
    assert(head.getString(0) == "rewrite" && !head.getBoolean(1))
    // non-graft target fails loudly, ordinary statements are untouched
    val e = intercept[Exception](ext.sql("DESCRIBE HISTORY nope.db.t"))
    assert(e.getMessage.contains("not a configured graft catalog"),
      e.getMessage)
    assert(ext.sql("SELECT 1 + 1").head.getInt(0) == 2)
    // DESCRIBE DETAIL = ONE summary row (the Delta shape): layout totals
    // plus the maintenance health probes as columns
    val detail = ext.sql("DESCRIBE DETAIL graft.db.hist_t").collect()
    assert(detail.length == 1)
    val d = detail.head
    assert(d.getAs[Long]("num_files") ==
      TxTable.liveFilePaths(ext, s"$lakeRoot/db/hist_t").size)
    assert(d.getAs[Long]("size_bytes") > 0)
    assert(d.getAs[Long]("num_dv_files") == 0)
    assert(d.getAs[Double]("dv_read_tax") == 0.0)
    assert(d.getAs[Long]("commits_since_analyze") == -1L) // never analyzed
  }

  test("DESCRIBE DETAIL mid-lifecycle: DV read-tax, ANALYZE staleness, unclustered count move with the table") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.dd")
    ext.sql("CREATE TABLE graft.db.dd AS SELECT id AS k, id * 2 AS v FROM range(1000)")
    ext.sql("ALTER TABLE graft.db.dd SET TBLPROPERTIES('graft.deletes.mode'='dv')")
    def detail = ext.sql("DESCRIBE DETAIL graft.db.dd").head()
    assert(detail.getAs[Double]("dv_read_tax") == 0.0)
    // ANALYZE arms the staleness probe at zero commits since
    ext.sql("ANALYZE TABLE graft.db.dd COMPUTE STATISTICS")
    assert(detail.getAs[Long]("commits_since_analyze") == 0L)
    // a MoR delete: rows now read through the anti-join — the read-tax
    // fraction reports exactly the live share paying it, and the commit
    // count since ANALYZE advances
    ext.sql("DELETE FROM graft.db.dd WHERE k < 10")
    val d1 = detail
    assert(d1.getAs[Long]("num_dv_files") > 0)
    val tax = d1.getAs[Double]("dv_read_tax")
    assert(tax > 0.0 && tax <= 1.0, tax.toString)
    assert(d1.getAs[Long]("live_rows") == 990L)
    assert(d1.getAs[Long]("commits_since_analyze") >= 1L)
    // purging the vectors returns the tax to zero
    ext.sql("CALL graft.system.purge_dvs('db.dd', min_deleted_fraction => 0.0)")
    assert(detail.getAs[Double]("dv_read_tax") == 0.0)
    // INCREMENTAL z-order opt-in (the state-recording form) arms the
    // unclustered probe; fresh appends raise it
    ext.sql("CALL graft.system.zorder('db.dd', 'k', incremental => true)")
    assert(detail.getAs[String]("zorder_columns") == "k")
    assert(detail.getAs[Long]("unclustered_files") == 0L)
    ext.sql("INSERT INTO graft.db.dd SELECT id, id FROM range(5)")
    assert(detail.getAs[Long]("unclustered_files") > 0L)
  }

  test("CALL graft.system.refresh_bloom: point lookups prune through the SQL scan") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.types.StringType
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    val dir = s"$lakeRoot/db/bt"
    def key(n: Int): String =
      f"k-$n%05d-" + ((n * 2654435761L) & 0xffffffffL).toHexString
    // four single-file batches of INTERLEAVED keys: every file's min/max
    // envelope spans the whole key space, so range/string skipping keeps
    // all four — exactly the unsorted point-lookup shape the sidecar is for
    val sq = ext.sqlContext; import sq.implicits._
    for (b <- 0 until 4)
      TxTable.append(ext, dir,
        (0 until 200).map(i => (key(i * 4 + b), (i * 4 + b).toLong))
          .toDF("uid", "v").repartition(1))

    val r = ext.sql(
      "CALL graft.system.refresh_bloom('db.bt', 'uid', 1000, 0.001)").head
    assert(r.getInt(0) == 4 && r.getInt(1) == 0)

    val uid = AttributeReference("uid", StringType)()
    val idx = new graft.sql.GraftFileIndex(ext, dir, None)
    // without the sidecar every file survives the envelopes (interleaved);
    // the bloom probe cuts the listing to the one real holder (+ ≤1 fp —
    // deterministic filters, so this is a stable bound, not flake room)
    val (kept, total) = idx.skippingStats(Seq(
      EqualTo(uid, Literal.create(key(5), StringType))))
    assert(total == 4 && kept <= 2 && kept >= 1, s"kept $kept of $total")
    assert(ext.sql(s"SELECT v FROM graft.db.bt WHERE uid = '${key(5)}'")
      .head.getLong(0) == 5L)

    // a batch appended AFTER the refresh is unindexed: always scanned —
    // index lag can never lose a row
    TxTable.append(ext, dir, Seq(("zz-new", 9999L)).toDF("uid", "v")
      .repartition(1))
    val idx2 = new graft.sql.GraftFileIndex(ext, dir, None)
    val (kept2, total2) = idx2.skippingStats(Seq(
      EqualTo(uid, Literal.create("zz-new", StringType))))
    assert(total2 == 5 && kept2 >= 1, s"kept $kept2 of $total2")
    assert(ext.sql("SELECT v FROM graft.db.bt WHERE uid = 'zz-new'")
      .head.getLong(0) == 9999L)
    // a second refresh indexes the straggler and drops nothing
    val r2 = ext.sql(
      "CALL graft.system.refresh_bloom('db.bt', 'uid', 1000, 0.001)").head
    assert(r2.getInt(0) == 1 && r2.getInt(1) == 0)
  }

  test("mixed partition layouts across live batches fail the SQL read loudly") {
    val dir = tmpDir("fmt-mixed-layout")
    // int-typed bucket so the hive partition-inference type (int) agrees
    // with the data-column type in the batch that does NOT partition by it
    val a = df(ext, 1 to 10, "a")
      .withColumn("bucket", (col("id") % 2).cast("int"))
    val b = df(ext, 11 to 20, "b")
      .withColumn("bucket", (col("id") % 2).cast("int"))
    TxTable.append(ext, dir, a, partitionCols = Seq("bucket"))
    TxTable.append(ext, dir, b, partitionCols = Seq("name"))
    // the API read still handles the mix; SQL must refuse with the
    // intended message, not crash in listFiles' fragment lookup
    assert(TxTable.read(ext, dir).get.count() == 20)
    val e = intercept[Exception] {
      ext.read.format("graft").load(dir).count()
    }
    assert(e.getMessage.contains("mixes partition layouts"), e.getMessage)
  }

  // ---------------------------------------------------------- plan guards

  test("plan guard: partition pruning through the SQL scan") {
    val dir = tmpDir("prune-part")
    val d = df(ext, 1 to 60, "p").withColumn("bucket", col("id") % 3)
      .repartition(col("bucket"))
    TxTable.append(ext, dir, d, Seq("bucket"))

    val q = ext.read.format("graft").load(dir).filter(col("bucket") === 1)
    val total = new graft.sql.GraftFileIndex(ext, dir, None)
      .inputFiles.length
    assert(total >= 3, s"expected >=3 partition files, got $total")
    val kept = scannedFiles(q)
    assert(kept < total, s"partition pruning did not prune: $kept/$total")
    assert(q.count() == 20)
  }

  test("plan guard: log-level stats skipping through the SQL scan") {
    val dir = tmpDir("prune-stats")
    // three commits with disjoint id envelopes -> three files
    TxTable.append(ext, dir, df(ext, 1 to 100, "a"))
    TxTable.append(ext, dir, df(ext, 101 to 200, "b"))
    TxTable.append(ext, dir, df(ext, 201 to 300, "c"))

    val all = ext.read.format("graft").load(dir)
    assert(scannedFiles(all) == 3)

    val low = all.filter(col("id") <= 50)
    assert(scannedFiles(low) == 1,
      "stats skipping must keep only the first commit's file")
    assert(low.count() == 50)

    val mid = all.filter(col("id") >= 150 && col("id") < 250)
    assert(scannedFiles(mid) == 2)
    assert(mid.count() == 100)

    // filters are pushed INTO the parquet scan too (row-group level)
    val scan = fileScan(low)
    assert(scan.metadata.get("PushedFilters").exists(_.contains("id")),
      scan.metadata.toString)
  }

  test("plan guard: skipping composes with partition pruning in one query") {
    val dir = tmpDir("prune-both")
    for (lo <- Seq(1, 101)) {
      val d = df(ext, lo to (lo + 99), "x")
        .withColumn("bucket", col("id") % 2).repartition(col("bucket"))
      TxTable.append(ext, dir, d, Seq("bucket"))
    }
    val total = new graft.sql.GraftFileIndex(ext, dir, None)
      .inputFiles.length
    assert(total >= 4)
    val q = ext.read.format("graft").load(dir)
      .filter(col("bucket") === 0 && col("id") <= 100)
    val kept = scannedFiles(q)
    assert(kept < total / 2 + 1, s"expected <= ${total / 2} files, got $kept")
    assert(q.count() == 50)
  }

  test("table functions: graft_table / graft_changes / graft_history from bare SQL") {
    val dir = tmpDir("tvf")
    TxTable.append(ext, dir, df(ext, 1 to 10, "a"))
    Thread.sleep(60)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(60)
    TxTable.append(ext, dir, df(ext, 11 to 15, "b"))
    TxTable.deleteWhere(ext, dir, col("id") > 13)

    assert(ext.sql(s"SELECT count(*) FROM graft_table('$dir')")
      .head.getLong(0) == 13)
    assert(ext.sql(s"SELECT count(*) FROM graft_table('$dir', 1)")
      .head.getLong(0) == 10)
    // timestamp-text time travel: the newest commit <= the instant is v1
    assert(ext.sql(s"SELECT count(*) FROM graft_table('$dir', '$betweenMs')")
      .head.getLong(0) == 10)
    // pushed filter still prunes through the TVF's file index
    val pruned = ext.sql(s"SELECT id FROM graft_table('$dir') WHERE id <= 5")
    assert(scannedFiles(pruned) == 1 && pruned.count() == 5)

    val ch = ext.sql(s"SELECT _change_type, count(*) AS n " +
      s"FROM graft_changes('$dir', 1) GROUP BY 1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // v2 appends 5; v3's copy-on-write delete removes the v2 file (5 rows
    // out) and re-adds the 3 survivors
    assert(ch("insert") == 8 && ch("delete") == 5, ch.toString)
    assert(ext.sql(s"SELECT count(*) FROM graft_changes('$dir', 3)")
      .head.getLong(0) == 0)

    val hist = ext.sql(s"SELECT version, action, n_files_added " +
      s"FROM graft_history('$dir') ORDER BY version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(hist.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(hist.map(_._2).toSeq == Seq("append", "append", "rewrite"))
  }

  test("procedures: CALL graft.system.{vacuum,compact_small_files,compact_log,restore}") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 10, "p").createOrReplaceTempView("src_proc")
    ext.sql("CREATE TABLE graft.db.proc_t AS SELECT * FROM src_proc")
    ext.sql("INSERT INTO graft.db.proc_t VALUES (11, 'x', 1.0)")
    ext.sql("INSERT INTO graft.db.proc_t VALUES (12, 'y', 2.0)")
    val dir = s"$lakeRoot/db/proc_t"

    // OPTIMIZE: three small files pack into one; contents unchanged
    val packed = ext.sql(
      "CALL graft.system.compact_small_files('db.proc_t')").head()
    assert(packed.getInt(0) == 3 && packed.getInt(1) == 1, packed.toString)
    assert(ext.sql("SELECT count(*) FROM graft.db.proc_t").head.getLong(0) == 12)

    // RESTORE back to the 11-row state (v2), metadata-only
    assert(ext.sql("CALL graft.system.restore('db.proc_t', 2)")
      .head.getString(0).contains("version 2"))
    assert(ext.sql("SELECT count(*) FROM graft.db.proc_t").head.getLong(0) == 11)

    // dry-run vacuum reports without deleting; the real run then reclaims
    val dry = ext.sql("CALL graft.system.vacuum('db.proc_t', " +
      "retain_versions => 1, dry_run => true)").collect()
    assert(dry.last.getString(0) == "reclaimable", dry.mkString(","))
    assert(ext.sql("SELECT count(*) FROM graft.db.proc_t").head.getLong(0) == 11)
    val real = ext.sql("CALL graft.system.vacuum('db.proc_t', " +
      "retain_versions => 1)").collect()
    assert(real.last.getString(0) == "reclaimed")
    // same reclaim set the dry run promised
    assert(real.map(_.getString(1)).init.toSet ==
      dry.map(_.getString(1)).init.toSet)
    assert(ext.sql("SELECT count(*) FROM graft.db.proc_t").head.getLong(0) == 11)

    assert(ext.sql("CALL graft.system.compact_log('db.proc_t')")
      .head.getString(0) == "log compacted")
    assert(ext.sql("SELECT count(*) FROM graft.db.proc_t").head.getLong(0) == 11)

    // Spark wraps the loader's IllegalArgumentException in
    // FAILED_TO_LOAD_ROUTINE; the loud naming survives in the chain
    val e = intercept[Exception](ext.sql("CALL graft.system.nope('x')"))
    assert(e.getMessage.contains("FAILED_TO_LOAD_ROUTINE") ||
      e.getMessage.contains("unknown procedure"), e.getMessage)
    assert(TxTable.exists(ext, dir))
  }

  test("VACUUM and OPTIMIZE statement forms rewrite onto the procedure surface") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.stmt_t")
    df(ext, 1 to 20, "s").createOrReplaceTempView("src_stmt")
    ext.sql("CREATE TABLE graft.db.stmt_t AS SELECT * FROM src_stmt")
    ext.sql("INSERT INTO graft.db.stmt_t SELECT * FROM src_stmt WHERE id <= 5")
    val dir = s"$lakeRoot/db/stmt_t"

    // OPTIMIZE = bin packing; the ZORDER BY form = the clustering rewrite
    val packed = ext.sql("OPTIMIZE graft.db.stmt_t").head
    assert(packed.getInt(0) == 2 && packed.getInt(1) == 1)
    val z = ext.sql("OPTIMIZE graft.db.stmt_t ZORDER BY (id, score)").head
    assert(z.getInt(1) == 16) // zorder's default n_files
    assert(ext.sql("SELECT count(*) FROM graft.db.stmt_t")
      .head.getLong(0) == 25)

    // VACUUM DRY RUN reports without deleting; the real run reclaims the
    // same set (version-based retention, hence the VERSIONS spelling)
    val dry = ext.sql("VACUUM graft.db.stmt_t DRY RUN").collect()
    assert(dry.last.getString(0) == "reclaimable")
    assert(ext.sql("SELECT count(*) FROM graft.db.stmt_t VERSION AS OF 1")
      .head.getLong(0) == 20) // nothing deleted yet
    val real = ext.sql("VACUUM graft.db.stmt_t RETAIN 1 VERSIONS").collect()
    assert(real.last.getString(0) == "reclaimed")
    assert(real.map(_.getString(1)).init.toSet ==
      dry.map(_.getString(1)).init.toSet)
    assert(ext.sql("SELECT count(*) FROM graft.db.stmt_t")
      .head.getLong(0) == 25)
    // an unqualified target is NOT ours to claim — it falls through to
    // the delegate parser (so a co-installed extension's own VACUUM
    // keeps working); with none installed that's Spark's parse error
    val e = intercept[Exception](ext.sql("VACUUM stmt_t"))
    assert(!e.getMessage.contains("graft catalog"), e.getMessage)

    // RESTORE TABLE ... TO VERSION AS OF rolls back metadata-only
    ext.sql("DELETE FROM graft.db.stmt_t WHERE id > 3")
    val headBefore = TxTable.headVersion(ext, dir).get
    ext.sql(s"RESTORE TABLE graft.db.stmt_t TO VERSION AS OF ${headBefore - 1}")
    assert(ext.sql("SELECT count(*) FROM graft.db.stmt_t")
      .head.getLong(0) == 25)
    // the restore is itself a new commit — the mistake stays inspectable
    assert(TxTable.headVersion(ext, dir).contains(headBefore + 1))

    // RESTORE ... TO TIMESTAMP AS OF: the instant resolves to the newest
    // commit at or before it, then rolls back the same way
    Thread.sleep(60)
    val between = System.currentTimeMillis()
    Thread.sleep(60)
    ext.sql("DELETE FROM graft.db.stmt_t WHERE id > 10")
    assert(ext.sql("SELECT count(*) FROM graft.db.stmt_t")
      .head.getLong(0) == 15)
    ext.sql(s"RESTORE TABLE graft.db.stmt_t TO TIMESTAMP AS OF '$between'")
    assert(ext.sql("SELECT count(*) FROM graft.db.stmt_t")
      .head.getLong(0) == 25)
  }

  test("an emptied table keeps its schema: full DELETE, TRUNCATE TABLE, and refill") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.empt")
    df(ext, 1 to 10, "e").createOrReplaceTempView("src_empt")
    ext.sql("CREATE TABLE graft.db.empt AS SELECT * FROM src_empt")
    val dir = s"$lakeRoot/db/empt"

    // a DELETE that matches every row leaves ZERO live files — the
    // schema must survive as declared fields (recorded in the same
    // rewrite commit), so reads, DESCRIBE, and INSERT keep working
    ext.sql("DELETE FROM graft.db.empt WHERE id >= 1")
    assert(ext.sql("SELECT count(*) FROM graft.db.empt").head.getLong(0) == 0)
    assert(ext.sql("SELECT id, name, score FROM graft.db.empt").isEmpty)
    assert(ext.table("graft.db.empt").columns.toSeq ==
      Seq("id", "name", "score"))
    assert(TxTable.read(ext, dir).get.isEmpty) // API agrees: Some(empty)
    ext.sql("INSERT INTO graft.db.empt SELECT * FROM src_empt")
    assert(ext.sql("SELECT count(*) FROM graft.db.empt").head.getLong(0) == 10)

    // TRUNCATE TABLE: same contract through the V2 statement
    val vPre = TxTable.headVersion(ext, dir).get
    ext.sql("TRUNCATE TABLE graft.db.empt")
    assert(ext.sql("SELECT count(*) FROM graft.db.empt").head.getLong(0) == 0)
    assert(ext.table("graft.db.empt").columns.toSeq ==
      Seq("id", "name", "score"))
    // time travel below the truncate keeps the rows
    assert(ext.sql(s"SELECT count(*) FROM graft.db.empt VERSION AS OF $vPre")
      .head.getLong(0) == 10)
    // and the table refills with the same shape
    ext.sql("INSERT INTO graft.db.empt SELECT 99, 'post', 1.0")
    assert(ext.sql("SELECT name FROM graft.db.empt").head.getString(0) ==
      "post")
  }

  test("DDL-first CREATE TABLE: declared schema + PARTITIONED BY, empty reads, INSERT lands partitioned") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.ddl")
    ext.sql("CREATE TABLE graft.db.ddl " +
      "(id BIGINT, name STRING, score DOUBLE, bucket INT) " +
      "PARTITIONED BY (bucket) " +
      "TBLPROPERTIES ('team' = 'etl', 'constraint.pos' = 'score >= 0')")
    val dir = s"$lakeRoot/db/ddl"

    // the table exists with ZERO data files: empty typed reads, DESCRIBE
    assert(ext.sql("SELECT count(*) FROM graft.db.ddl").head.getLong(0) == 0)
    assert(ext.table("graft.db.ddl").schema.map(f => f.name -> f.dataType.sql)
      .toMap == Map("id" -> "BIGINT", "name" -> "STRING",
        "score" -> "DOUBLE", "bucket" -> "INT"))
    val desc = ext.sql("DESCRIBE TABLE graft.db.ddl").collect()
      .map(_.getString(0))
    assert(desc.contains("bucket"), desc.mkString(", "))
    assert(TxTable.tableProperties(ext, dir).get("team").contains("etl"))

    // the armed CHECK rejects a bad first INSERT before any commit
    val bad = intercept[Exception] {
      ext.sql("INSERT INTO graft.db.ddl VALUES (1, 'bad', -1.0, 0)")
    }
    assert(bad.getMessage.contains("constraint") ||
      Option(bad.getCause).exists(_.getMessage.contains("constraint")),
      bad.getMessage)

    // INSERT honors the declared layout: files land under bucket=<v>
    ext.sql("INSERT INTO graft.db.ddl " +
      "SELECT id, concat('n', id), id * 1.5, cast(id % 2 AS INT) FROM range(10)")
    assert(ext.sql("SELECT count(*) FROM graft.db.ddl").head.getLong(0) == 10)
    val frags = TxTable.liveEntriesForSql(ext, dir, None).flatMap(_.part)
    assert(frags.nonEmpty && frags.forall(_.startsWith("bucket=")),
      frags.mkString(", "))
    // partition pruning through the declared layout
    assert(ext.sql("SELECT count(*) FROM graft.db.ddl WHERE bucket = 1")
      .head.getLong(0) == 5)

    // IF NOT EXISTS is a no-op; a bare re-CREATE refuses
    ext.sql("CREATE TABLE IF NOT EXISTS graft.db.ddl (x INT)")
    assert(ext.table("graft.db.ddl").columns.length == 4)
    val dup = intercept[Exception] { ext.sql("CREATE TABLE graft.db.ddl (x INT)") }
    assert(dup.getMessage.toLowerCase.contains("already exists"), dup.getMessage)
  }

  test("CREATE OR REPLACE TABLE re-declares the shape; NOT NULL becomes an armed CHECK") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.corp")
    ext.sql("CREATE TABLE graft.db.corp (id BIGINT, v STRING)")
    ext.sql("CREATE OR REPLACE TABLE graft.db.corp (id BIGINT, v STRING, extra INT)")
    assert(ext.table("graft.db.corp").columns.toSeq == Seq("id", "v", "extra"))

    // NOT NULL: parquet fields are physically optional, so the honest
    // enforcement point is the write-time CHECK gate — a NULL insert is
    // rejected BEFORE any commit, not silently weakened to nullable
    ext.sql("DROP TABLE IF EXISTS graft.db.nn")
    ext.sql("CREATE TABLE graft.db.nn (id BIGINT NOT NULL, v STRING)")
    val e = intercept[Exception] {
      ext.sql("INSERT INTO graft.db.nn VALUES (NULL, 'x')")
    }
    assert(e.getMessage.contains("constraint") ||
      Option(e.getCause).exists(_.getMessage.contains("constraint")),
      e.getMessage)
    assert(ext.sql("SELECT count(*) FROM graft.db.nn").head.getLong(0) == 0)
    ext.sql("INSERT INTO graft.db.nn VALUES (1, NULL)") // v IS nullable
    assert(ext.sql("SELECT count(*) FROM graft.db.nn").head.getLong(0) == 1)
  }

  test("SHOW PARTITIONS lists live fragments; partition CRUD refuses (data creates partitions)") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.parts")
    ext.sql("CREATE TABLE graft.db.parts PARTITIONED BY (b) AS " +
      "SELECT id, cast(id % 3 AS INT) AS b FROM range(9)")
    val got = ext.sql("SHOW PARTITIONS graft.db.parts").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(got == Seq("b=0", "b=1", "b=2"), got)
    // PARTITION(...) filter form narrows the listing
    assert(ext.sql("SHOW PARTITIONS graft.db.parts PARTITION (b = 1)")
      .collect().map(_.getString(0)).toSeq == Seq("b=1"))
    // partitions come and go with DATA, so management DDL refuses loudly
    val e = intercept[Exception] {
      ext.sql("ALTER TABLE graft.db.parts DROP PARTITION (b = 1)")
    }
    assert(e.getMessage.contains("data") ||
      e.getMessage.toLowerCase.contains("unsupported"), e.getMessage)
  }

  test("SHOW CREATE TABLE emits re-runnable DDL (engine-managed props are reserved)") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.sct")
    ext.sql("CREATE TABLE graft.db.sct (id BIGINT, b INT) " +
      "PARTITIONED BY (b) TBLPROPERTIES('team' = 'etl')")
    ext.sql("INSERT INTO graft.db.sct SELECT id, cast(id % 2 AS INT) FROM range(6)")
    val ddl = ext.sql("SHOW CREATE TABLE graft.db.sct").head.getString(0)
    assert(ddl.contains("PARTITIONED BY") && ddl.contains("'team'"), ddl)
    // the emitted DDL re-runs verbatim: engine-managed graft.* properties
    // (schema declarations, dir, stats) are treated as reserved on create
    ext.sql("DROP TABLE IF EXISTS graft.db.sct2")
    ext.sql(ddl.replace("graft.db.sct", "graft.db.sct2"))
    assert(ext.table("graft.db.sct2").schema.fieldNames.toSeq ==
      Seq("id", "b"))
    assert(TxTable.tableProperties(ext, s"$lakeRoot/db/sct2")
      .get("team").contains("etl"))
    ext.sql("INSERT INTO graft.db.sct2 SELECT id, cast(id % 2 AS INT) FROM range(4)")
    assert(TxTable.liveEntriesForSql(ext, s"$lakeRoot/db/sct2", None)
      .flatMap(_.part).forall(_.startsWith("b=")))
  }

  test("TRUNCATE of a partitioned table keeps the layout; refills land partitioned") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.ptrunc")
    ext.sql("CREATE TABLE graft.db.ptrunc PARTITIONED BY (b) AS " +
      "SELECT id, cast(id % 3 AS INT) AS b FROM range(30)")
    val dir = s"$lakeRoot/db/ptrunc"
    assert(TxTable.liveEntriesForSql(ext, dir, None)
      .flatMap(_.part).forall(_.startsWith("b=")))

    ext.sql("TRUNCATE TABLE graft.db.ptrunc")
    assert(ext.sql("SELECT count(*) FROM graft.db.ptrunc").head.getLong(0) == 0)
    // the declared layout survives the empty live set (Delta keeps the
    // partition spec in metadata across TRUNCATE; so does this)
    assert(TxTable.declaredPartitionCols(ext, dir) == Seq("b"))
    ext.sql("INSERT INTO graft.db.ptrunc " +
      "SELECT id, cast(id % 3 AS INT) FROM range(9)")
    val frags = TxTable.liveEntriesForSql(ext, dir, None).flatMap(_.part)
    assert(frags.nonEmpty && frags.forall(_.startsWith("b=")),
      s"refill landed unpartitioned: ${frags.mkString(", ")}")
    assert(ext.sql("SELECT count(*) FROM graft.db.ptrunc WHERE b = 2")
      .head.getLong(0) == 3)
  }

  test("INSERT OVERWRITE with an empty SELECT keeps the schema (replace-to-empty)") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.repl0")
    ext.sql("CREATE TABLE graft.db.repl0 AS " +
      "SELECT id, concat('n', id) AS name FROM range(5)")
    ext.sql("INSERT OVERWRITE graft.db.repl0 " +
      "SELECT id, concat('n', id) AS name FROM range(10) WHERE id < 0")
    assert(ext.sql("SELECT count(*) FROM graft.db.repl0").head.getLong(0) == 0)
    // schema did NOT vanish: reads type, DESCRIBE works, INSERT refills
    assert(ext.table("graft.db.repl0").columns.toSeq == Seq("id", "name"))
    assert(TxTable.read(ext, s"$lakeRoot/db/repl0").get.isEmpty)
    ext.sql("INSERT INTO graft.db.repl0 VALUES (7, 'back')")
    assert(ext.sql("SELECT name FROM graft.db.repl0").head.getString(0) == "back")
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT statement forms arm and disarm the CHECK") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.cons")
    ext.sql("CREATE TABLE graft.db.cons AS " +
      "SELECT id, id * 2.0 AS score FROM range(5)")
    // ADD CONSTRAINT validates EXISTING rows first (the Delta contract):
    // a constraint the table already breaks is refused
    val bad = intercept[Exception] {
      ext.sql("ALTER TABLE graft.db.cons ADD CONSTRAINT neg CHECK (score < 0)")
    }
    assert(bad.getMessage.contains("violate") ||
      Option(bad.getCause).exists(_.getMessage.contains("violate")),
      bad.getMessage)
    ext.sql("ALTER TABLE graft.db.cons ADD CONSTRAINT pos CHECK (score >= 0)")
    // visible in SHOW TBLPROPERTIES under the constraint.* namespace
    val props = ext.sql("SHOW TBLPROPERTIES graft.db.cons").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("constraint.pos").contains("score >= 0"), props)
    // armed: a bad INSERT is rejected BEFORE any commit
    val e = intercept[Exception] {
      ext.sql("INSERT INTO graft.db.cons VALUES (9, -1.0)")
    }
    assert(e.getMessage.contains("constraint") ||
      Option(e.getCause).exists(_.getMessage.contains("constraint")),
      e.getMessage)
    assert(ext.sql("SELECT count(*) FROM graft.db.cons").head.getLong(0) == 5)
    // DROP CONSTRAINT disarms
    ext.sql("ALTER TABLE graft.db.cons DROP CONSTRAINT pos")
    ext.sql("INSERT INTO graft.db.cons VALUES (9, -1.0)")
    assert(ext.sql("SELECT count(*) FROM graft.db.cons").head.getLong(0) == 6)
  }

  test("CREATE TABLE LIKE clones schema + layout with no data; SHOW COLUMNS works") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.src_like")
    ext.sql("DROP TABLE IF EXISTS graft.db.dst_like")
    ext.sql("CREATE TABLE graft.db.src_like PARTITIONED BY (b) AS " +
      "SELECT id, cast(id % 2 AS INT) AS b FROM range(10)")
    ext.sql("CREATE TABLE graft.db.dst_like LIKE graft.db.src_like")
    assert(ext.sql("SELECT count(*) FROM graft.db.dst_like")
      .head.getLong(0) == 0)
    assert(ext.table("graft.db.dst_like").schema
        .map(f => f.name -> f.dataType).toSeq ==
      ext.table("graft.db.src_like").schema
        .map(f => f.name -> f.dataType).toSeq)
    // the partition layout cloned too: an INSERT lands partitioned
    ext.sql("INSERT INTO graft.db.dst_like " +
      "SELECT id, cast(id % 2 AS INT) FROM range(4)")
    val frags = TxTable
      .liveEntriesForSql(ext, s"$lakeRoot/db/dst_like", None).flatMap(_.part)
    assert(frags.nonEmpty && frags.forall(_.startsWith("b=")),
      frags.mkString(", "))
    // SHOW COLUMNS serves the consumer surface on both
    assert(ext.sql("SHOW COLUMNS IN graft.db.dst_like").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("b", "id"))
  }

  test("ANALYZE TABLE: measured stats flip the dim-fact join to broadcast; stats survive compactLog") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.an_dim")
    ext.sql("DROP TABLE IF EXISTS graft.db.an_fact")
    ext.sql("CREATE TABLE graft.db.an_dim AS " +
      "SELECT id AS k, id * 3 AS v FROM range(20000)")
    ext.sql("CREATE TABLE graft.db.an_fact AS " +
      "SELECT id % 20000 AS k, id AS x FROM range(100000)")
    val dimDir = s"$lakeRoot/db/an_dim"
    val fs = new org.apache.hadoop.fs.Path(dimDir)
      .getFileSystem(ext.sparkContext.hadoopConfiguration)
    val dimBytes = TxTable.liveFilePaths(ext, dimDir)
      .map(p => fs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen)
      .sum
    // without stats, estimation is fileBytes × fileCompressionFactor — a
    // blanket multiplier real deployments set because parquet bytes
    // underestimate in-memory size. Pick it so BOTH tables estimate over
    // the threshold pre-ANALYZE; AQE off so the STATIC decision is under
    // test (static broadcast avoids planning the shuffle at all).
    val factor = math.max(1L, 3000000L / math.max(1L, dimBytes))
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.sources.fileCompressionFactor", "spark.sql.cbo.enabled",
      "spark.sql.adaptive.enabled").map(k => k -> ext.conf.getOption(k))
    try {
      ext.conf.set("spark.sql.autoBroadcastJoinThreshold", "1000000")
      ext.conf.set("spark.sql.sources.fileCompressionFactor", factor.toString)
      ext.conf.set("spark.sql.cbo.enabled", "true")
      ext.conf.set("spark.sql.adaptive.enabled", "false")
      def hasBroadcast: Boolean = ext.sql(
        "SELECT count(*) FROM graft.db.an_fact f " +
          "JOIN graft.db.an_dim d ON f.k = d.k")
        .queryExecution.executedPlan
        .exists { case _: BroadcastHashJoinExec => true; case _ => false }
      assert(!hasBroadcast,
        s"pre-ANALYZE the join must NOT broadcast (dim $dimBytes B × $factor)")

      // ANALYZE: measured row count + live size land in the log; the
      // dim's 20k × 24 B estimate is now under the threshold
      val st = ext.sql(
        "ANALYZE TABLE graft.db.an_dim COMPUTE STATISTICS FOR ALL COLUMNS")
        .head
      assert(st.getLong(0) == 20000L && st.getInt(2) == 2, st)
      assert(hasBroadcast, "post-ANALYZE the dim must broadcast")
      // CBO sees the measured row count on the dim scan (stats evaluate
      // against the THREAD-active conf, so pin it to ext for the read)
      org.apache.spark.sql.SparkSession.setActiveSession(ext)
      assert(ext.table("graft.db.an_dim").queryExecution.optimizedPlan
        .stats.rowCount.contains(BigInt(20000)))
      // and the properties surface through SHOW TBLPROPERTIES
      val props = ext.sql("SHOW TBLPROPERTIES graft.db.an_dim").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("graft.stats.rowcount").contains("20000"), props)
      assert(props.contains("graft.stats.col.k"), props.keys)

      // stats survive log compaction (checkpoints carry properties)
      ext.sql("CALL graft.system.compact_log('db.an_dim')").collect()
      assert(TxTable.catalogStats(ext, dimDir, None)
        .exists(_.rowCount.contains(BigInt(20000))))
      assert(hasBroadcast, "stats (and the broadcast) survive compactLog")
    } finally saved.foreach { case (k, v) =>
      v.fold(ext.conf.unset(k))(ext.conf.set(k, _)) }
  }

  test("format(graft) read of a DV'd, renamed table keeps the vectorized scan for clean files") {
    val dir = tmpDir("fmt-dv-vec")
    TxTable.append(ext, dir, df(ext, 1 to 50, "a"))
    TxTable.append(ext, dir, df(ext, 51 to 80, "b"))
    TxTable.renameColumn(ext, dir, "name", "label")
    TxTable.deleteWhereDV(ext, dir, col("id") === 60L) // DV on batch 2 only
    // AQE off so executedPlan is collectable (AdaptiveSparkPlanExec is a
    // leaf that hides the real tree from collect) — the decision under
    // test is the STATIC swap, not anything adaptive
    val savedAqe = ext.conf.getOption("spark.sql.adaptive.enabled")
    try {
      ext.conf.set("spark.sql.adaptive.enabled", "false")
      val q = ext.read.format("graft").load(dir).filter(col("id") > 10)
      assert(q.columns.contains("label") && !q.columns.contains("name"))
      assert(q.count() == 69) // 80 − 10 filtered − 1 DV-deleted
      val plan = q.queryExecution.executedPlan
      // no row-materializing V1 fallback anywhere in the plan: the analyzer
      // swapped GraftDvScanRelation for the same clean ∪ anti-join machinery
      // the SQL catalog path uses
      assert(plan.collect {
        case r: org.apache.spark.sql.execution.RowDataSourceScanExec => r
      }.isEmpty, plan.toString)
      val graftScans = plan.collect {
        case f: FileSourceScanExec
            if f.relation.location.isInstanceOf[graft.sql.GraftFileIndex] => f
      }
      assert(graftScans.nonEmpty, plan.toString)
      // the vectorized GraftFileIndex scan covers ONLY the clean file —
      // the DV'd batch reads through the anti-join branch
      assert(graftScans.head.selectedPartitions.totalNumberOfFiles == 1,
        plan.toString)
      // a session WITHOUT the extensions keeps the correct (fallback) read
      assert(spark.read.format("graft").load(dir)
        .filter(col("id") > 10).count() == 69)
      // and the fully-clean mapped table swaps too once vectors purge
      TxTable.purgeDvs(ext, dir)
      val q2 = ext.read.format("graft").load(dir)
      assert(q2.count() == 79)
      assert(q2.queryExecution.executedPlan.collect {
        case r: org.apache.spark.sql.execution.RowDataSourceScanExec => r
      }.isEmpty)
    } finally savedAqe.fold(ext.conf.unset("spark.sql.adaptive.enabled"))(
      ext.conf.set("spark.sql.adaptive.enabled", _))
  }

  test("ANALYZE on a DV'd table: per-branch stats still flip the dim join to broadcast") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.andv_dim")
    ext.sql("DROP TABLE IF EXISTS graft.db.andv_fact")
    ext.sql("CREATE TABLE graft.db.andv_dim " +
      "TBLPROPERTIES ('graft.deletes.mode'='dv') AS " +
      "SELECT id AS k, id * 3 AS v FROM range(20000)")
    ext.sql("CREATE TABLE graft.db.andv_fact AS " +
      "SELECT id % 20000 AS k, id AS x FROM range(100000)")
    // MoR delete: the dim now has live deletion vectors — the read plans
    // as clean ∪ anti-join, the shape that used to skip stats entirely
    ext.sql("DELETE FROM graft.db.andv_dim WHERE k < 100")
    val dimDir = s"$lakeRoot/db/andv_dim"
    assert(TxTable.hasLiveDvs(ext, dimDir, None))
    val fs = new org.apache.hadoop.fs.Path(dimDir)
      .getFileSystem(ext.sparkContext.hadoopConfiguration)
    val dimBytes = TxTable.liveFilePaths(ext, dimDir)
      .map(p => fs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen)
      .sum
    val factor = math.max(1L, 3000000L / math.max(1L, dimBytes))
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.sources.fileCompressionFactor", "spark.sql.cbo.enabled",
      "spark.sql.adaptive.enabled").map(k => k -> ext.conf.getOption(k))
    try {
      ext.conf.set("spark.sql.autoBroadcastJoinThreshold", "1000000")
      ext.conf.set("spark.sql.sources.fileCompressionFactor", factor.toString)
      ext.conf.set("spark.sql.cbo.enabled", "true")
      ext.conf.set("spark.sql.adaptive.enabled", "false")
      // the dim's own DV anti-join legitimately broadcasts its (tiny)
      // sidecar — the decision under test is the INNER fact⋈dim join
      def hasBroadcast: Boolean = ext.sql(
        "SELECT count(*) FROM graft.db.andv_fact f " +
          "JOIN graft.db.andv_dim d ON f.k = d.k")
        .queryExecution.executedPlan
        .exists {
          case j: BroadcastHashJoinExec =>
            j.joinType == org.apache.spark.sql.catalyst.plans.Inner
          case _ => false
        }
      assert(!hasBroadcast,
        s"pre-ANALYZE the DV'd dim must NOT broadcast ($dimBytes B × $factor)")
      ext.sql("ANALYZE TABLE graft.db.andv_dim COMPUTE STATISTICS")
      // the split persisted: clean + dv-live = whole-table live
      val split = TxTable.catalogStatsSplit(ext, dimDir, None)
      assert(split.isDefined)
      val (cleanCs, dvRows, _) = split.get
      assert(cleanCs.rowCount.get.toLong + dvRows == 19900,
        s"clean ${cleanCs.rowCount} + dv $dvRows != 19900")
      assert(dvRows > 0, "the deleted range must live in a DV'd file")
      assert(hasBroadcast,
        "post-ANALYZE the DV'd dim must broadcast (live-adjusted stats " +
          "attached per branch)")
    } finally saved.foreach { case (k, v) =>
      v.fold(ext.conf.unset(k))(ext.conf.set(k, _)) }
  }

  test("ANALYZE histograms: skewed join cardinality estimate moves toward truth") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.hs_a")
    ext.sql("DROP TABLE IF EXISTS graft.db.hs_b")
    // half the rows share key 0 (the hot key), half are unique: true join
    // cardinality is 10000² + 10000 ≈ 1.0e8; the uniformity assumption
    // (|A|·|B| / max ndv) says ~4e4 — off by ~2500×
    ext.sql("CREATE TABLE graft.db.hs_a AS SELECT CASE WHEN id < 10000 " +
      "THEN 0 ELSE id END AS k FROM range(20000)")
    ext.sql("CREATE TABLE graft.db.hs_b AS SELECT CASE WHEN id < 10000 " +
      "THEN 0 ELSE id END AS k FROM range(20000)")
    val saved = Seq("spark.sql.cbo.enabled",
      "spark.sql.statistics.histogram.enabled",
      "spark.sql.statistics.histogram.numBins")
      .map(k => k -> ext.conf.getOption(k))
    try {
      ext.conf.set("spark.sql.cbo.enabled", "true")
      org.apache.spark.sql.SparkSession.setActiveSession(ext)
      def estimate: BigInt = ext.sql(
        "SELECT a.k FROM graft.db.hs_a a JOIN graft.db.hs_b b ON a.k = b.k")
        .queryExecution.optimizedPlan.stats.rowCount.getOrElse(BigInt(-1))
      // NDV-only stats: the uniformity estimate (far under truth)
      ext.sql("ANALYZE TABLE graft.db.hs_a COMPUTE STATISTICS FOR ALL COLUMNS")
      ext.sql("ANALYZE TABLE graft.db.hs_b COMPUTE STATISTICS FOR ALL COLUMNS")
      val uniform = estimate
      assert(uniform > 0, s"no rowCount estimate: $uniform")
      // re-ANALYZE with histograms (Spark's own flag): the hot key shows
      // up as equi-height bins with lo=hi=0 on both sides
      ext.conf.set("spark.sql.statistics.histogram.enabled", "true")
      ext.conf.set("spark.sql.statistics.histogram.numBins", "64")
      ext.sql("ANALYZE TABLE graft.db.hs_a COMPUTE STATISTICS FOR ALL COLUMNS")
      ext.sql("ANALYZE TABLE graft.db.hs_b COMPUTE STATISTICS FOR ALL COLUMNS")
      val hist = estimate
      val truth = BigInt(10000L * 10000L + 10000L)
      assert(hist > uniform * 100,
        s"histogram estimate $hist did not move off uniformity $uniform")
      assert(hist > truth / 10 && hist < truth * 10,
        s"histogram estimate $hist not within 10× of truth $truth")
      // histograms ride the stats property, so they survive log compaction
      ext.sql("CALL graft.system.compact_log('db.hs_a')").collect()
      assert(estimate == hist,
        "histogram-backed estimate must survive compact_log")
    } finally saved.foreach { case (k, v) =>
      v.fold(ext.conf.unset(k))(ext.conf.set(k, _)) }
  }

  test("ANALYZE FOR ALL COLUMNS on a table with array/string columns: no unparseable min/max persisted") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.an_arr")
    // FOR ALL COLUMNS reaches the array column automatically (min/max on
    // arrays is a VALID aggregate) — but CatalogColumnStat has no parse
    // case for it, so a persisted bound would make every query on the
    // table throw at plan time once CBO reads the stats: a deferred,
    // persistent failure stored in the log
    ext.sql("CREATE TABLE graft.db.an_arr AS " +
      "SELECT id AS k, array(id, id + 1) AS arr, concat('s', id) AS s " +
      "FROM range(100)")
    ext.sql("ANALYZE TABLE graft.db.an_arr COMPUTE STATISTICS FOR ALL COLUMNS")
    val props = ext.sql("SHOW TBLPROPERTIES graft.db.an_arr").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // NDV/null counts persist for every column; min/max only for the
    // atomic types Spark's stat parser supports (k here; not arr, not s)
    assert(props("graft.stats.col.k").matches(".*min=[0-9a-f]+.*"), props)
    assert(props("graft.stats.col.arr").contains("min=,max="), props)
    assert(props("graft.stats.col.arr").contains("ndv="), props)
    assert(props("graft.stats.col.s").contains("min=,max="), props)
    assert(props("graft.stats.col.s").contains("avgLen="), props)
    // the deferred-failure probe: CBO reads the persisted stats at plan
    // time — with an array bound stored this throws for EVERY query
    val saved = ext.conf.getOption("spark.sql.cbo.enabled")
    try {
      ext.conf.set("spark.sql.cbo.enabled", "true")
      org.apache.spark.sql.SparkSession.setActiveSession(ext)
      val st = ext.sql("SELECT k, arr FROM graft.db.an_arr WHERE k > 5")
        .queryExecution.optimizedPlan.stats
      assert(st.rowCount.isDefined || st.sizeInBytes > 0)
      assert(ext.sql("SELECT count(*) FROM graft.db.an_arr WHERE k > 5")
        .head.getLong(0) == 94)
    } finally saved.fold(ext.conf.unset("spark.sql.cbo.enabled"))(
      ext.conf.set("spark.sql.cbo.enabled", _))
  }

  test("identity columns: engine-assigned ids, GENERATED ALWAYS refusal, concurrent uniqueness") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.ident")
    ext.sql("CREATE TABLE graft.db.ident " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, name STRING)")
    val dir = s"$lakeRoot/db/ident"
    // the DDL armed the allocator
    assert(TxTable.identitySpecs(ext, dir).keySet == Set("id"))
    // inserts omit the column via NULL: the engine assigns densely in row
    // order, advancing the allocator in the same commit
    ext.sql("INSERT INTO graft.db.ident VALUES (NULL, 'a'), (NULL, 'b')")
    ext.sql("INSERT INTO graft.db.ident VALUES (NULL, 'c')")
    val rows = ext.sql("SELECT id, name FROM graft.db.ident ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")), rows)
    // GENERATED ALWAYS: explicit values refused loudly
    val e = intercept[Exception] {
      ext.sql("INSERT INTO graft.db.ident VALUES (99, 'x')")
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
    // GENERATED BY DEFAULT: explicit values accepted, allocator skips past
    ext.sql("DROP TABLE IF EXISTS graft.db.identd")
    ext.sql("CREATE TABLE graft.db.identd " +
      "(id BIGINT GENERATED BY DEFAULT AS IDENTITY, name STRING)")
    ext.sql("INSERT INTO graft.db.identd VALUES (100, 'x')")
    ext.sql("INSERT INTO graft.db.identd VALUES (NULL, 'y')")
    val d = ext.sql("SELECT id, name FROM graft.db.identd ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(d == Seq((100L, "x"), (101L, "y")), d)
    // START WITH / INCREMENT BY honored
    ext.sql("DROP TABLE IF EXISTS graft.db.idents")
    ext.sql("CREATE TABLE graft.db.idents (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY (START WITH 10 INCREMENT BY 5), name STRING)")
    ext.sql("INSERT INTO graft.db.idents VALUES (NULL, 'p'), (NULL, 'q')")
    assert(ext.sql("SELECT id FROM graft.db.idents ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(10L, 15L))

    // concurrent inserts: the OCC-pinned allocator never double-issues —
    // both writers land (retry) and all ids are unique
    ext.sql("DROP TABLE IF EXISTS graft.db.identc")
    ext.sql("CREATE TABLE graft.db.identc " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, v INT)")
    val cdir = s"$lakeRoot/db/identc"
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(tag: Int): Thread = new Thread(() => {
      try {
        val sq = ext.sqlContext; import sq.implicits._
        val data = (1 to 100).map(i => (tag * 1000 + i)).toDF("v")
        barrier.await()
        TxTable.insertWithIdentity(ext, cdir, data, overwrite = false)
      } catch { case t: Throwable => errs.add(t) }
    })
    val ts = Seq(writer(1), writer(2))
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    assert(errs.isEmpty, errs.toString)
    val ids = ext.sql("SELECT id FROM graft.db.identc").collect()
      .map(_.getLong(0)).toSeq
    assert(ids.size == 200 && ids.distinct.size == 200,
      s"expected 200 unique ids, got ${ids.size}/${ids.distinct.size}")
    assert(ids.min == 1L && ids.max == 200L, s"${ids.min}..${ids.max}")
  }

  test("negative-step identity: explicit values advance the allocator past their MIN, never back into the taken range") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.identn")
    ext.sql("CREATE TABLE graft.db.identn (id BIGINT GENERATED BY DEFAULT " +
      "AS IDENTITY (START WITH -1 INCREMENT BY -1), name STRING)")
    // a descending identity walks toward smaller values; explicit -5/-3
    // occupy the range — the frontier is the MINIMUM (-5), so the next
    // engine-assigned id must be -6 (max-based sync would hand out -4,
    // then -5: a duplicate)
    ext.sql("INSERT INTO graft.db.identn VALUES (-5, 'a'), (-3, 'b')")
    ext.sql("INSERT INTO graft.db.identn VALUES (NULL, 'c'), (NULL, 'd')")
    val rows = ext.sql("SELECT id, name FROM graft.db.identn ORDER BY id DESC")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((-3L, "b"), (-5L, "a"), (-6L, "c"), (-7L, "d")), rows)
    val ids = rows.map(_._1)
    assert(ids.distinct.size == ids.size, s"duplicate ids: $ids")
  }

  test("INT identity overflow fails loudly instead of wrapping into duplicate ids") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.idento")
    ext.sql("CREATE TABLE graft.db.idento (id INT GENERATED ALWAYS AS " +
      "IDENTITY (START WITH 2147483646), v INT)")
    ext.sql("INSERT INTO graft.db.idento VALUES (NULL, 1), (NULL, 2)")
    assert(ext.sql("SELECT id FROM graft.db.idento ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(2147483646, 2147483647))
    // the next value exceeds Int.MaxValue: must throw, not wrap to
    // -2147483648 and eventually re-issue taken ids
    val e = intercept[Exception] {
      ext.sql("INSERT INTO graft.db.idento VALUES (NULL, 3)")
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(_.isInstanceOf[ArithmeticException]),
      e.toString)
  }

  test("CTAS TBLPROPERTIES land in the SAME commit as the data; graft.identity.* governs the CTAS insert itself") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.ctasp")
    ext.sql("CREATE TABLE graft.db.ctasp " +
      "TBLPROPERTIES ('graft.deletes.mode'='mor', " +
      " 'graft.identity.id'='start=100,step=1,explicit=false,next=100') " +
      "AS SELECT cast(NULL AS BIGINT) AS id, concat('n', cast(x AS STRING)) AS name " +
      "FROM (SELECT explode(sequence(1, 3)) AS x)")
    val dir = s"$lakeRoot/db/ctasp"
    // ONE commit: data + declared properties are atomic (a crash can
    // never land the rows without the properties the user declared)
    assert(TxTable.headVersion(ext, dir).contains(1L))
    val props = TxTable.tableProperties(ext, dir)
    assert(props.get("graft.deletes.mode").contains("mor"), props)
    // the identity spec declared in the CTAS governed the CTAS's own
    // insert: ids assigned from 100, allocator advanced in that commit
    assert(ext.sql("SELECT id FROM graft.db.ctasp ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(100L, 101L, 102L))
    assert(TxTable.identitySpecs(ext, dir)("id").next == 103L)
    // and the declaration keeps governing later inserts
    ext.sql("INSERT INTO graft.db.ctasp VALUES (NULL, 'x')")
    assert(ext.sql("SELECT max(id) FROM graft.db.ctasp").head.getLong(0) == 103L)
  }

  test("column DEFAULT values: CREATE, INSERT omission, DEFAULT keyword, ADD COLUMN existence fill, SET DEFAULT, time travel") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.defs")
    // the reference's setup_target.py DDL idiom: DEFAULT 0 / TRUE /
    // literal date / NOW()  (setup_target.py:17-20,78-79,130)
    ext.sql("CREATE TABLE graft.db.defs (" +
      "k STRING, n INT DEFAULT 0, f BOOLEAN DEFAULT TRUE, " +
      "d DATE DEFAULT DATE'2020-01-01', ts TIMESTAMP DEFAULT current_timestamp())")
    val dir = s"$lakeRoot/db/defs"
    // INSERT with a column list omitting defaulted columns fills them
    ext.sql("INSERT INTO graft.db.defs (k) VALUES ('a')")
    val r1 = ext.sql("SELECT k, n, f, d FROM graft.db.defs").head
    assert((r1.getString(0), r1.getInt(1), r1.getBoolean(2),
      r1.getDate(3).toString) == ("a", 0, true, "2020-01-01"), r1)
    assert(!ext.sql("SELECT ts FROM graft.db.defs").head.isNullAt(0),
      "current_timestamp() default must stamp the insert")
    // the explicit DEFAULT keyword
    ext.sql("INSERT INTO graft.db.defs VALUES " +
      "('b', DEFAULT, false, DEFAULT, DEFAULT)")
    val r2 = ext.sql("SELECT n, f, d FROM graft.db.defs WHERE k = 'b'").head
    assert((r2.getInt(0), r2.getBoolean(1), r2.getDate(2).toString) ==
      (0, false, "2020-01-01"), r2)
    val vBeforeAdd = TxTable.headVersion(ext, dir).get

    // ADD COLUMN ... DEFAULT: EXISTENCE default — rows written BEFORE the
    // column read the frozen constant, with zero bytes rewritten
    ext.sql("ALTER TABLE graft.db.defs ADD COLUMN score INT DEFAULT 7")
    assert(ext.sql("SELECT score FROM graft.db.defs WHERE k = 'a'")
      .head.getInt(0) == 7)
    // pushed-down predicates evaluate against the filled value
    assert(ext.sql(
      "SELECT count(*) FROM graft.db.defs WHERE score = 7").head.getLong(0) == 2)
    // new INSERT omitting it gets the current default too
    ext.sql("INSERT INTO graft.db.defs (k) VALUES ('c')")
    assert(ext.sql("SELECT score FROM graft.db.defs WHERE k = 'c'")
      .head.getInt(0) == 7)

    // SET DEFAULT changes FUTURE inserts only; pre-declaration rows keep
    // reading the frozen existence default
    ext.sql("ALTER TABLE graft.db.defs ALTER COLUMN score SET DEFAULT 99")
    ext.sql("INSERT INTO graft.db.defs (k) VALUES ('e')")
    assert(ext.sql("SELECT score FROM graft.db.defs WHERE k = 'e'")
      .head.getInt(0) == 99)
    assert(ext.sql("SELECT score FROM graft.db.defs WHERE k = 'a'")
      .head.getInt(0) == 7,
      "SET DEFAULT must not rewrite history — existence default is frozen")
    // DROP DEFAULT: subsequent omission inserts NULL
    ext.sql("ALTER TABLE graft.db.defs ALTER COLUMN score DROP DEFAULT")
    ext.sql("INSERT INTO graft.db.defs (k) VALUES ('g')")
    val gres = ext.sql("SELECT score FROM graft.db.defs WHERE k = 'g'")
      .collect().toSeq
    assert(gres.head.isNullAt(0), gres)

    // time travel below the ADD COLUMN reads the OLD schema — no score
    val old = ext.sql(
      s"SELECT * FROM graft.db.defs VERSION AS OF $vBeforeAdd")
    assert(!old.columns.contains("score"), old.columns.mkString(","))

    // SHOW CREATE TABLE round-trips the DEFAULT clauses
    val ddl = ext.sql("SHOW CREATE TABLE graft.db.defs").head.getString(0)
    assert(ddl.toUpperCase.contains("DEFAULT"), ddl)

    // the TxTable API read agrees with SQL on the existence fill
    val api = TxTable.read(ext, dir).get
    assert(api.filter(col("k") === "a").select("score").head.getInt(0) == 7)
  }

  test("SHOW CREATE TABLE round-trips a reference-shaped DDL: identity + NOT NULL + DEFAULTs re-run and govern") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.tnodes")
    ext.sql("DROP TABLE IF EXISTS graft.db.tnodes2")
    // the reference's setup_target.py table shape: BIGSERIAL surrogate,
    // NOT NULL natural key, DEFAULT TRUE / 0 / literal timestamp / NOW()
    ext.sql("CREATE TABLE graft.db.tnodes (" +
      "node_id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "node_name STRING NOT NULL, " +
      "is_active BOOLEAN DEFAULT TRUE, " +
      "retry_count INT DEFAULT 0, " +
      "valid_from TIMESTAMP DEFAULT TIMESTAMP'2020-01-01 00:00:00', " +
      "etl_inserted_at TIMESTAMP DEFAULT current_timestamp())")
    val ddl = ext.sql("SHOW CREATE TABLE graft.db.tnodes").head.getString(0)
    assert(ddl.toUpperCase.contains("DEFAULT"), ddl)
    // the emitted DDL re-runs verbatim under a new name
    ext.sql(ddl.replace("graft.db.tnodes", "graft.db.tnodes2"))
    // and its declarations GOVERN: defaults fill, identity allocates,
    // NOT NULL rejects
    ext.sql("INSERT INTO graft.db.tnodes2 (node_name) VALUES ('alpha')")
    val r = ext.sql("SELECT node_id, is_active, retry_count, " +
      "cast(valid_from AS STRING) AS vf, etl_inserted_at IS NOT NULL " +
      "FROM graft.db.tnodes2").head
    assert((r.getLong(0), r.getBoolean(1), r.getInt(2), r.getString(3),
      r.getBoolean(4)) == (1L, true, 0, "2020-01-01 00:00:00", true), r)
    val e = intercept[Exception] {
      ext.sql("INSERT INTO graft.db.tnodes2 (node_name) VALUES (NULL)")
    }
    assert(e.getMessage.toLowerCase.contains("null") ||
      e.getMessage.toLowerCase.contains("constraint"), e.getMessage)
  }

  test("CONVERT TO GRAFT: in-place adoption — same rows, log-owned DML + time travel, vacuum never touches adopted files") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    // a pre-existing HIVE-PARTITIONED parquet directory at the catalog
    // location — written by plain Spark, no graft involvement
    val dir = s"$lakeRoot/db/legacy"
    val fsDir = new org.apache.hadoop.fs.Path(dir)
    val fs = fsDir.getFileSystem(ext.sparkContext.hadoopConfiguration)
    fs.delete(fsDir, true)
    val sq = ext.sqlContext; import sq.implicits._
    val src = (1 to 200).map(i => (i.toLong, s"n$i", i % 4))
      .toDF("id", "name", "bucket")
    src.write.partitionBy("bucket").parquet(dir)
    val preHash = ext.read.parquet(dir)
      .select("id", "name", "bucket").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

    // ONE metadata commit adopts the files where they stand
    val adopted = ext.sql("CONVERT TO GRAFT graft.db.legacy")
      .head.getInt(0)
    assert(adopted >= 4, s"adopted=$adopted") // >= one file per fragment
    assert(TxTable.headVersion(ext, dir).contains(1L))
    // no data file moved or copied: no engine-owned data/ dir yet
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "data")))

    // SQL read returns exactly the pre-conversion rows
    val postRows = ext.sql("SELECT id, name, bucket FROM graft.db.legacy")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(postRows == preHash)
    // partition pruning works on the inferred layout
    assert(scannedFiles(ext.sql(
      "SELECT id FROM graft.db.legacy WHERE bucket = 2")) < adopted)
    // the API read agrees
    assert(TxTable.read(ext, dir).get.select("id", "name", "bucket")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSet == preHash)

    // the LOG owns the table now: DELETE rewrites, time travel reads v1
    ext.sql("DELETE FROM graft.db.legacy WHERE id <= 100")
    assert(ext.sql("SELECT count(*) FROM graft.db.legacy")
      .head.getLong(0) == 100)
    assert(ext.sql("SELECT count(*) FROM graft.db.legacy VERSION AS OF 1")
      .head.getLong(0) == 200)

    // vacuum NEVER reclaims adopted files (they are not engine-owned),
    // even though the DELETE retired some of them from the live set
    val before = fs.listStatus(fsDir).filter(s =>
      s.getPath.getName.startsWith("bucket=")).length
    ext.sql("VACUUM graft.db.legacy RETAIN 1 VERSIONS")
    val after = fs.listStatus(fsDir).filter(s =>
      s.getPath.getName.startsWith("bucket=")).length
    assert(after == before, s"vacuum touched adopted fragments: $before -> $after")
    assert(ext.sql("SELECT count(*) FROM graft.db.legacy")
      .head.getLong(0) == 100)

    // converting an existing graft table refuses loudly
    val e = intercept[Exception] { ext.sql("CONVERT TO GRAFT graft.db.legacy") }
    assert(e.getMessage.contains("already exists"), e.getMessage)

    // unpartitioned adoption round-trips too
    val dir2 = s"$lakeRoot/db/legacy_flat"
    fs.delete(new org.apache.hadoop.fs.Path(dir2), true)
    (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
      .repartition(3).write.parquet(dir2)
    val flatPre = ext.read.parquet(dir2).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    ext.sql("CONVERT TO GRAFT graft.db.legacy_flat")
    assert(ext.sql("SELECT k, v FROM graft.db.legacy_flat").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet == flatPre)
    // footer envelopes arrived with the adoption: a selective range scan
    // prunes whole files through the log's stats skipping (readSkipping
    // returns every row of the files it could not prune — fewer than the
    // full 50 proves at least one adopted file was skipped on stats)
    val kept = TxTable.readSkipping(ext, dir2, "k", 1L, 1L).get
    assert(kept.count() < 50 && kept.filter(col("k") === 1L).count() == 1)
  }

  test("branch refs: write-audit-publish — isolated backfill, fast-forward publish with zero copies, FF refusal") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.wap")
    ext.sql("CREATE TABLE graft.db.wap AS " +
      "SELECT id, id * 2 AS v FROM range(100)")
    ext.sql("INSERT INTO graft.db.wap SELECT id, id * 2 FROM range(100, 150)")
    val dir = s"$lakeRoot/db/wap"
    val mainFilesBefore = TxTable.liveFilePaths(ext, dir).toSet

    // branch from head (v2); stage a risky backfill ON THE BRANCH
    val base = ext.sql("CALL graft.system.create_branch('db.wap', 'bf')")
      .head.getLong(0)
    // CTAS (v1) + INSERT (v2) + the branch-created history marker (v3)
    assert(base == 3L)
    ext.sql("INSERT INTO graft.db.`wap@bf` SELECT id, id * 2 FROM range(150, 200)")
    ext.sql("DELETE FROM graft.db.`wap@bf` WHERE id < 10")
    // audit: the branch sees the backfill...
    assert(ext.sql("SELECT count(*) FROM graft.db.`wap@bf`")
      .head.getLong(0) == 190)
    // ...while MAIN keeps serving the pre-branch state, untouched
    assert(ext.sql("SELECT count(*) FROM graft.db.wap").head.getLong(0) == 150)
    assert(TxTable.liveFilePaths(ext, dir).toSet == mainFilesBefore)
    assert(TxTable.listBranches(ext, dir) == Seq("bf" -> 3L))

    // publish: fast-forward, zero file copies (branch batches RENAME in)
    val published = ext.sql(
      "CALL graft.system.publish_branch('db.wap', 'bf')").head.getInt(0)
    assert(published == 2, s"published=$published")
    assert(ext.sql("SELECT count(*) FROM graft.db.wap").head.getLong(0) == 190)
    assert(ext.sql("SELECT sum(v) FROM graft.db.wap").head.getLong(0) ==
      (10L until 200L).map(_ * 2).sum)
    // the branch is gone (its batches now belong to main)
    assert(TxTable.listBranches(ext, dir).isEmpty)
    // time travel still works across the publish boundary
    assert(ext.sql("SELECT count(*) FROM graft.db.wap VERSION AS OF 2")
      .head.getLong(0) == 150)

    // fast-forward refusal: main advances after branching -> publish fails
    ext.sql("CALL graft.system.create_branch('db.wap', 'late')")
    ext.sql("INSERT INTO graft.db.wap SELECT id, 0 FROM range(1000, 1001)")
    val e = intercept[Exception] {
      ext.sql("CALL graft.system.publish_branch('db.wap', 'late')")
    }
    assert(e.getMessage.contains("fast-forward"), e.getMessage)
    // the failed publish changed nothing on main; drop reclaims the branch
    assert(ext.sql("SELECT count(*) FROM graft.db.wap").head.getLong(0) == 191)
    assert(ext.sql("CALL graft.system.drop_branch('db.wap', 'late')")
      .head.getBoolean(0))
    assert(TxTable.listBranches(ext, dir).isEmpty)
  }

  test("a publish that crashed mid-move recovers: the intent marker restores unreferenced batches and the re-run publishes cleanly") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.wapcr")
    ext.sql("CREATE TABLE graft.db.wapcr AS SELECT id FROM range(100)")
    val dir = s"$lakeRoot/db/wapcr"
    ext.sql("CALL graft.system.create_branch('db.wapcr', 'cr')")
    ext.sql("INSERT INTO graft.db.`wapcr@cr` SELECT id FROM range(100, 150)")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(ext.sparkContext.hadoopConfiguration)
    val bd = new org.apache.hadoop.fs.Path(s"$dir/_graft_branches/cr")
    // simulate a publish that moved the branch's batch into main and then
    // crashed before landing any commit: rename the batch dir by hand and
    // write the intent marker a real publish would have written first
    val branchData = fs.listStatus(
      new org.apache.hadoop.fs.Path(bd, "data")).map(_.getPath)
      .filter(p => fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")))
    assert(branchData.length == 1, branchData.mkString(","))
    val bp = "data/" + branchData.head.getName
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/data"))
    assert(fs.rename(branchData.head,
      new org.apache.hadoop.fs.Path(dir, bp)))
    val out = fs.create(
      new org.apache.hadoop.fs.Path(bd, "_publish_intent"), true)
    out.write(bp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    // main is UNAFFECTED by the stray dir (readers resolve via the log)
    assert(ext.sql("SELECT count(*) FROM graft.db.wapcr").head.getLong(0) == 100)
    // the branch's own read of that batch would fail right now — exactly
    // the r14 half-applied hazard. The next publish must first restore.
    val published = ext.sql(
      "CALL graft.system.publish_branch('db.wapcr', 'cr')").head.getInt(0)
    assert(published == 1, s"published=$published")
    assert(ext.sql("SELECT count(*) FROM graft.db.wapcr").head.getLong(0) == 150)
    assert(ext.sql("SELECT sum(id) FROM graft.db.wapcr").head.getLong(0) ==
      (0L until 150L).sum)
    assert(TxTable.listBranches(ext, dir).isEmpty)
  }

  test("re-running a publish that crashed after landing every commit completes the cleanup instead of refusing") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.wapid")
    ext.sql("CREATE TABLE graft.db.wapid AS SELECT id FROM range(100)")
    val dir = s"$lakeRoot/db/wapid"
    ext.sql("CALL graft.system.create_branch('db.wapid', 'cd')")
    ext.sql("INSERT INTO graft.db.`wapid@cd` SELECT id FROM range(100, 150)")
    val conf = ext.sparkContext.hadoopConfiguration
    val bd = new org.apache.hadoop.fs.Path(s"$dir/_graft_branches/cd")
    val fs = bd.getFileSystem(conf)
    // snapshot the branch dir, then publish for real
    val side = new org.apache.hadoop.fs.Path(tmpDir("wapid-side"), "cd")
    org.apache.hadoop.fs.FileUtil.copy(fs, bd, fs, side, false, true, conf)
    assert(ext.sql("CALL graft.system.publish_branch('db.wapid', 'cd')")
      .head.getInt(0) == 1)
    assert(ext.sql("SELECT count(*) FROM graft.db.wapid").head.getLong(0) == 150)
    // resurrect the exact crash-after-land state: branch log + seed back,
    // its data batches GONE (they moved to main), intent marker present
    org.apache.hadoop.fs.FileUtil.copy(fs, side, fs, bd, false, true, conf)
    val batches = fs.listStatus(new org.apache.hadoop.fs.Path(bd, "data"))
      .map(_.getPath).filter(p =>
        fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")))
    assert(batches.length == 1)
    val bp = "data/" + batches.head.getName
    batches.foreach(fs.delete(_, true))
    val out = fs.create(
      new org.apache.hadoop.fs.Path(bd, "_publish_intent"), true)
    out.write(bp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    assert(TxTable.listBranches(ext, dir).map(_._1) == Seq("cd"))
    // the re-run must recognize the landed commits, finish the cleanup,
    // and above all NOT land anything twice
    assert(ext.sql("CALL graft.system.publish_branch('db.wapid', 'cd')")
      .head.getInt(0) == 1)
    assert(ext.sql("SELECT count(*) FROM graft.db.wapid").head.getLong(0) == 150)
    assert(ext.sql("SELECT sum(id) FROM graft.db.wapid").head.getLong(0) ==
      (0L until 150L).sum)
    assert(TxTable.listBranches(ext, dir).isEmpty)
  }

  test("branch publish carries MoR deletion vectors taken on the branch (dvRef paths re-key to main)") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.wapdv")
    ext.sql("CREATE TABLE graft.db.wapdv AS " +
      "SELECT id, id % 7 AS tag FROM range(500)")
    ext.sql("ALTER TABLE graft.db.wapdv SET TBLPROPERTIES" +
      "('graft.deletes.mode'='dv')")
    ext.sql("CALL graft.system.create_branch('db.wapdv', 'mor')")
    // a MoR delete ON THE BRANCH writes a deletion vector against the
    // branch's ABSOLUTE refs into main's files
    ext.sql("DELETE FROM graft.db.`wapdv@mor` WHERE tag = 3")
    val expect = (0L until 500L).count(_ % 7 != 3)
    assert(ext.sql("SELECT count(*) FROM graft.db.`wapdv@mor`")
      .head.getLong(0) == expect)
    assert(ext.sql("SELECT count(*) FROM graft.db.wapdv")
      .head.getLong(0) == 500)
    ext.sql("CALL graft.system.publish_branch('db.wapdv', 'mor')")
    // post-publish the DV keys re-relativized onto main's live paths
    assert(ext.sql("SELECT count(*) FROM graft.db.wapdv")
      .head.getLong(0) == expect)
    assert(ext.sql("SELECT count(*) FROM graft.db.wapdv WHERE tag = 3")
      .head.getLong(0) == 0)
  }

  test("tag refs: VERSION AS OF 'name' resolves; tags never move; SHALLOW CLONE is zero-copy and independent") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.tagged")
    ext.sql("DROP TABLE IF EXISTS graft.db.tagclone")
    ext.sql("CREATE TABLE graft.db.tagged AS SELECT id FROM range(10)")
    ext.sql("INSERT INTO graft.db.tagged SELECT id FROM range(10, 30)")
    ext.sql("CALL graft.system.create_tag('db.tagged', 'release_1', 1)")
    ext.sql("CALL graft.system.create_tag('db.tagged', 'head_tag')")
    assert(ext.sql(
      "SELECT count(*) FROM graft.db.tagged VERSION AS OF 'release_1'")
      .head.getLong(0) == 10)
    assert(ext.sql(
      "SELECT count(*) FROM graft.db.tagged VERSION AS OF 'head_tag'")
      .head.getLong(0) == 30)
    // tags never move
    val e = intercept[Exception] {
      ext.sql("CALL graft.system.create_tag('db.tagged', 'release_1', 2)")
    }
    assert(e != null)
    // unknown tag names the available ones
    val e2 = intercept[Exception] {
      ext.sql("SELECT * FROM graft.db.tagged VERSION AS OF 'nope'")
    }
    assert(e2.getMessage.contains("release_1"), e2.getMessage)
    assert(ext.sql("CALL graft.system.drop_tag('db.tagged', 'head_tag')")
      .head.getBoolean(0))

    // SHALLOW CLONE: zero-copy, then fully independent
    val srcDir = s"$lakeRoot/db/tagged"
    val srcFiles = TxTable.liveFilePaths(ext, srcDir).toSet
    ext.sql("CREATE TABLE graft.db.tagclone SHALLOW CLONE graft.db.tagged")
    assert(ext.sql("SELECT count(*) FROM graft.db.tagclone")
      .head.getLong(0) == 30)
    // no bytes copied: the clone dir holds no data files of its own
    val cloneDir = s"$lakeRoot/db/tagclone"
    val fs = new org.apache.hadoop.fs.Path(cloneDir)
      .getFileSystem(ext.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(cloneDir, "data")))
    // clone writes don't touch the source; source writes don't touch it
    ext.sql("DELETE FROM graft.db.tagclone WHERE id >= 20")
    ext.sql("INSERT INTO graft.db.tagged SELECT id FROM range(30, 40)")
    assert(ext.sql("SELECT count(*) FROM graft.db.tagclone")
      .head.getLong(0) == 20)
    assert(ext.sql("SELECT count(*) FROM graft.db.tagged")
      .head.getLong(0) == 40)
    assert(TxTable.liveFilePaths(ext, srcDir).toSet.intersect(srcFiles)
      == srcFiles, "clone DML must not rewrite source files")
  }

  test("bucketed layout: point/IN lookups prune to the key's bucket files; rows identical to unbucketed; zorder refuses") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.bkt")
    ext.sql("DROP TABLE IF EXISTS graft.db.nobkt")
    ext.sql("CREATE TABLE graft.db.bkt PARTITIONED BY (bucket(8, id)) AS " +
      "SELECT id, concat('n', cast(id AS STRING)) AS name FROM range(1000)")
    ext.sql("CREATE TABLE graft.db.nobkt AS " +
      "SELECT id, concat('n', cast(id AS STRING)) AS name FROM range(1000)")
    val dir = s"$lakeRoot/db/bkt"
    assert(TxTable.bucketSpec(ext, dir).contains((8, "id")))
    val total = TxTable.liveFilePaths(ext, dir).size
    assert(total == 8, s"one file per bucket expected, got $total")

    // point lookup scans exactly the key's bucket file (1/N of the files)
    val point = ext.sql("SELECT name FROM graft.db.bkt WHERE id = 137")
    assert(scannedFiles(point) == 1, s"scanned ${scannedFiles(point)}")
    assert(point.head.getString(0) == "n137")
    // IN-list scans at most one file per distinct bucket
    val inq = ext.sql("SELECT count(*) FROM graft.db.bkt WHERE id IN (3, 500)")
    assert(scannedFiles(ext.sql(
      "SELECT name FROM graft.db.bkt WHERE id IN (3, 500)")) <= 2)
    assert(inq.head.getLong(0) == 2)
    // rows identical to the unbucketed twin
    assert(ext.sql("SELECT id, name FROM graft.db.bkt").collect().toSet ==
      ext.sql("SELECT id, name FROM graft.db.nobkt").collect().toSet)

    // the invariant survives rewrites: a DELETE re-stages through the
    // bucket router, so pruning keeps working on the rewritten files
    ext.sql("DELETE FROM graft.db.bkt WHERE id % 10 = 0")
    val post = ext.sql("SELECT name FROM graft.db.bkt WHERE id = 137")
    assert(scannedFiles(post) <= 2, s"scanned ${scannedFiles(post)}")
    assert(post.head.getString(0) == "n137")
    assert(ext.sql("SELECT count(*) FROM graft.db.bkt").head.getLong(0) == 900)

    // bucket and z-order clustering are mutually exclusive
    val e = intercept[Exception] {
      ext.sql("OPTIMIZE graft.db.bkt ZORDER BY (id)")
    }
    assert(e.getMessage.contains("graft.bucket"), e.getMessage)
  }

  test("generated columns: engine computes the expression, partitions by it, and raw source predicates prune date fragments") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.gen")
    // the reference's timeline access path (setup_target.py:239-240
    // indexes event_time; SURVEY §4 maps it to date partitioning) — here
    // the partition column DERIVES from the timestamp automatically
    ext.sql("CREATE TABLE graft.db.gen (" +
      "event_ts TIMESTAMP, v INT, " +
      "day DATE GENERATED ALWAYS AS (CAST(event_ts AS DATE))) " +
      "PARTITIONED BY (day)")
    val dir = s"$lakeRoot/db/gen"
    assert(TxTable.generatedSpecs(ext, dir).keySet == Set("day"))
    ext.sql("INSERT INTO graft.db.gen (event_ts, v) VALUES " +
      "(TIMESTAMP'2024-01-01 10:00:00', 1), " +
      "(TIMESTAMP'2024-01-02 11:00:00', 2), " +
      "(TIMESTAMP'2024-01-03 12:00:00', 3), " +
      "(TIMESTAMP'2024-01-04 13:00:00', 4), " +
      "(TIMESTAMP'2024-01-05 14:00:00', 5)")
    // the engine computed the column
    assert(ext.sql("SELECT count(*) FROM graft.db.gen " +
      "WHERE day = CAST(event_ts AS DATE)").head.getLong(0) == 5)
    assert(ext.sql("SELECT cast(day AS STRING) FROM graft.db.gen WHERE v = 3")
      .head.getString(0) == "2024-01-03")
    // explicit values refuse loudly — the expression is the truth
    val e = intercept[Exception] {
      ext.sql("INSERT INTO graft.db.gen VALUES " +
        "(TIMESTAMP'2024-01-06 10:00:00', 6, DATE'1999-12-31')")
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
    // partition-pruning derivation: a RAW range predicate on event_ts
    // prunes day fragments the query never names
    val total = TxTable.liveFilePaths(ext, dir).size
    assert(total == 5, s"one file per day expected, got $total")
    val q = ext.sql("SELECT v FROM graft.db.gen WHERE event_ts BETWEEN " +
      "TIMESTAMP'2024-01-02 00:00:00' AND TIMESTAMP'2024-01-03 23:59:00'")
    assert(scannedFiles(q) == 2, s"scanned ${scannedFiles(q)} of $total")
    assert(q.collect().map(_.getInt(0)).toSet == Set(2, 3))
    // a point predicate derives a one-day window
    val p = ext.sql("SELECT v FROM graft.db.gen " +
      "WHERE event_ts = TIMESTAMP'2024-01-04 13:00:00'")
    assert(scannedFiles(p) == 1, s"scanned ${scannedFiles(p)}")
    assert(p.head.getInt(0) == 4)
    // UPDATE of a generation SOURCE recomputes the generated column with
    // the NEW value; SET of the generated column itself refuses
    ext.sql("UPDATE graft.db.gen SET event_ts = TIMESTAMP'2024-03-15 08:00:00' " +
      "WHERE v = 5")
    assert(ext.sql("SELECT cast(day AS STRING) FROM graft.db.gen WHERE v = 5")
      .head.getString(0) == "2024-03-15",
      "UPDATE of event_ts must recompute day")
    val eu = intercept[Exception] {
      ext.sql("UPDATE graft.db.gen SET day = DATE'1999-01-01' WHERE v = 1")
    }
    assert(eu.getMessage.contains("generated"), eu.getMessage)

    // MERGE: inserted rows compute the column; an UPDATE SET of the
    // source recomputes; explicit values refuse
    ext.sql("MERGE INTO graft.db.gen t USING " +
      "(SELECT TIMESTAMP'2024-04-01 10:00:00' AS event_ts, 1 AS v " +
      " UNION ALL SELECT TIMESTAMP'2024-05-05 09:00:00', 77) s " +
      "ON t.v = s.v " +
      "WHEN MATCHED THEN UPDATE SET event_ts = s.event_ts " +
      "WHEN NOT MATCHED THEN INSERT (event_ts, v) VALUES (s.event_ts, s.v)")
    assert(ext.sql("SELECT cast(day AS STRING) FROM graft.db.gen WHERE v = 77")
      .head.getString(0) == "2024-05-05", "MERGE insert must compute day")
    assert(ext.sql("SELECT cast(day AS STRING) FROM graft.db.gen WHERE v = 1")
      .head.getString(0) == "2024-04-01", "MERGE update must recompute day")
    val em = intercept[Exception] {
      ext.sql("MERGE INTO graft.db.gen t USING (SELECT 99 AS v) s ON t.v = s.v " +
        "WHEN NOT MATCHED THEN INSERT (day, v) VALUES (DATE'1999-01-01', s.v)")
    }
    assert(em.getMessage.contains("generated"), em.getMessage)

    // SHOW CREATE TABLE keeps the declaration re-runnable
    val ddl = ext.sql("SHOW CREATE TABLE graft.db.gen").head.getString(0)
    assert(ddl.contains("graft.generated.day") || ddl.toUpperCase.contains("GENERATED"), ddl)
    ext.sql("DROP TABLE IF EXISTS graft.db.gen2")
    ext.sql(ddl.replace("graft.db.gen", "graft.db.gen2"))
    ext.sql("INSERT INTO graft.db.gen2 (event_ts, v) VALUES " +
      "(TIMESTAMP'2024-02-01 09:00:00', 9)")
    assert(ext.sql("SELECT cast(day AS STRING) FROM graft.db.gen2")
      .head.getString(0) == "2024-02-01")
  }

  test("ref metadata reclaim: dropped views and branches leave no files; ref lifecycle shows in graft_history") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.refrec")
    ext.sql("CREATE TABLE graft.db.refrec AS SELECT id FROM range(10)")
    val dir = s"$lakeRoot/db/refrec"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(ext.sparkContext.hadoopConfiguration)

    // DROP VIEW reclaims the view file from disk
    ext.sql("DROP VIEW IF EXISTS graft.db.v_refrec")
    ext.sql("CREATE VIEW graft.db.v_refrec AS SELECT id FROM graft.db.refrec")
    val viewsDir = new org.apache.hadoop.fs.Path(s"$lakeRoot/db/_graft_views")
    def viewFiles() =
      if (!fs.exists(viewsDir)) Seq.empty
      else fs.listStatus(viewsDir).map(_.getPath.getName).toSeq
    assert(viewFiles().nonEmpty)
    val before = viewFiles().size
    ext.sql("DROP VIEW graft.db.v_refrec")
    assert(viewFiles().size == before - 1,
      "DROP VIEW must reclaim the view file")

    // branch + tag lifecycle events surface in the table's own history
    ext.sql("CALL graft.system.create_branch('db.refrec', 'tmp')")
    ext.sql("CALL graft.system.drop_branch('db.refrec', 'tmp')")
    ext.sql("CALL graft.system.create_tag('db.refrec', 't1')")
    ext.sql("CALL graft.system.drop_tag('db.refrec', 't1')")
    // the branch dir is gone from disk
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_graft_branches/tmp")), "drop_branch must reclaim the dir")
    // graft_history carries one row per lifecycle event (props commits)
    val hist = ext.sql(s"SELECT n_props FROM graft_history('$dir')")
      .collect().map(_.getLong(0)).toSeq
    // create_branch + drop_branch + create_tag + drop_tag = 4 marker
    // commits on top of the CTAS
    assert(hist.count(_ > 0) >= 4, s"history props rows: $hist")
    val ev = TxTable.tableProperties(ext, dir).get("graft.ref.last_event")
    assert(ev.exists(_.contains("dropped")), ev.toString)
  }

  test("storage-partitioned join: two same-bucketed tables join with ZERO shuffles; agg on the bucket key skips its exchange") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.spj_a")
    ext.sql("DROP TABLE IF EXISTS graft.db.spj_b")
    ext.sql("DROP TABLE IF EXISTS graft.db.spj_plain")
    ext.sql("CREATE TABLE graft.db.spj_a PARTITIONED BY (bucket(8, k)) AS " +
      "SELECT id AS k, id * 3 AS va FROM range(2000)")
    ext.sql("CREATE TABLE graft.db.spj_b PARTITIONED BY (bucket(8, k)) AS " +
      "SELECT id AS k, id * 7 AS vb FROM range(1000)")
    ext.sql("CREATE TABLE graft.db.spj_plain AS " +
      "SELECT id AS k, id * 7 AS vb FROM range(1000)")
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
    val saved = ext.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = ext.conf.get("spark.sql.adaptive.enabled")
    try {
      // force a real (non-broadcast) join so the exchange question is
      // live, and disable AQE so executedPlan is concrete (an
      // AdaptiveSparkPlan wrapper hides its children from collect until
      // materialization — the shuffle count would be vacuously zero)
      ext.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ext.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = ext.sql("SELECT a.k, a.va, b.vb FROM graft.db.spj_a a " +
        "JOIN graft.db.spj_b b ON a.k = b.k")
      assert(shuffles(joined) == 0,
        s"expected ZERO shuffles for the co-bucketed join, got ${shuffles(joined)}:\n" +
          joined.queryExecution.executedPlan)
      // and the result is exactly the plain join's
      val plain = ext.sql("SELECT a.k, a.va, b.vb FROM graft.db.spj_a a " +
        "JOIN graft.db.spj_plain b ON a.k = b.k")
      assert(shuffles(plain) > 0, "the unbucketed twin must shuffle")
      assert(joined.collect().toSet == plain.collect().toSet)
      assert(joined.count() == 1000)
      // aggregation keyed on the bucket column: no exchange either
      val agg = ext.sql("SELECT k, sum(va) FROM graft.db.spj_a GROUP BY k")
      assert(shuffles(agg) == 0,
        s"expected zero shuffles for the bucket-key agg:\n" +
          agg.queryExecution.executedPlan)
      assert(agg.count() == 2000)
      // a second append keeps the layout: multiple files per bucket still
      // scan as one bucketed partition, join stays exchange-free
      ext.sql("INSERT INTO graft.db.spj_a SELECT id AS k, id * 3 FROM " +
        "range(2000, 2500)")
      val joined2 = ext.sql("SELECT a.k, a.va, b.vb FROM graft.db.spj_a a " +
        "JOIN graft.db.spj_b b ON a.k = b.k")
      assert(shuffles(joined2) == 0, joined2.queryExecution.executedPlan.toString)
      assert(joined2.count() == 1000)
    } finally {
      ext.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      ext.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
  }

  test("generated-column derivation beyond date: year(ts) and date_trunc('month', ts) prune their fragments from raw ts predicates") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.geny")
    ext.sql("CREATE TABLE graft.db.geny (" +
      "ts TIMESTAMP, v INT, " +
      "yr INT GENERATED ALWAYS AS (year(ts))) PARTITIONED BY (yr)")
    ext.sql("INSERT INTO graft.db.geny (ts, v) VALUES " +
      "(TIMESTAMP'2021-06-01 00:00:00', 1), " +
      "(TIMESTAMP'2022-06-01 00:00:00', 2), " +
      "(TIMESTAMP'2023-06-01 00:00:00', 3), " +
      "(TIMESTAMP'2024-06-01 00:00:00', 4)")
    assert(TxTable.liveFilePaths(ext, s"$lakeRoot/db/geny").size == 4)
    // bounds INSIDE the years (range skipping is superset-inclusive on
    // both ends: ts < 2024-01-01 would still admit year 2024's fragment)
    val qy = ext.sql("SELECT v FROM graft.db.geny WHERE ts >= " +
      "TIMESTAMP'2022-01-01 00:00:00' AND ts <= TIMESTAMP'2023-12-31 23:59:59'")
    assert(scannedFiles(qy) == 2, s"scanned ${scannedFiles(qy)} of 4")
    assert(qy.collect().map(_.getInt(0)).toSet == Set(2, 3))

    ext.sql("DROP TABLE IF EXISTS graft.db.genm")
    ext.sql("CREATE TABLE graft.db.genm (" +
      "ts TIMESTAMP, v INT, " +
      "mon TIMESTAMP GENERATED ALWAYS AS (date_trunc('month', ts))) " +
      "PARTITIONED BY (mon)")
    ext.sql("INSERT INTO graft.db.genm (ts, v) VALUES " +
      "(TIMESTAMP'2024-01-10 00:00:00', 1), " +
      "(TIMESTAMP'2024-02-10 00:00:00', 2), " +
      "(TIMESTAMP'2024-03-10 00:00:00', 3), " +
      "(TIMESTAMP'2024-04-10 00:00:00', 4)")
    val qm = ext.sql("SELECT v FROM graft.db.genm WHERE ts BETWEEN " +
      "TIMESTAMP'2024-02-01 00:00:00' AND TIMESTAMP'2024-03-20 00:00:00'")
    assert(scannedFiles(qm) == 2, s"scanned ${scannedFiles(qm)} of 4")
    assert(qm.collect().map(_.getInt(0)).toSet == Set(2, 3))
    // month() ALONE would wrap across years and must never derive
    assert(TxTable.derivedPartSource("month(ts)").isEmpty)
  }

  test("a live branch pins main's vacuum retention at its base; dropping the branch releases it") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.vbr")
    ext.sql("CREATE TABLE graft.db.vbr AS SELECT id FROM range(100)")
    ext.sql("CALL graft.system.create_branch('db.vbr', 'pin')")
    // main moves on: a full replace retires the adopted-by-branch files
    ext.sql("INSERT OVERWRITE graft.db.vbr SELECT id FROM range(100, 150)")
    // an aggressive vacuum must NOT reclaim the files the branch's seed
    // references absolutely
    ext.sql("VACUUM graft.db.vbr RETAIN 1 VERSIONS")
    assert(ext.sql("SELECT count(*) FROM graft.db.`vbr@pin`")
      .head.getLong(0) == 100,
      "vacuum reclaimed files a live branch references")
    assert(ext.sql("SELECT count(*) FROM graft.db.vbr").head.getLong(0) == 50)
    // dropping the branch releases the pin: the same vacuum now reclaims
    ext.sql("CALL graft.system.drop_branch('db.vbr', 'pin')")
    val r = ext.sql("VACUUM graft.db.vbr RETAIN 1 VERSIONS").collect()
    assert(r.exists(_.getString(0) == "batch_dir"),
      "post-drop vacuum should reclaim the superseded batch: " +
        r.map(_.mkString(":")).mkString(", "))
    assert(ext.sql("SELECT count(*) FROM graft.db.vbr").head.getLong(0) == 50)
  }

  test("bucketed layout + MoR deletion vectors compose: pruning and the DV anti-join agree") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.bktdv")
    ext.sql("CREATE TABLE graft.db.bktdv PARTITIONED BY (bucket(8, k)) AS " +
      "SELECT id AS k, id * 2 AS v FROM range(1000)")
    ext.sql("ALTER TABLE graft.db.bktdv SET TBLPROPERTIES" +
      "('graft.deletes.mode'='dv')")
    ext.sql("DELETE FROM graft.db.bktdv WHERE k % 10 = 0")
    // point lookups stay bucket-pruned on the clean side and correct
    // through the anti-join on the DV'd side
    assert(ext.sql("SELECT v FROM graft.db.bktdv WHERE k = 137")
      .head.getLong(0) == 274)
    assert(ext.sql("SELECT count(*) FROM graft.db.bktdv WHERE k = 130")
      .head.getLong(0) == 0) // deleted
    assert(ext.sql("SELECT count(*) FROM graft.db.bktdv").head.getLong(0) == 900)
    // purge returns files to the clean, suffix-named, bucketed state
    ext.sql("CALL graft.system.purge_dvs('db.bktdv', min_deleted_fraction => 0.0)")
    val q = ext.sql("SELECT v FROM graft.db.bktdv WHERE k = 137")
    assert(scannedFiles(q) == 1, s"scanned ${scannedFiles(q)}")
    assert(q.head.getLong(0) == 274)
  }

  test("persistent views: CREATE/SELECT/SHOW/ALTER/RENAME/DROP round-trip; survive a fresh catalog") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.vsrc")
    ext.sql("CREATE TABLE graft.db.vsrc AS " +
      "SELECT id, cast(id % 2 AS INT) AS flag FROM range(10)")
    ext.sql("DROP VIEW IF EXISTS graft.db.v_even")
    ext.sql("DROP VIEW IF EXISTS graft.db.v_even2")
    ext.sql("CREATE VIEW graft.db.v_even AS " +
      "SELECT id FROM graft.db.vsrc WHERE flag = 0")
    assert(ext.sql("SELECT count(*) FROM graft.db.v_even").head.getLong(0) == 5)
    // a view, not a snapshot: it reflects later table changes
    ext.sql("INSERT INTO graft.db.vsrc VALUES (100, 0)")
    assert(ext.sql("SELECT count(*) FROM graft.db.v_even").head.getLong(0) == 6)
    // SHOW VIEWS lists it
    assert(ext.sql("SHOW VIEWS IN graft.db").collect()
      .map(_.getString(1)).contains("v_even"))
    // persistent: a FRESH session + catalog instance resolves it from disk
    val ext2 = GraftBridge.withExtensions(spark, new GraftExtensions()(_))
    ext2.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    ext2.conf.set("spark.sql.catalog.graft.root", lakeRoot)
    assert(ext2.sql("SELECT count(*) FROM graft.db.v_even").head.getLong(0) == 6)
    // CREATE OR REPLACE redefines
    ext.sql("CREATE OR REPLACE VIEW graft.db.v_even AS " +
      "SELECT id FROM graft.db.vsrc WHERE flag = 1")
    assert(ext.sql("SELECT count(*) FROM graft.db.v_even").head.getLong(0) == 5)
    // ALTER VIEW properties round-trip (via the ViewCatalog surface —
    // SHOW TBLPROPERTIES is a table statement)
    ext.sql("ALTER VIEW graft.db.v_even SET TBLPROPERTIES ('note'='hot')")
    def viewProps: Map[String, String] = {
      org.apache.spark.sql.SparkSession.setActiveSession(ext)
      import scala.jdk.CollectionConverters._
      ext.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[graft.sql.GraftCatalog]
        .loadView(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("db"), "v_even")).properties().asScala.toMap
    }
    assert(viewProps.get("note").contains("hot"))
    ext.sql("ALTER VIEW graft.db.v_even UNSET TBLPROPERTIES ('note')")
    assert(!viewProps.contains("note"))
    // time travel over a view is refused loudly
    val ett = intercept[Exception] {
      ext.sql("SELECT * FROM graft.db.v_even VERSION AS OF 1").collect()
    }
    assert(ett.getMessage.contains("view"), ett.getMessage)
    // RENAME, then DROP
    ext.sql("ALTER VIEW graft.db.v_even RENAME TO graft.db.v_even2")
    assert(ext.sql("SELECT count(*) FROM graft.db.v_even2").head.getLong(0) == 5)
    intercept[Exception] { ext.sql("SELECT * FROM graft.db.v_even") }
    ext.sql("DROP VIEW graft.db.v_even2")
    intercept[Exception] { ext.sql("SELECT * FROM graft.db.v_even2") }
    // a view may not shadow a table — and vice versa
    val e = intercept[Exception] {
      ext.sql("CREATE VIEW graft.db.vsrc AS SELECT 1 AS x")
    }
    assert(e.getMessage.toLowerCase.contains("table"), e.getMessage)
    ext.sql("DROP VIEW IF EXISTS graft.db.v_shadow")
    ext.sql("CREATE VIEW graft.db.v_shadow AS SELECT 1 AS x")
    val e2 = intercept[Exception] {
      ext.sql("CREATE TABLE graft.db.v_shadow (y INT)")
    }
    assert(e2.getMessage.contains("VIEW"), e2.getMessage)
    ext.sql("DROP VIEW graft.db.v_shadow")
    // a malformed identity property is refused at SET time, not stored
    // as a deferred first-insert failure
    val e3 = intercept[Exception] {
      ext.sql("ALTER TABLE graft.db.vsrc SET TBLPROPERTIES" +
        "('graft.identity.id'='bogus')")
    }
    assert(e3.getMessage.contains("identity"), e3.getMessage)
  }

  test("view bodies bind to their CREATION context: relative names and CTEs") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.ctx_t")
    ext.sql("DROP VIEW IF EXISTS graft.db.v_ctx")
    ext.sql("CREATE TABLE graft.db.ctx_t AS SELECT id FROM range(10)")
    // create the view with graft.db as the CURRENT namespace and a body
    // using a RELATIVE table name inside a CTE — the SQL-standard
    // semantics bind both to the creation context, not the reader's
    val savedCat = ext.sessionState.catalogManager.currentCatalog.name()
    val savedNs = ext.sessionState.catalogManager.currentNamespace.toSeq
    try {
      ext.sql("USE graft.db")
      ext.sql("CREATE VIEW graft.db.v_ctx AS " +
        "WITH recent AS (SELECT id FROM ctx_t WHERE id >= 5) " +
        "SELECT count(*) AS n FROM recent")
    } finally
      ext.sql(s"USE $savedCat.${if (savedNs.isEmpty) "default" else savedNs.mkString(".")}")
    // the reader is in a DIFFERENT context; the relative name must still
    // resolve to graft.db.ctx_t, and the CTE must substitute (the
    // analyzer's substitution batch ran before the body was injected)
    assert(ext.sql("SELECT n FROM graft.db.v_ctx").head.getLong(0) == 5L)
  }

  test("MERGE WITH SCHEMA EVOLUTION: opted-in table grows the column, NULL backfill; others refuse") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.se")
    ext.sql("CREATE TABLE graft.db.se AS " +
      "SELECT id, cast(id * 2 AS INT) AS v FROM range(5)")
    // NOT opted in: the unknown column fails with Spark's own resolution
    // error (no silent evolution)
    intercept[Exception] {
      ext.sql("MERGE WITH SCHEMA EVOLUTION INTO graft.db.se t USING " +
        "(SELECT 100L AS id, 1 AS v, 'x' AS note) s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT (id, v, note) VALUES (s.id, s.v, s.note)")
    }
    assert(!ext.table("graft.db.se").columns.contains("note"))
    // opt in: the same merge evolves the schema through the metadata-only
    // ADD COLUMNS path, existing rows read the new column as NULL
    ext.sql("ALTER TABLE graft.db.se SET TBLPROPERTIES" +
      "('graft.merge.schemaEvolution'='true')")
    ext.sql("MERGE WITH SCHEMA EVOLUTION INTO graft.db.se t USING " +
      "(SELECT 100L AS id, 1 AS v, 'x' AS note) s ON t.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT (id, v, note) VALUES (s.id, s.v, s.note)")
    val rows = ext.sql(
      "SELECT id, v, note FROM graft.db.se ORDER BY id").collect()
    assert(rows.length == 6)
    assert(rows.take(5).forall(_.isNullAt(2)), "old rows must backfill NULL")
    assert(rows.last.getString(2) == "x" && rows.last.getLong(0) == 100L)
  }

  test("MERGE into an identity table: inserts get engine ids, updates keep theirs, ALWAYS refuses explicit") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.mid")
    ext.sql("CREATE TABLE graft.db.mid " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, k STRING, v INT)")
    ext.sql("INSERT INTO graft.db.mid VALUES (NULL, 'a', 1), (NULL, 'b', 2)")
    // CDC shape: source keyed on the natural key, no id column anywhere —
    // matched rows update and KEEP their ids; the insert gets a fresh one
    ext.sql("MERGE INTO graft.db.mid t USING " +
      "(SELECT * FROM VALUES ('a', 10), ('c', 30) AS s(k, v)) s " +
      "ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    val rows = ext.sql("SELECT id, k, v FROM graft.db.mid ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows.map(_._2).toSeq == Seq("a", "b", "c"))
    assert(rows(0) == ((1L, "a", 10)), rows(0)) // updated, id kept
    assert(rows(1) == ((2L, "b", 2)))
    val cId = rows(2)._1
    assert(cId > 2L, s"insert must get a fresh id, got $cId") // gaps OK
    assert(rows.map(_._1).distinct.length == 3)
    // the allocator advanced past the whole reserved range
    val dir = s"$lakeRoot/db/mid"
    assert(TxTable.identitySpecs(ext, dir)("id").next > cId)
    // GENERATED ALWAYS: an explicit id in the INSERT clause is refused
    val e = intercept[Exception] {
      ext.sql("MERGE INTO graft.db.mid t USING (SELECT 'z' AS k, 9 AS v) s " +
        "ON t.k = s.k WHEN NOT MATCHED THEN INSERT (id, k, v) " +
        "VALUES (99, s.k, s.v)")
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
    // and so is UPDATE SET of the id
    val e2 = intercept[Exception] {
      ext.sql("MERGE INTO graft.db.mid t USING (SELECT 'a' AS k) s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET id = 42")
    }
    assert(e2.getMessage.contains("identity"), e2.getMessage)
    // BY DEFAULT: explicit ids in a merge are accepted; allocator skips past
    ext.sql("DROP TABLE IF EXISTS graft.db.midd")
    ext.sql("CREATE TABLE graft.db.midd " +
      "(id BIGINT GENERATED BY DEFAULT AS IDENTITY, k STRING)")
    ext.sql("MERGE INTO graft.db.midd t USING " +
      "(SELECT 500L AS id, 'x' AS k) s ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT (id, k) VALUES (s.id, s.k)")
    assert(ext.sql("SELECT id FROM graft.db.midd").head.getLong(0) == 500L)
    assert(TxTable.identitySpecs(ext, s"$lakeRoot/db/midd")("id").next == 501L)
  }

  test("VACUUM/OPTIMIZE against a non-graft name falls through to the delegate parser") {
    // a single-part Delta-style target (or any non-graft catalog) must
    // reach the delegate untouched — Spark's own parse error, never the
    // graft rewrite's require
    val e = intercept[Exception] { ext.sql("VACUUM sometable") }
    assert(!e.getMessage.contains("graft catalog"), e.getMessage)
    val e2 = intercept[Exception] { ext.sql("OPTIMIZE sometable") }
    assert(!e2.getMessage.contains("graft catalog"), e2.getMessage)
  }

  test("CALL graft.system.zorder(incremental => true): only new files cluster per cycle") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    val sq = ext.sqlContext; import sq.implicits._
    (1 to 40).map(i => (i.toLong, (i * 7 % 40).toLong))
      .toDF("x", "y").repartition(3).createOrReplaceTempView("src_zi")
    ext.sql("DROP TABLE IF EXISTS graft.db.zi")
    ext.sql("CREATE TABLE graft.db.zi AS SELECT * FROM src_zi")
    val r1 = ext.sql(
      "CALL graft.system.zorder('db.zi', 'x,y', 4, incremental => true)")
      .head
    assert(r1.getInt(0) >= 1 && r1.getInt(1) == 4)
    val dir = s"$lakeRoot/db/zi"
    val afterFirst = TxTable.liveFilePaths(ext, dir).toSet
    // nothing new: (0, 0), no commit
    assert(ext.sql(
      "CALL graft.system.zorder('db.zi', 'x,y', 4, incremental => true)")
      .head.getInt(0) == 0)
    // new data: ONLY it clusters, the first pass's files never move
    ext.sql("INSERT INTO graft.db.zi SELECT id + 100, id FROM range(40)")
    val r2 = ext.sql(
      "CALL graft.system.zorder('db.zi', 'x,y', 4, incremental => true)")
      .head
    assert(r2.getInt(0) >= 1)
    assert(afterFirst.subsetOf(TxTable.liveFilePaths(ext, dir).toSet))
    assert(ext.sql("SELECT count(*) FROM graft.db.zi").head.getLong(0) == 80)
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES commits atomically; constraints arm") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    df(ext, 1 to 5, "a").createOrReplaceTempView("src_alter")
    ext.sql("CREATE TABLE graft.db.alt AS SELECT * FROM src_alter")
    val dir = s"$lakeRoot/db/alt"

    ext.sql("ALTER TABLE graft.db.alt SET TBLPROPERTIES" +
      "('team' = 'etl', 'constraint.pos' = 'score >= 0')")
    assert(TxTable.tableProperties(ext, dir).get("team").contains("etl"))
    // the constraint set through SQL is ENFORCED on the next SQL write
    val e = intercept[Exception] {
      ext.sql("INSERT INTO graft.db.alt VALUES (99, 'bad', -5.0)")
    }
    assert(e.getMessage.contains("constraint") ||
      Option(e.getCause).exists(_.getMessage.contains("constraint")),
      e.getMessage)
    assert(ext.sql("SELECT count(*) FROM graft.db.alt").head.getLong(0) == 5)

    ext.sql("ALTER TABLE graft.db.alt UNSET TBLPROPERTIES('constraint.pos')")
    ext.sql("INSERT INTO graft.db.alt VALUES (99, 'ok-now', -5.0)")
    assert(ext.sql("SELECT count(*) FROM graft.db.alt").head.getLong(0) == 6)
    // ADD/RENAME/DROP COLUMN are supported (evolution + column mapping);
    // a retype stays refused
    val e2 = intercept[Exception] {
      ext.sql("ALTER TABLE graft.db.alt ALTER COLUMN score TYPE STRING")
    }
    assert(e2.getMessage.toLowerCase.contains("not supported"), e2.getMessage)
  }

  test("dynamic INSERT OVERWRITE swaps exactly the query's partitions; untouched partitions' files never move") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.dyn")
    ext.sql("DROP TABLE IF EXISTS graft.dyn.pt")
    ext.sql("CREATE TABLE graft.dyn.pt PARTITIONED BY (bucket) AS " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS bucket " +
      "FROM range(1, 21)")
    val dir = s"$lakeRoot/dyn/pt"
    val oddBefore = TxTable.liveFilePaths(ext, dir)
      .filter(_.contains("bucket=odd")).sorted
    assert(oddBefore.nonEmpty)

    ext.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      ext.sql("INSERT OVERWRITE graft.dyn.pt " +
        "SELECT id * 100 AS id, 'even' AS bucket FROM range(1, 4)")
    } finally {
      ext.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    }
    val rows = ext.sql("SELECT bucket, count(*) AS n, sum(id) AS s " +
      "FROM graft.dyn.pt GROUP BY bucket").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // even: replaced by the 3 new rows (100+200+300); odd: 1,3,...,19 intact
    assert(rows("even") == ((3L, 600L)), rows.toString)
    assert(rows("odd") == ((10L, 100L)), rows.toString)
    // the odd partition's physical files are byte-identical — never restaged
    val oddAfter = TxTable.liveFilePaths(ext, dir)
      .filter(_.contains("bucket=odd")).sorted
    assert(oddAfter == oddBefore)
  }

  test("CALL graft.system.zorder rewrites into a layout that skips on BOTH dimensions through the SQL scan") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.maint")
    ext.sql("DROP TABLE IF EXISTS graft.maint.z")
    // x row-major, y column-major over a 32x32 grid: neither insertion
    // order nor a single-column sort clusters both
    ext.sql("CREATE TABLE graft.maint.z AS " +
      "SELECT CAST(id % 32 AS DOUBLE) AS x, CAST(id DIV 32 AS DOUBLE) AS y, " +
      "id FROM range(0, 1024)")
    val sumBefore = ext.sql("SELECT sum(id) AS s FROM graft.maint.z")
      .head.getLong(0)

    val res = ext.sql("CALL graft.system.zorder('maint.z', 'x,y', 16)")
      .collect()
    assert(res.length == 1)
    assert(res.head.getInt(1) == 16, res.toSeq.toString) // files_after

    // the rewrite is a permutation — nothing lost, nothing invented
    assert(ext.sql("SELECT sum(id) AS s FROM graft.maint.z")
      .head.getLong(0) == sumBefore)
    assert(ext.sql("SELECT count(*) AS n FROM graft.maint.z")
      .head.getLong(0) == 1024)

    // range predicates on EITHER dimension prune files at the log level
    val qx = ext.sql("SELECT id FROM graft.maint.z WHERE x < 4.0")
    val qy = ext.sql("SELECT id FROM graft.maint.z WHERE y < 4.0")
    assert(scannedFiles(qx) < 16, s"x-range scanned ${scannedFiles(qx)}/16")
    assert(scannedFiles(qy) < 16, s"y-range scanned ${scannedFiles(qy)}/16")
    assert(qx.count() == 128 && qy.count() == 128)

    // a partitioned table clusters WITHIN its fragments (never silently
    // flattened): the layout survives and partition pruning stays intact;
    // z-ordering ON the partition column itself is refused
    ext.sql("DROP TABLE IF EXISTS graft.maint.zp")
    ext.sql("CREATE TABLE graft.maint.zp PARTITIONED BY (p) AS " +
      "SELECT id, id * 3 AS w, CAST(id % 2 AS STRING) AS p FROM range(0, 10)")
    ext.sql("CALL graft.system.zorder('maint.zp', 'id,w', 4)").collect()
    assert(TxTable.liveEntriesForSql(ext, s"$lakeRoot/maint/zp", None)
      .flatMap(_.part).forall(_.startsWith("p=")))
    assert(ext.sql("SELECT count(*) FROM graft.maint.zp WHERE p = '1'")
      .head.getLong(0) == 5)
    val e = intercept[Exception] {
      ext.sql("CALL graft.system.zorder('maint.zp', 'p,id', 4)").collect()
    }
    assert(e.getMessage.contains("partition column"), e.getMessage)

    // three dimensions: every listed column's range predicate prunes
    ext.sql("DROP TABLE IF EXISTS graft.maint.z3")
    ext.sql("CREATE TABLE graft.maint.z3 AS " +
      "SELECT CAST(id % 8 AS DOUBLE) AS x, CAST((id DIV 8) % 8 AS DOUBLE) AS y, " +
      "CAST(id DIV 64 AS DOUBLE) AS z, id FROM range(0, 512)")
    val r3 = ext.sql("CALL graft.system.zorder('maint.z3', 'x,y,z', 8)")
      .collect()
    assert(r3.head.getInt(1) == 8, r3.toSeq.toString)
    for (c <- Seq("x", "y", "z")) {
      val q = ext.sql(s"SELECT id FROM graft.maint.z3 WHERE $c < 2.0")
      assert(scannedFiles(q) < 8, s"$c-range scanned ${scannedFiles(q)}/8")
      assert(q.count() == 128)
    }
  }

  test("graft_files lists the live layout with bytes and per-column envelopes; version arg time-travels") {
    val dir = tmpDir("tvf-files")
    TxTable.append(ext, dir, df(ext, 1 to 50, "a"))
    TxTable.append(ext, dir, df(ext, 51 to 80, "b"))

    val rows = ext.sql(s"SELECT * FROM graft_files('$dir')").collect()
    assert(rows.length == TxTable.liveFilePaths(ext, dir).size)
    assert(rows.length == 2) // repartition(1) per append
    assert(rows.forall(_.getLong(2) > 0)) // bytes
    assert(rows.forall(_.isNullAt(1)))    // unpartitioned
    assert(rows.forall(r => r.getMap[String, String](3).contains("id") &&
      r.getMap[String, String](4).contains("id")))

    // the envelopes are the ones the skipping layer uses — disjoint id
    // ranges across the two files
    val ranges = rows.map(r => (r.getMap[String, String](3)("id").toDouble,
      r.getMap[String, String](4)("id").toDouble)).sortBy(_._1)
    assert(ranges.head._2 < ranges.last._1, ranges.toSeq.toString)

    val v1 = ext.sql(s"SELECT * FROM graft_files('$dir', 1)").collect()
    assert(v1.length == 1)
  }

  test("DESCRIBE TABLE and SHOW TBLPROPERTIES serve the consumer surface") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.meta")
    ext.sql("DROP TABLE IF EXISTS graft.meta.d")
    ext.sql("CREATE TABLE graft.meta.d AS SELECT 1L AS id, 'x' AS name")
    ext.sql("ALTER TABLE graft.meta.d SET TBLPROPERTIES('owner.team'='etl')")

    // SHOW CREATE TABLE reconstructs the DDL from the V2 descriptor
    val ddl = ext.sql("SHOW CREATE TABLE graft.meta.d").head.getString(0)
    assert(ddl.startsWith("CREATE TABLE graft.meta.d") &&
      ddl.contains("id BIGINT") && ddl.contains("name STRING") &&
      ddl.contains("'owner.team' = 'etl'"), ddl)

    val desc = ext.sql("DESCRIBE TABLE graft.meta.d").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.get("id").contains("bigint") &&
      desc.get("name").contains("string"), desc.toString)

    val props = ext.sql("SHOW TBLPROPERTIES graft.meta.d").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props.get("owner.team").contains("etl"), props.toString)
  }

  test("concurrent SQL INSERTs from racing threads both land (append commits are conflict-free)") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.race")
    ext.sql("DROP TABLE IF EXISTS graft.race.t")
    ext.sql("CREATE TABLE graft.race.t AS SELECT id FROM range(0, 10)")
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(4)
    val gate = new CountDownLatch(1)
    val futures = (0 until 4).map { i =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          gate.await(30, TimeUnit.SECONDS)
          ext.sql("INSERT INTO graft.race.t " +
            s"SELECT id FROM range(${100 * (i + 1)}, ${100 * (i + 1) + 10})")
          ()
        }
      })
    }
    gate.countDown()
    futures.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    // all four appends landed on top of the seed — nothing lost to a race
    assert(ext.sql("SELECT count(*) AS n FROM graft.race.t")
      .head.getLong(0) == 50)
    assert(TxTable.headVersion(ext, s"$lakeRoot/race/t").contains(5L))
  }

  test("mixed partitioned/unpartitioned layout is refused loudly for SQL") {
    val dir = tmpDir("mixed")
    TxTable.append(ext, dir, df(ext, 1 to 5, "a"))
    TxTable.append(ext, dir,
      df(ext, 6 to 10, "b").withColumn("bucket", lit(1L)), Seq("bucket"))
    val e = intercept[IllegalArgumentException] {
      ext.read.format("graft").load(dir).count()
    }
    assert(e.getMessage.contains("mixes partition layouts"))
  }

  test("generated-column derivation never fires for a DATE-typed source: raw date predicates scan all fragments and return the right rows") {
    // year(order_date) with order_date DATE is legal DDL, but derivation
    // interprets predicate bounds as TIMESTAMP micros — day numbers read
    // as microseconds would derive year 1970 and prune every live
    // fragment (silently zero rows). The guard skips derivation for
    // non-TIMESTAMP sources; correctness first, pruning never.
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.gdate")
    ext.sql("CREATE TABLE graft.db.gdate (" +
      "d DATE, v INT, yr INT GENERATED ALWAYS AS (year(d))) " +
      "PARTITIONED BY (yr)")
    ext.sql("INSERT INTO graft.db.gdate (d, v) VALUES " +
      "(DATE'2021-06-01', 1), (DATE'2022-06-01', 2), " +
      "(DATE'2023-06-01', 3), (DATE'2024-06-01', 4)")
    val q = ext.sql("SELECT v FROM graft.db.gdate WHERE d BETWEEN " +
      "DATE'2022-01-01' AND DATE'2023-12-31'")
    // the bug scenario derives year 1970, prunes EVERY fragment, and
    // returns zero rows — correct values are the fix's evidence. (The
    // matching fragments may still be the ONLY ones scanned: per-file
    // min/max stats on d itself prune the other two, legitimately.)
    assert(q.collect().map(_.getInt(0)).toSet == Set(2, 3))
    assert(scannedFiles(q) >= 2, s"scanned ${scannedFiles(q)} of 4")
    val qp = ext.sql("SELECT v FROM graft.db.gdate WHERE yr = 2022")
    assert(scannedFiles(qp) == 1 && qp.head.getInt(0) == 2)
  }

  test("graft.bucket cannot be re-declared over live files; declaring it on an empty table is fine") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.bchg")
    ext.sql("CREATE TABLE graft.db.bchg PARTITIONED BY (bucket(4, k)) AS " +
      "SELECT id AS k, id * 2 AS v FROM range(100)")
    // changing N (or the column) over live files would make recorded
    // bucket ids and _NNNNN suffixes lies: refused loudly
    val e = intercept[Exception] {
      ext.sql("ALTER TABLE graft.db.bchg SET TBLPROPERTIES" +
        "('graft.bucket'='8:k')")
    }
    assert(e.getMessage.contains("graft.bucket"), e.getMessage)
    // re-declaring the SAME spec is a no-op, not a refusal
    ext.sql("ALTER TABLE graft.db.bchg SET TBLPROPERTIES" +
      "('graft.bucket'='4:k')")
    // an EMPTY table has no file that could disagree: declaring is legal
    // and the first write lands bucketed under the new spec
    ext.sql("DROP TABLE IF EXISTS graft.db.bdecl")
    ext.sql("CREATE TABLE graft.db.bdecl (k BIGINT, v BIGINT)")
    ext.sql("ALTER TABLE graft.db.bdecl SET TBLPROPERTIES" +
      "('graft.bucket'='4:k')")
    ext.sql("INSERT INTO graft.db.bdecl SELECT id, id * 2 FROM range(100)")
    assert(ext.sql("SELECT count(*) FROM graft.db.bdecl WHERE k = 7")
      .head.getLong(0) == 1)
    val pointScan = scannedFiles(
      ext.sql("SELECT v FROM graft.db.bdecl WHERE k = 7"))
    val total = TxTable.liveFilePaths(ext, s"$lakeRoot/db/bdecl").size
    assert(pointScan < total, s"point lookup scanned $pointScan of $total")
  }

  test("CREATE TABLE with '@' in the name refuses: branches come from create_branch, never CREATE") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    val e = intercept[Exception] {
      ext.sql("CREATE TABLE graft.db.`t@fab` (id BIGINT)")
    }
    assert(e.getMessage.contains("branch"), e.getMessage)
    val e2 = intercept[Exception] {
      ext.sql("CREATE TABLE graft.db.`t2@fab` AS SELECT id FROM range(5)")
    }
    assert(e2.getMessage.contains("branch"), e2.getMessage)
  }

  test("MERGE fills column DEFAULTs on the insert slice; update slices never see them") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.mdef")
    ext.sql("CREATE TABLE graft.db.mdef (" +
      "k BIGINT, price DOUBLE, status STRING DEFAULT 'new', " +
      "note STRING DEFAULT 'n/a')")
    ext.sql("INSERT INTO graft.db.mdef (k, price, status, note) VALUES " +
      "(1, 10.0, 'old', 'kept'), (2, 20.0, 'old', 'kept')")
    // source: k=2 matches (update), k=3 is new (insert omits status+note)
    ext.sql("""MERGE INTO graft.db.mdef t USING (
                 SELECT * FROM VALUES (2L, 200.0), (3L, 300.0) AS s(k, price)) s
               ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET price = s.price, note = 'upd'
               WHEN NOT MATCHED THEN INSERT (k, price) VALUES (s.k, s.price)""")
    val rows = ext.sql(
      "SELECT k, price, status, note FROM graft.db.mdef ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getString(3))).toSeq
    assert(rows == Seq(
      // untouched row keeps its values
      (1L, 10.0, "old", "kept"),
      // matched row: price + note updated, status untouched (never 'new')
      (2L, 200.0, "old", "upd"),
      // inserted row: omitted columns land their CURRENT defaults —
      // status via the (None, None) path, note via the divergent
      // (UPDATE-sets-it, INSERT-omits-it) path
      (3L, 300.0, "new", "n/a")), rows.toString)
    // a table with NO defaults keeps standard MERGE NULL padding
    ext.sql("DROP TABLE IF EXISTS graft.db.mnodef")
    ext.sql("CREATE TABLE graft.db.mnodef (k BIGINT, price DOUBLE, tag STRING)")
    ext.sql("INSERT INTO graft.db.mnodef VALUES (1, 1.0, 't')")
    ext.sql("""MERGE INTO graft.db.mnodef t USING (
                 SELECT 2L AS k, 2.0 AS price) s ON t.k = s.k
               WHEN NOT MATCHED THEN INSERT (k, price) VALUES (s.k, s.price)""")
    assert(ext.sql("SELECT tag FROM graft.db.mnodef WHERE k = 2")
      .head.isNullAt(0))
  }

  test("CONVERT refuses a legacy data/ subdir holding parquet; a many-file adoption goes through the distributed footer scan intact") {
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    val sq = ext.sqlContext; import sq.implicits._
    // (a) a pre-existing NON-ENGINE data/ subdir with parquet: adopting
    // around it would silently drop those rows — must refuse loudly
    val bad = s"$lakeRoot/db/legacy_datadir"
    val badP = new org.apache.hadoop.fs.Path(bad)
    val fs = badP.getFileSystem(ext.sparkContext.hadoopConfiguration)
    fs.delete(badP, true)
    (1 to 10).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
      .repartition(1).write.parquet(s"$bad/data")
    val e = intercept[Exception] {
      ext.sql("CONVERT TO GRAFT graft.db.legacy_datadir")
    }
    assert(e.getMessage.contains("data"), e.getMessage)
    fs.delete(badP, true)
    // (b) > 64 files routes the footer reads through a Spark job (one
    // task per ~64 files) — adoption must be behavior-identical: same
    // rows, stats present (range skipping works)
    val many = s"$lakeRoot/db/legacy_many"
    fs.delete(new org.apache.hadoop.fs.Path(many), true)
    (1 to 200).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
      .repartition(70, col("k")).write.parquet(many)
    val pre = ext.read.parquet(many).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    ext.sql("DROP TABLE IF EXISTS graft.db.legacy_many")
    val adopted = ext.sql("CONVERT TO GRAFT graft.db.legacy_many")
      .head.getInt(0)
    // hash-partitioning 200 keys over 70 writers leaves a few empty
    // partitions (no file): anything above the 64-file threshold proves
    // the distributed path ran
    assert(adopted > 64 && adopted <= 70, s"adopted=$adopted")
    assert(ext.sql("SELECT k, v FROM graft.db.legacy_many").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet == pre)
    // footer stats arrived through the distributed path: a point range
    // prunes most of the 70 files
    val kept = TxTable.readSkipping(ext, many, "k", 5L, 5L).get
    assert(kept.count() < 200 && kept.filter(col("k") === 5L).count() == 1)
  }
}
